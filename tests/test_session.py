"""session.get_spark on a running SparkContext: confs that cannot take
effect are refused by name instead of dropped silently."""

from __future__ import annotations

import pytest

from etl_football_analytics_pipeline_spark.session import get_spark


def _again(extra_conf):
    # the conftest session's own arguments, so the builder re-applies
    # nothing but `extra_conf` to the shared session
    return get_spark(
        app_name="engine-tests", master="local[4]", shuffle_partitions=4,
        extra_conf=extra_conf,
    )


def test_static_conf_on_running_context_raises(spark):
    with pytest.raises(RuntimeError, match="spark.eventLog.enabled"):
        _again({"spark.eventLog.enabled": "true"})


def test_confs_the_running_session_holds_pass(spark):
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    assert _again({"spark.sql.shuffle.partitions": shuffle}) is spark
    # a core conf already at the requested value is held too
    assert _again({"spark.ui.enabled": "false"}) is spark
