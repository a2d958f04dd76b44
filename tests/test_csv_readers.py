"""Raw-CSV reader contracts: `pipeline.football.read_csv_with_order`
and `sources.csv_utils.read_two_row_header_csv` are Spark's own CSV
scan, so every check here runs with a split size small enough that
one file spans several scan partitions."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from etl_football_analytics_pipeline_spark.pipeline.football import read_csv_with_order
from etl_football_analytics_pipeline_spark.sources.csv_utils import read_two_row_header_csv

SPLIT = "2k"


@contextmanager
def small_splits(spark, size: str = SPLIT):
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, size)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _data_lines(n: int = 600) -> list[str]:
    """Line i: `i,name<i>,<val>` — every 7th val empty, every 11th row
    short (no val field), every 97th row a copy of the header."""
    out = []
    for i in range(n):
        if i % 97 == 50:
            out.append("id,name,val")
        elif i % 11 == 3:
            out.append(f"{i},name{i}")
        else:
            out.append(f"{i},name{i},{'' if i % 7 == 0 else i * 2}")
    return out


def _expected(lines: list[str]) -> list[tuple]:
    rows = []
    for line in lines:
        f = line.split(",")
        f += [None] * (3 - len(f))
        rows.append(tuple(v if v != "" else None for v in f))
    return rows


def test_read_csv_with_order_follows_file_order_across_splits(spark, tmp_path):
    lines = _data_lines()
    path = tmp_path / "ordered.csv"
    path.write_text("\n".join(["id,name,val", *lines]) + "\n")
    with small_splits(spark):
        df = read_csv_with_order(spark, str(path))
        assert df.columns == ["id", "name", "val", "__row"]
        assert df.rdd.getNumPartitions() > 1
        got = df.orderBy("__row").collect()
    # __row order is file line order; ids are unique
    assert len({r["__row"] for r in got}) == len(got)
    assert [tuple(r)[:3] for r in got] == _expected(lines)
    by_id = {r["id"]: r for r in got}
    assert by_id["7"]["val"] is None  # empty field reads as NULL
    assert by_id["21"]["name"] == "name21" and by_id["21"]["val"] is None
    assert by_id["3"]["val"] is None and by_id["3"]["name"] == "name3"  # short row padded
    # embedded header rows stay as data, in place
    assert [i for i, r in enumerate(got) if r["id"] == "id"] == [
        i for i, line in enumerate(lines) if line == "id,name,val"
    ]


def test_read_csv_with_order_dedupes_like_flattened_headers(spark, tmp_path):
    """`a,a,a_1` must not produce two `a_1` columns (AMBIGUOUS_REFERENCE
    on every select); the rule is `flatten_header_levels`'."""
    path = tmp_path / "dup.csv"
    path.write_text("a,a,a_1\n1,2,3\n")
    df = read_csv_with_order(spark, str(path))
    assert df.columns == ["a", "a_1", "a_1_1", "__row"]
    assert tuple(df.select("a", "a_1", "a_1_1").first()) == ("1", "2", "3")


def _rdd_two_row_reader(spark, path: str, names: list[str]):
    """The Python-RDD form `read_two_row_header_csv` replaced: number
    the lines, drop the first two, parse the rest with Spark's CSV
    parser — the oracle for the scan-based reader."""
    data = (
        spark.sparkContext.textFile(path)
        .zipWithIndex()
        .filter(lambda pair: pair[1] >= 2)
        .map(lambda pair: pair[0])
    )
    schema = ", ".join(f"`{n}` string" for n in names)
    return spark.read.schema(schema).csv(data)


def test_two_row_header_reader_matches_line_indexed_form(spark, tmp_path):
    lines = _data_lines()
    path = tmp_path / "two_row.csv"
    # level 0 repeated inside the data must stay a data row too
    path.write_text(
        "\n".join(["Perf,Perf,Unnamed: 2", "id,name,val", *lines, "Perf,Perf,Unnamed: 2"]) + "\n"
    )
    with small_splits(spark):
        df = read_two_row_header_csv(spark, str(path))
        assert df.columns == ["Perf_id", "Perf_name", "val"]
        assert df.rdd.getNumPartitions() > 1
        got = sorted(map(tuple, df.collect()), key=repr)
        want = sorted(
            map(tuple, _rdd_two_row_reader(spark, str(path), df.columns).collect()), key=repr
        )
    assert got == want
    assert len(got) == len(lines) + 1
    assert ("Perf", "Perf", "Unnamed: 2") in got
    assert sorted(_expected(lines) + [("Perf", "Perf", "Unnamed: 2")], key=repr) == got


def test_two_row_header_reader_with_split_below_first_header_line(spark, tmp_path):
    """A split no longer than the first header line puts the second
    header line in a later scan partition; it must still be dropped,
    and a data row repeating it must stay."""
    level0 = ",".join(f"Performance group {i} with a long name" for i in range(3))
    lines = _data_lines(200)
    path = tmp_path / "long_header.csv"
    path.write_text("\n".join([level0, "id,name,val", *lines, "id,name,val"]) + "\n")
    with small_splits(spark, str(len(level0) // 2)):
        df = read_two_row_header_csv(spark, str(path))
        assert df.columns == [f"Performance group {i} with a long name_{c}"
                              for i, c in enumerate(["id", "name", "val"])]
        assert df.rdd.getNumPartitions() > 1
        got = sorted(map(tuple, df.collect()), key=repr)
        want = sorted(
            map(tuple, _rdd_two_row_reader(spark, str(path), df.columns).collect()), key=repr
        )
    assert got == want
    assert got == sorted(_expected(lines) + [("id", "name", "val")], key=repr)


@pytest.mark.parametrize("sep", [";", "\t"])
def test_two_row_header_reader_honours_sep(spark, tmp_path, sep):
    path = tmp_path / "sep.csv"
    path.write_text(sep.join(["A", "A"]) + "\n" + sep.join(["x", "y"]) + "\n"
                    + sep.join(["1", "2"]) + "\n")
    df = read_two_row_header_csv(spark, str(path), sep=sep)
    assert df.columns == ["A_x", "A_y"]
    assert df.collect() == [("1", "2")]
