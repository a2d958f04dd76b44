"""Seeded generator for the football pipeline's raw CSV layer.

Models one league as its weekly scrape sees it: `PRIOR_SEASONS`
completed seasons plus the current season played through matchweek
`week`, with the next matchweek's fixtures listed but unplayed. The
shape follows the reference warehouse (FIXTURES.md §B: six seasons of
one 20-team league, more teams in the dimension seed than in any one
season): each season the bottom `SWAPS` teams of the final table go
down and `SWAPS` teams from outside the league come up, so a season or
team filter selects part of the history. `write(raw_dir,
week)` writes the six raw files `pipeline.football.run_pipeline` reads
and returns the row count each warehouse table must hold once that
state is loaded and the dirty rows are dropped.

Dirty traits (FIXTURES.md §A): Q-prefixed ids and alias headers in the
dimension seeds, embedded header rows, malformed and literal-"capacity"
stadium rows, team-name variants on the fact side, NULL results for
unplayed fixtures, "YYYY-MM-DD 00:00:00" dates, `"1."`/`"1.0"` ranks,
players present only in match stats, and fact rows whose team or game
matches no dimension row.

A later week only appends matches and corrects dimension attributes in
place (founding years, capacities, player positions), so the ids the
pipeline assigns stay stable from one week to the next. Everything is
a pure function of the seed and the week: the same arguments give
byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

# (raw dim_team name, dashboard team_name, fact-side spellings, standings name)
TEAMS = [
    ("Arsenal F.C.", "Arsenal", ["Arsenal"], "Arsenal"),
    ("Aston Villa F.C.", "Aston Villa", ["Aston Villa"], "Aston Villa"),
    ("AFC Bournemouth", "Bournemouth", ["Bournemouth"], "Bournemouth"),
    ("Brentford F.C.", "Brentford", ["Brentford"], "Brentford"),
    ("Brighton & Hove Albion F.C.", "Brighton", ["Brighton", "Brighton & Hove Albion"], "Brighton"),
    ("Chelsea F.C.", "Chelsea", ["Chelsea"], "Chelsea"),
    ("Crystal Palace F.C.", "Crystal Palace", ["Crystal Palace"], "Crystal Palace"),
    ("Everton F.C.", "Everton", ["Everton"], "Everton"),
    ("Fulham F.C.", "Fulham", ["Fulham"], "Fulham"),
    ("Ipswich Town F.C.", "Ipswich Town", ["Ipswich Town"], "Ipswich"),
    ("Leicester City F.C.", "Leicester City", ["Leicester City"], "Leicester"),
    ("Liverpool F.C.", "Liverpool", ["Liverpool"], "Liverpool"),
    ("Manchester City F.C.", "Manchester City", ["Manchester City"], "Manchester City"),
    ("Manchester United F.C.", "Manchester Utd", ["Manchester Utd", "Manchester United"], "Manchester Utd"),
    ("Newcastle United F.C.", "Newcastle Utd", ["Newcastle Utd", "Newcastle United"], "Newcastle"),
    ("Nottingham Forest F.C.", "Nott'Ham Forest", ["Nott'ham Forest", "Nottingham Forest"], "Nottingham"),
    ("Southampton F.C.", "Southampton", ["Southampton"], "Southampton"),
    ("Tottenham Hotspur F.C.", "Tottenham", ["Tottenham", "Tottenham Hotspur"], "Tottenham"),
    ("West Ham United F.C.", "West Ham", ["West Ham", "West Ham United"], "West Ham"),
    ("Wolverhampton Wanderers F.C.", "Wolves", ["Wolves", "Wolverhampton Wanderers"], "Wolves"),
    ("Burnley F.C.", "Burnley", ["Burnley"], "Burnley"),
    ("Leeds United F.C.", "Leeds United", ["Leeds United"], "Leeds"),
    ("Luton Town F.C.", "Luton Town", ["Luton Town"], "Luton"),
    ("Sheffield United F.C.", "Sheffield Utd", ["Sheffield Utd", "Sheffield United"], "Sheffield Utd"),
    ("Norwich City F.C.", "Norwich City", ["Norwich City"], "Norwich"),
    ("Watford F.C.", "Watford", ["Watford"], "Watford"),
    ("West Bromwich Albion F.C.", "West Brom", ["West Brom", "West Bromwich Albion"], "West Brom"),
    ("Middlesbrough F.C.", "Middlesbrough", ["Middlesbrough"], "Middlesbrough"),
]
LEAGUE_SIZE = 20  # teams in the league each season
SWAPS = 3  # teams relegated (and promoted) after each season
WEEKS = 2 * (LEAGUE_SIZE - 1)
GAMES_PER_WEEK = LEAGUE_SIZE // 2
PRIOR_SEASONS = 2  # completed seasons before the current one
FIRST_YEAR = 2019
SQUAD = 22  # players per team in the season stats
PER_SIDE = 14  # players per team per match
EXTRAS = 10  # players who appear only in match stats

_FIRST = (
    "Martin Bukayo Kai Declan Jürgen Søren Ángel Luka Mateo Oliver Noah Elias "
    "Théo Jonas Mikel Ivan Rúben Emil Lucas Hugo Nico Tomás Björn Karim Dani "
    "Joško Bruno Rasmus Youri Ádám"
).split()
_LAST = (
    "Ødegaard Saka Silva Müller Rice Havertz Núñez Gvardiol Kovačić Dias Gómez "
    "Jensen Hernández Martínez Eriksen Szoboszlai Højlund Alves Dubois Nakamura "
    "Petrović Lindqvist Costa Moreau Fernandes Schmidt Novak Hansen Rossi Wójcik"
).split()
_POSITIONS = ["GK", "DF", "DF", "DF", "MF", "MF", "MF", "FW", "FW", "DF,MF", "FW,MF"]
_FORMATIONS = ["4-3-3", "4-2-3-1", "3-4-3", "4-4-2", "3-5-2"]
_DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]

_PLAYER_STAT_COLS = [
    "Performance_Gls", "Performance_Ast", "Performance_PK", "Performance_PKatt",
    "Performance_Sh", "Performance_SoT", "Performance_CrdY", "Performance_CrdR",
    "Performance_Touches", "Performance_Tkl", "Performance_Int", "Performance_Blocks",
    "Expected_xG", "Expected_xAG", "SCA_SCA", "SCA_GCA", "Passes_Cmp", "Passes_Att",
    "Passes_Cmp%", "Passes_PrgP", "Carries_Carries", "Carries_PrgC",
    "Take-Ons_Att", "Take-Ons_Succ",
]
_TEAM_MATCH_COLS = [
    "league", "season", "team", "opponent", "game", "date", "time", "round", "day",
    "venue", "result", "GF", "GA", "xG", "xGA", "Poss", "Attendance", "Captain",
    "Formation", "Opp Formation", "Referee", "match_report", "Notes",
]
_POINT_COLS = ["season_id", "Match_Category", "Rank", "Team", "MP", "W", "D", "L",
               "GF:GA", "GD", "Pts", "Recent_Form"]


def _write(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


class League:
    """The whole league history for one seed; `write` snapshots it."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seasons = [FIRST_YEAR + i for i in range(PRIOR_SEASONS + 1)]
        names = self.rng.sample([f"{a} {b}" for a in _FIRST for b in _LAST],
                                len(TEAMS) * SQUAD + EXTRAS)
        self.squads = [names[i * SQUAD:(i + 1) * SQUAD] for i in range(len(TEAMS))]
        self.extras = names[len(TEAMS) * SQUAD:]
        self.player_info = {
            p: (self.rng.choice(["ENG", "FRA", "ESP", "BRA", "NOR", "DEN", "GER"]),
                self.rng.choice(_POSITIONS),
                "" if self.rng.random() < 0.05 else str(self.rng.randint(1988, 2006)))
            for p in names
        }
        self.founded = [self.rng.randint(1870, 1905) for _ in TEAMS]
        self.capacity = [self.rng.randint(11000, 75000) for _ in TEAMS]
        members = sorted(self.rng.sample(range(len(TEAMS)), LEAGUE_SIZE))
        self.members: dict[int, list[int]] = {}
        self.games: dict[int, list[list[dict]]] = {}
        for s in self.seasons:
            self.members[s] = members
            self.games[s] = self._season(s, members)
            table = _standings([g for week in self.games[s] for g in week], members, "overall")
            down = set(table[-SWAPS:])
            outside = [t for t in range(len(TEAMS)) if t not in members and t not in down]
            members = sorted((set(members) - down) | set(self.rng.sample(outside, SWAPS)))
        # every match-only player appears in the first matchweek, so no
        # later week adds a player (which would shift player ids)
        first = self.games[self.seasons[0]][0]
        sides = [(g, t) for g in first for t in (g["home"], g["away"])]
        for extra, (g, t) in zip(self.extras, sides, strict=False):
            g["lines"][t][-1] = (extra, g["lines"][t][-1][1])

    # -- history ---------------------------------------------------------

    def _season(self, year: int, members: list[int]) -> list[list[dict]]:
        """Matchweeks of one season: a double round robin of `members`,
        each game with its result and per-player lines drawn up front."""
        n = len(members)
        order = list(members)
        self.rng.shuffle(order)
        rounds = []
        for r in range(n - 1):  # circle method
            pairs = [(order[i], order[n - 1 - i]) for i in range(n // 2)]
            rounds.append([(a, b) if r % 2 == 0 else (b, a) for a, b in pairs])
            order = [order[0]] + [order[-1]] + order[1:-1]
        rounds += [[(b, a) for a, b in rnd] for rnd in rounds]
        start = dt.date(year, 8, 5)
        weeks = []
        for w, rnd in enumerate(rounds, start=1):
            day = start + dt.timedelta(days=7 * (w - 1))
            week = []
            for k, (h, a) in enumerate(rnd):
                date = day + dt.timedelta(days=k % 2)
                gf, ga = self.rng.randint(0, 4), self.rng.randint(0, 3)
                week.append({
                    "home": h, "away": a, "date": date, "gf": gf, "ga": ga,
                    "game": f"{date.isoformat()} {TEAMS[h][1]}-{TEAMS[a][1]}",
                    "lines": {side: self._lines(side) for side in (h, a)},
                    "xg": (round(self.rng.uniform(0.2, 3.5), 1), round(self.rng.uniform(0.2, 3.0), 1)),
                    "poss": self.rng.randint(30, 70),
                    "att": self.rng.randint(10000, 75000),
                    "variant": (self.rng.random(), self.rng.random()),
                })
            weeks.append(week)
        return weeks

    def _lines(self, team: int) -> list[tuple[str, list]]:
        players = self.rng.sample(self.squads[team], PER_SIDE)
        if self.rng.random() < 0.15:
            players[-1] = self.rng.choice(self.extras)
        out = []
        for i, p in enumerate(players):
            minutes = 90 if i < 11 else self.rng.randint(1, 30)
            cmp_, att = self.rng.randint(5, 60), self.rng.randint(60, 80)
            stats = [self.rng.randint(0, 1), self.rng.randint(0, 1), 0, 0,
                     self.rng.randint(0, 4), self.rng.randint(0, 2), self.rng.randint(0, 1), 0,
                     self.rng.randint(10, 90), self.rng.randint(0, 5), self.rng.randint(0, 3),
                     self.rng.randint(0, 2), round(self.rng.uniform(0, 0.9), 2),
                     round(self.rng.uniform(0, 0.5), 2), self.rng.randint(0, 5),
                     self.rng.randint(0, 1), cmp_, att, round(100.0 * cmp_ / att, 1),
                     self.rng.randint(0, 8), self.rng.randint(0, 40), self.rng.randint(0, 6),
                     self.rng.randint(0, 4), self.rng.randint(0, 2)]
            out.append((p, [minutes] + stats))
        return out

    def _played(self, week: int) -> list[tuple[int, int, dict]]:
        """(season, matchweek, game) of every game played by `week` of
        the current season, in file order."""
        out = []
        for s in self.seasons:
            last = WEEKS if s != self.seasons[-1] else week
            for w in range(1, last + 1):
                out += [(s, w, g) for g in self.games[s][w - 1]]
        return out

    # -- snapshot ----------------------------------------------------------

    def teams_in(self, season: int) -> list[str]:
        """Dashboard names of the teams in the league in `season`."""
        return [TEAMS[t][1] for t in self.members[season]]

    def _corrected(self, week: int, index: int) -> bool:
        """Dimension row `index` has been corrected by matchweek `week`
        (one team, stadium and player fix per week from week 1 on)."""
        return any(w % len(TEAMS) == index for w in range(1, week + 1))

    def write(self, raw_dir: str, week: int) -> dict[str, int]:
        """Write the raw layer as scraped after matchweek `week` of the
        current season; return the expected warehouse row counts."""
        if not 1 <= week < WEEKS:
            raise ValueError(f"week must be in [1, {WEEKS - 1}], got {week}")
        os.makedirs(raw_dir, exist_ok=True)
        played = self._played(week)
        current = self.seasons[-1]
        fixtures = [(current, week + 1, g) for g in self.games[current][week]]

        team_rows, player_rows = [], []
        for s, w, g in played + fixtures:
            done = (s, w) != (current, week + 1)
            team_rows += self._team_match_rows(s, w, g, done)
            if done:
                player_rows += self._player_match_rows(s, g)
        # fact rows whose team or game matches no dimension row
        s, w, g = played[-1]
        bad = self._player_match_rows(s, g)[:2]
        bad[0][2] = "No Such Team"
        bad[1][1] = f"{g['date'].isoformat()} Nowhere-Elsewhere"
        player_rows += bad

        _write(os.path.join(raw_dir, "fbref_fact_team_match.csv"), _TEAM_MATCH_COLS, team_rows)
        _write(os.path.join(raw_dir, "fbref_fact_player_match_stats.csv"),
               ["season", "game", "team", "player", "nation", "pos", "min"] + _PLAYER_STAT_COLS,
               player_rows)
        self._write_season_stats(raw_dir, week)
        self._write_dim_team(raw_dir, week)
        self._write_dim_stadium(raw_dir, week)
        n_points = self._write_team_point(raw_dir, played)

        n_games = len(played) + len(fixtures)
        ever = set().union(*self.members.values())
        return {
            "dim_team": len(TEAMS),
            "dim_stadium": len(TEAMS),
            "dim_season": len(self.seasons),
            "dim_match": n_games,
            "dim_player": SQUAD * len(ever) + EXTRAS,
            "fact_team_match": 2 * len(played),
            "fact_player_match": len(player_rows) - len(bad),
            "fact_team_point": n_points,
        }

    def _team_match_rows(self, season: int, w: int, g: dict, done: bool) -> list[list]:
        rows = []
        for side, (me, opp) in enumerate(((g["home"], g["away"]), (g["away"], g["home"]))):
            gf, ga = (g["gf"], g["ga"]) if side == 0 else (g["ga"], g["gf"])
            xg, xga = g["xg"] if side == 0 else g["xg"][::-1]
            spell = TEAMS[me][2][int(g["variant"][side] * len(TEAMS[me][2]))]
            opp_spell = TEAMS[opp][2][int(g["variant"][1 - side] * len(TEAMS[opp][2]))]
            date = g["date"].isoformat() + (" 00:00:00" if g["variant"][side] < 0.3 else "")
            result = ("W" if gf > ga else "D" if gf == ga else "L") if done else ""
            rows.append([
                "ENG-Premier League", f"{season % 100:02d}{(season + 1) % 100:02d}",
                spell, opp_spell, g["game"], date, "15:00:00", f"Matchweek {w}",
                _DAYS[g["date"].weekday()], "Home" if side == 0 else "Away", result,
                gf if done else "", ga if done else "", xg if done else "",
                xga if done else "", g["poss"] if side == 0 else 100 - g["poss"],
                g["att"], self.squads[me][0],
                _FORMATIONS[me % len(_FORMATIONS)], _FORMATIONS[opp % len(_FORMATIONS)],
                "M. Oliver", "Match Report", "",
            ])
        return rows

    def _player_match_rows(self, season: int, g: dict) -> list[list]:
        rows = []
        for team, lines in g["lines"].items():
            spell = TEAMS[team][2][-1]
            for player, stats in lines:
                nation, pos, _ = self.player_info[player]
                rows.append([f"{season % 100:02d}{(season + 1) % 100:02d}", g["game"], spell,
                             player, nation, pos] + stats)
        return rows

    def _write_season_stats(self, raw_dir: str, week: int) -> None:
        rows = []
        corrected = {self.squads[i][1] for i in range(len(TEAMS)) if self._corrected(week, i)}
        for s in self.seasons:
            for t in self.members[s]:
                for p in self.squads[t]:
                    nation, pos, born = self.player_info[p]
                    if p in corrected:
                        pos = "MF" if pos != "MF" else "DF"
                    rows.append(["ENG-Premier League", f"{s % 100:02d}{(s + 1) % 100:02d}",
                                 TEAMS[t][1], p, nation, pos, "25-100", born, len(p) % 39])
        _write(os.path.join(raw_dir, "fbref_fact_player_season_stats.csv"),
               ["league", "season", "team", "player", "nation", "pos", "age", "born",
                "Playing Time_MP"], rows)

    def _write_dim_team(self, raw_dir: str, week: int) -> None:
        header = ["club_id", "club_label", "founding_year", "venue_id", "short_name"]
        rows = []
        for i, (raw, *_rest) in enumerate(TEAMS):
            founded = self.founded[i] - (1 if self._corrected(week, i) else 0)
            rows.append([f"Q{1000 + i}", raw, founded, f"Q{5000 + i}", ""])
        rows.insert(len(rows) // 2, header)  # embedded header row
        _write(os.path.join(raw_dir, "dim_team.csv"), header, rows)

    def _write_dim_stadium(self, raw_dir: str, week: int) -> None:
        header = ["venue_id", "venue_label", "capacity"]
        rows = []
        for i in range(len(TEAMS)):
            cap = self.capacity[i] + (250 if self._corrected(week, i) else 0)
            rows.append([f"Q{5000 + i}", f"{TEAMS[i][1]} Ground",
                         f"{cap}.0" if i % 4 == 0 else str(cap)])
        rows.insert(3, header)  # embedded header row
        rows.insert(7, ["Q5998", "Nowhere Park", "capacity"])  # literal 'capacity'
        rows.append(["Q5999", "Broken Ground"])  # malformed short line
        _write(os.path.join(raw_dir, "dim_stadium.csv"), header, rows)

    def _write_team_point(self, raw_dir: str, played: list) -> int:
        rows = []
        for s in self.seasons:
            games = [g for season, _w, g in played if season == s]
            for cat in ("overall", "home", "away"):
                records = _records(games, self.members[s], cat)
                for rank, t in enumerate(_standings(games, self.members[s], cat), start=1):
                    mp, w, d, lost, gf, ga, form = records[t]
                    rank_s = (f"{rank}.", f"{rank}.0", str(rank))[t % 3]
                    rows.append([f"{s}-{s + 1}", cat, rank_s, TEAMS[t][3], mp, w, d, lost,
                                 f"{gf}:{ga}", gf - ga, 3 * w + d, form])
        valid = len(rows)
        rows.append([f"{self.seasons[-1]}-{self.seasons[-1] + 1}", "overall", "1.",
                     "Unknown Rovers", 1, 1, 0, 0, "1:0", 1, 3, "W"])  # unmatched team
        rows.append([f"{self.seasons[-1]}-{self.seasons[-1] + 1}", "overall", "n/a",
                     TEAMS[0][3], 1, 1, 0, 0, "1:0", 1, 3, "W"])  # unparseable rank
        _write(os.path.join(raw_dir, "team_point.csv"), _POINT_COLS, rows)
        return valid


def _records(games: list[dict], teams: list[int], cat: str) -> dict[int, list]:
    """team → [MP, W, D, L, GF, GA, form] over `games`, counting all,
    home or away games (`cat`)."""
    table = {t: [0, 0, 0, 0, 0, 0, ""] for t in teams}
    for g in games:
        for side, (me, gf, ga) in enumerate(((g["home"], g["gf"], g["ga"]),
                                             (g["away"], g["ga"], g["gf"]))):
            if cat != "overall" and (cat == "home") != (side == 0):
                continue
            r = table[me]
            res = "W" if gf > ga else "D" if gf == ga else "L"
            r[0] += 1
            r[{"W": 1, "D": 2, "L": 3}[res]] += 1
            r[4] += gf
            r[5] += ga
            r[6] = (r[6] + res)[-5:]
    return table


def _standings(games: list[dict], teams: list[int], cat: str) -> list[int]:
    """`teams` ranked by points, then goal difference, then index."""
    r = _records(games, teams, cat)
    return sorted(teams, key=lambda t: (-(3 * r[t][1] + r[t][2]), -(r[t][4] - r[t][5]), t))
