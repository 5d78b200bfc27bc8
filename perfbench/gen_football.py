"""Seeded generator for the football ETL workload's dirty raw inputs.

Writes, shaped like FIXTURES.md:

- ``raw_fixtures/day=NN.parquet``: one raw fixtures file per ingest
  day (the reference appends one file per day), every column a
  string. Each match is re-sent in one to three daily files, so about
  49 % of raw rows repeat a ``match_id``. Re-sends differ in their
  dirt: team names with a ``" FC"`` suffix or an alias of the mapping
  pairs (``Man United`` for ``Manchester United``), dates in several
  formats, kickoff times as ``15:45``, ``2025-05-10 15:45`` or
  ``Unknown``. About one match in ten has no ``match_id`` and gets it
  regenerated from date and teams. Match dates lie both before and
  after :data:`TODAY`.
- ``team_history.csv``: every team's match log, 24 past matches per
  team on distinct days of the 300 before :data:`TODAY`, plus one
  future row per team. ``result`` mixes ``W``/``Win``/``draw``/``1``/``0.5``/...
  and unknown values; goal and stat columns carry numeric junk
  (``"55%"``, ``"n/a"``, ``"2.0"``).

:func:`write_inputs` returns the expected outcome the workload checks
against: raw row count and the number of distinct match ids dated on
or after :data:`TODAY`.

    python3 perfbench/gen_football.py --seed 7 --out /tmp/football
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TODAY = dt.date(2025, 5, 15)
N_FILES = 10
ROWS_PER_FILE = 1200
N_TEAMS = 200
HISTORY_PER_TEAM = 24

# canonical name -> aliases the engine's default mapping folds back
ALIASES = {
    "Manchester United": ["Man United", "Man Utd"],
    "Manchester City": ["Man City"],
    "Tottenham Hotspur": ["Spurs"],
    "Wolverhampton Wanderers": ["Wolves"],
    "Newcastle United": ["Newcastle"],
}
LEAGUES = [
    ("Premier League", "England"),
    ("LaLiga", "Spain"),
    ("LigaPro Serie A, Primera Etapa", "Ecuador"),
    ("UEFA Europa League", "Europe"),
    ("Serie A", "Italy"),
]
STATUSES = ["Not started", "Scheduled", "Ended", "Postponed"]
DATE_FORMATS = ["%Y-%m-%d", "%d/%m/%Y", "%d.%m.%Y", "%Y/%m/%d", "%d %b %Y", "%A, %B %d, %Y"]
RESULTS = ["W", "D", "L", "Win", "draw", "loss", "1", "0.5", "0", "won", "n/a"]
RAW_FIXTURE_COLS = [
    "match_id", "date", "home_team", "away_team", "league", "country",
    "venue", "kickoff_time", "status", "competition_stage",
]
HISTORY_COLS = [
    "team", "season", "date", "competition", "venue", "opponent", "result",
    "goals_for", "goals_against", "is_home", "home_team", "away_team",
    "match_id", "match_url", "xg", "possession", "shots", "shots_on_target",
]


def team_names() -> list[str]:
    return list(ALIASES) + [f"Club {i:03d}" for i in range(N_TEAMS - len(ALIASES))]


def _slug(name: str) -> str:
    return re.sub("[^a-z0-9]", "", name.lower())


def _dirty(rng: np.random.Generator, team: str) -> str:
    name = team
    if team in ALIASES and rng.random() < 0.5:
        name = ALIASES[team][int(rng.integers(0, len(ALIASES[team])))]
    if rng.random() < 0.25:
        name += " FC"
    if rng.random() < 0.1:
        name = f"  {name} "
    return name


def _date_str(rng: np.random.Generator, d: dt.date) -> str:
    return d.strftime(DATE_FORMATS[int(rng.integers(0, len(DATE_FORMATS)))])


def _junk_number(rng: np.random.Generator, v: float, pct: bool = False) -> str:
    u = rng.random()
    if u < 0.05:
        return "n/a"
    if u < 0.08:
        return ""
    return f"{v:g}%" if pct else (f"{v:.1f}" if u < 0.5 else f"{v:g}")


def _fixtures(rng: np.random.Generator, teams: list[str]) -> tuple[list[list], int, int]:
    """Raw fixture rows grouped per file, plus (raw rows, expected
    distinct future match ids)."""
    first_day = TODAY - dt.timedelta(days=N_FILES // 2)
    n_rows = N_FILES * ROWS_PER_FILE
    copies = rng.choice([1, 2, 3], size=n_rows, p=[0.3, 0.44, 0.26])
    n_matches = int(np.searchsorted(np.cumsum(copies), n_rows))
    files: list[list] = [[] for _ in range(N_FILES)]
    future_ids = set()
    for m in range(n_matches):
        ingest = int(rng.integers(0, N_FILES))
        day = first_day + dt.timedelta(days=ingest + int(rng.integers(0, 8)))
        home, away = (teams[int(i)] for i in rng.choice(len(teams), 2, replace=False))
        league, country = LEAGUES[int(rng.integers(0, len(LEAGUES)))]
        has_id = rng.random() >= 0.1
        match_id = str(12_000_000 + m) if has_id else None
        eff_id = match_id or f"{day:%Y%m%d}_{_slug(home)}_{_slug(away)}"
        if day >= TODAY:
            future_ids.add(eff_id)
        hh, mm = int(rng.integers(12, 22)), int(rng.choice([0, 15, 30, 45]))
        stage = str(int(rng.integers(1, 39)))
        for c in range(int(copies[m])):
            f = min(N_FILES - 1, ingest + c * int(rng.integers(1, 4)))
            k = rng.random()
            kickoff = f"{hh:02d}:{mm:02d}" if k < 0.6 else (
                f"{day:%Y-%m-%d} {hh:02d}:{mm:02d}" if k < 0.9 else "Unknown"
            )
            files[f].append(
                [
                    match_id,
                    _date_str(rng, day),
                    _dirty(rng, home),
                    _dirty(rng, away),
                    league,
                    country,
                    "Stadium" if rng.random() < 0.2 else None,
                    kickoff,
                    STATUSES[int(rng.integers(0, len(STATUSES)))],
                    stage,
                ]
            )
    return files, sum(len(f) for f in files), len(future_ids)


def _history_rows(rng: np.random.Generator, teams: list[str]) -> list[list]:
    rows = []
    for team in teams:
        days = sorted(rng.choice(np.arange(1, 301), HISTORY_PER_TEAM, replace=False))
        dates = [TODAY - dt.timedelta(days=int(d)) for d in days]
        dates.append(TODAY + dt.timedelta(days=int(rng.integers(1, 30))))  # future: dropped
        for d in dates:
            opp = teams[int(rng.integers(0, len(teams)))]
            home = bool(rng.random() < 0.5)
            gf, ga = int(rng.integers(0, 5)), int(rng.integers(0, 5))
            shots = int(rng.integers(3, 25))
            rows.append(
                [
                    _dirty(rng, team),
                    None,
                    _date_str(rng, d),
                    "Premier League",
                    "Home" if home else "Away",
                    _dirty(rng, opp),
                    RESULTS[int(rng.integers(0, len(RESULTS)))],
                    _junk_number(rng, gf),
                    _junk_number(rng, ga),
                    int(home),
                    team if home else opp,
                    opp if home else team,
                    None if rng.random() < 0.3 else f"{d:%Y%m%d}_{_slug(team)}_{_slug(opp)}",
                    f"https://fbref.com/en/matches/{int(rng.integers(0, 1 << 30)):08x}",
                    _junk_number(rng, round(float(rng.uniform(0, 3)), 2)),
                    _junk_number(rng, int(rng.integers(30, 71)), pct=True),
                    _junk_number(rng, shots),
                    _junk_number(rng, int(rng.integers(0, shots + 1))),
                ]
            )
    return rows


def write_inputs(seed: int, out_dir: str) -> dict:
    """Write the raw fixture files and team history under ``out_dir``
    and return the expected counts."""
    rng = np.random.default_rng(np.random.SeedSequence(seed))
    teams = team_names()
    files, n_raw, n_future = _fixtures(rng, teams)
    raw_dir = os.path.join(out_dir, "raw_fixtures")
    os.makedirs(raw_dir, exist_ok=True)
    schema = pa.schema([(c, pa.string()) for c in RAW_FIXTURE_COLS])
    for i, rows in enumerate(files):
        cols = list(zip(*rows)) if rows else [[] for _ in RAW_FIXTURE_COLS]
        table = pa.table({c: pa.array(v, pa.string()) for c, v in zip(RAW_FIXTURE_COLS, cols)})
        pq.write_table(table.cast(schema), os.path.join(raw_dir, f"day={i:02d}.parquet"))
    hist_path = os.path.join(out_dir, "team_history.csv")
    with open(hist_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HISTORY_COLS)
        w.writerows(_history_rows(rng, teams))
    expected = {
        "raw_rows": n_raw,
        "future_match_ids": n_future,
        "files": N_FILES,
        "input_bytes": sum(
            os.path.getsize(os.path.join(raw_dir, p)) for p in os.listdir(raw_dir)
        ) + os.path.getsize(hist_path),
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write_inputs(a.seed, a.out)))


if __name__ == "__main__":
    main()
