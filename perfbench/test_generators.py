"""The football input generator is a function of its seed.

    python3 -m pytest perfbench/test_generators.py -q
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_football  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_football_same_seed_same_bytes_other_seed_differs(tmp_path):
    ea = gen_football.write_inputs(5, str(tmp_path / "a"))
    eb = gen_football.write_inputs(5, str(tmp_path / "b"))
    ec = gen_football.write_inputs(6, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert ea == eb and a == b
    assert len(a) == gen_football.N_FILES + 2
    assert all(a[k] != c[k] for k in a if k != "expected.json")
    assert ea != ec


def test_football_covers_every_dirt_class(tmp_path):
    exp = gen_football.write_inputs(3, str(tmp_path))
    raw = pq.read_table(str(tmp_path / "raw_fixtures")).to_pandas()
    assert len(raw) == exp["raw_rows"]
    ids = raw.match_id.dropna()
    assert 0.40 < ids.duplicated().mean() < 0.58  # ~49 % re-sent match ids
    assert raw.match_id.isna().any()  # regenerated ids
    teams = set(raw.home_team.str.strip()) | set(raw.away_team.str.strip())
    assert any(t.endswith(" FC") for t in teams)
    assert {"Man United", "Spurs", "Manchester United"} <= {t.removesuffix(" FC") for t in teams}
    assert raw.kickoff_time.str.fullmatch(r"\d\d:\d\d").any()
    assert raw.kickoff_time.str.contains(" ").any()
    assert (raw.kickoff_time == "Unknown").any()
    assert raw.date.str.contains("/").any() and raw.date.str.contains(",").any()
    with open(tmp_path / "team_history.csv") as f:
        hist = list(csv.DictReader(f))
    assert {"Win", "draw", "1", "0.5"} <= {r["result"] for r in hist}
    assert any(r["goals_for"] == "n/a" for r in hist)
    assert any(r["possession"].endswith("%") for r in hist)

    def parse(s: str) -> dt.date:
        for fmt in gen_football.DATE_FORMATS:
            try:
                return dt.datetime.strptime(s, fmt).date()
            except ValueError:
                pass
        raise ValueError(s)

    today = gen_football.TODAY
    dates = [parse(s) for s in raw.date]
    assert min(dates) < today <= max(dates)
    per_team: dict[str, list[dt.date]] = {}
    for r in hist:
        team = r["home_team"] if r["is_home"] == "1" else r["away_team"]
        per_team.setdefault(team, []).append(parse(r["date"]))
    assert len(per_team) == gen_football.N_TEAMS
    past = {t: [d for d in ds if d <= today] for t, ds in per_team.items()}
    assert all(len(ds) >= 10 and (max(ds) - min(ds)).days > 90 for ds in past.values())
    assert any(d > today for ds in per_team.values() for d in ds)
