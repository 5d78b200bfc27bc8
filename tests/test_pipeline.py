"""End-to-end tests of the five-stage football pipeline on
reference-shaped literal data (FIXTURES.md schemas), asserting the
reference's invariants (SURVEY.md §5): post-dedup key uniqueness,
result ∈ {W,D,L,U}, date-integrity splits, win_ratio ∈ [0,1]."""

from __future__ import annotations

import datetime

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from football_etl_spark.io import sinks
from football_etl_spark.plans import pipeline

FIXTURES_DDL = (
    "match_id string, date string, home_team string, away_team string, "
    "league string, country string, kickoff_time string, status string, "
    "competition_stage string"
)


def TODAY():
    return F.lit("2025-05-15").cast("date")


@pytest.fixture(scope="module")
def fixtures_df(spark):
    rows = [
        # (match_id, date, home, away, league, country, kickoff, status, stage)
        ("1", "2025-05-20", "Fulham FC", "Everton", "Premier League", "England", "2025-05-20 15:45", "Not started", "37"),
        ("1", "2025-05-20", "Fulham FC", "Everton", "Premier League", "England", "15:45", "Not started", "37"),  # dup
        (None, "2025-05-21", "Man United", "Spurs", "Premier League", "England", "Unknown", "Scheduled", "37"),
        ("3", "2025-05-01", "Arsenal", "Chelsea", "Premier League", "England", "12:30", "Ended", "35"),  # past
        ("4", "21/05/2025", "Wolves", "Newcastle", "Premier League", "England", "17:00", "Scheduled", "37"),
    ]
    return spark.createDataFrame(rows, FIXTURES_DDL)


@pytest.fixture(scope="module")
def history_df(spark):
    teams = ["Manchester United", "Tottenham Hotspur", "Fulham", "Everton"]
    rows = []
    base = datetime.date(2025, 1, 1)
    for ti, team in enumerate(teams):
        for i in range(12):
            d = base + datetime.timedelta(days=11 * i)
            res = ["Win", "D", "loss", "1"][(ti + i) % 4]
            rows.append(
                (team, None, d.isoformat(), "Premier League", "Home" if i % 2 == 0 else "Away",
                 "Opponent X", res, float(i % 4), float((i + 1) % 3), 1 if i % 2 == 0 else 0,
                 None, None, None, None)
            )
    # one future row that must be dropped by past_only
    rows.append(("Fulham", None, "2025-06-30", "PL", "Home", "Y", "W", 1.0, 0.0, 1, None, None, None, None))
    return spark.createDataFrame(
        rows,
        "team string, season string, date string, competition string, venue string, "
        "opponent string, result string, goals_for double, goals_against double, "
        "is_home int, home_team string, away_team string, match_id string, match_url string",
    )


def test_process_fixtures(spark, fixtures_df):
    out = pipeline.process_fixtures(fixtures_df, today=TODAY())
    rows = out.collect()
    ids = [r["match_id"] for r in rows]
    assert len(ids) == len(set(ids)), "dedup must leave match_id unique"
    assert all(r["date"] >= datetime.date(2025, 5, 15) for r in rows), "future-only filter"
    by_id = {r["match_id"]: r for r in rows}
    assert by_id["1"]["home_team"] == "Fulham"  # suffix stripped
    assert by_id["1"]["kickoff_time"] == "15:45"
    gen = [i for i in ids if i.startswith("20250521")]
    assert gen == ["20250521_manchesterunited_tottenhamhotspur"]  # regenerated + normalized
    assert by_id["4"]["date"] == datetime.date(2025, 5, 21)  # dd/MM/yyyy parsed
    assert "venue" in out.columns  # column repair


def test_process_history_and_metrics(spark, history_df):
    out = pipeline.process_team_history(history_df, today=TODAY())
    rows = out.collect()
    assert all(r["result"] in ("W", "D", "L", "U") for r in rows)
    assert all(r["date"] <= datetime.date(2025, 5, 15) for r in rows)
    assert all(r["match_id"] is not None for r in rows)

    metrics = pipeline.calculate_team_metrics(out)
    mrows = metrics.collect()
    assert all(0.0 <= r["win_ratio"] <= 1.0 for r in mrows)
    # 90-day trailing window: first row of a team equals its own value
    first = min((r for r in mrows if r["team"] == "Fulham"), key=lambda r: r["date"])
    hfirst = min((r for r in rows if r["team"] == "Fulham"), key=lambda r: r["date"])
    assert first["rolling_avg_goals_for"] == hfirst["goals_for"]


def test_join_data_wide_output(spark, fixtures_df, history_df):
    fx = pipeline.process_fixtures(fixtures_df, today=TODAY())
    hist = pipeline.process_team_history(history_df, today=TODAY())
    metrics = pipeline.calculate_team_metrics(hist)
    wide = pipeline.join_data(fx, metrics, asof=True)
    rows = {r["match_id"]: r for r in wide.collect()}
    assert "home_win_ratio" in wide.columns and "away_win_ratio" in wide.columns
    enriched = rows["20250521_manchesterunited_tottenhamhotspur"]
    assert enriched["home_win_ratio"] is not None
    assert enriched["away_win_ratio"] is not None
    # teams without history stay present with null metrics (left join)
    assert rows["4"]["home_win_ratio"] is None

    # pipeline_stats' single job equals separate plain aggregates
    def n_distinct(df, col):
        return df.select(F.count_distinct(col)).first()[0]

    out_rows = wide.collect()
    densities = [
        sum(r[c] is not None for r in out_rows) / len(out_rows) for c in wide.columns
    ]
    expected = {
        "fixtures_rows": fx.count(),
        "fixtures_duplicates": fx.count() - n_distinct(fx, "match_id"),
        "n_leagues": n_distinct(fx, "league"),
        "n_home_teams": n_distinct(fx, "home_team"),
        "history_rows": hist.count(),
        "n_teams": n_distinct(hist, "team"),
        "output_completion": sum(densities) / len(densities),
    }
    stats = pipeline.pipeline_stats(fx, hist, wide)
    assert list(stats) == list(expected)
    completion = stats.pop("output_completion")
    assert completion == pytest.approx(expected.pop("output_completion"), rel=1e-12)
    assert stats == expected
    assert all(type(v) is int for v in stats.values())
    assert stats["fixtures_duplicates"] == 0
    assert stats["n_teams"] == 4
    assert 0.0 <= completion <= 1.0


def test_join_data_faithful_fanout(spark, fixtures_df, history_df):
    """asof=False reproduces the reference's m:n fan-out (SURVEY §2.3)."""
    fx = pipeline.process_fixtures(fixtures_df, today=TODAY())
    hist = pipeline.process_team_history(history_df, today=TODAY())
    metrics = pipeline.calculate_team_metrics(hist)
    wide_asof = pipeline.join_data(fx, metrics, asof=True)
    wide_mn = pipeline.join_data(fx, metrics, asof=False)
    assert wide_asof.count() == fx.count()
    assert wide_mn.count() > wide_asof.count()


@pytest.mark.parametrize("asof", [True, False])
def test_join_data_is_materialized(spark, tmp_path, fixtures_df, history_df, asof):
    """join_data's output is checkpointed: its executed plan scans no
    file and shuffles nothing, and its logical plan is one RDD leaf —
    the sinks and stats read blocks instead of re-running the DAG."""
    src = str(tmp_path / "fixtures.parquet")
    fixtures_df.write.parquet(src)
    fx = pipeline.process_fixtures(spark.read.parquet(src), today=TODAY())
    hist = pipeline.process_team_history(history_df, today=TODAY())
    wide = pipeline.join_data(fx, pipeline.calculate_team_metrics(hist), asof=asof)
    # the lazy form of the same frame does scan and shuffle
    lazy_plan = fx._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" in lazy_plan and "Exchange" in lazy_plan

    qe = wide._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "FileScan" not in plan and "Exchange" not in plan, plan
    analyzed = qe.analyzed()
    assert analyzed.nodeName() == "LogicalRDD" and analyzed.children().isEmpty()


def test_join_data_parquet_reads_back_in_date_order(spark, tmp_path, history_df):
    """The checkpoint keeps the final range sort: part files, read in
    partition order, hold non-decreasing dates."""
    teams = ["Fulham", "Everton", "Man United", "Spurs", "Wolves", "Arsenal"]
    start = datetime.date(2025, 5, 16)
    rows = [
        (str(i), (start + datetime.timedelta(days=(i * 37) % 90)).isoformat(),
         teams[i % 6], teams[(i + 1) % 6], "Premier League", "England",
         f"{12 + i % 9}:00", "Scheduled", "38")
        for i in range(240)
    ]
    raw = spark.createDataFrame(rows, FIXTURES_DDL).repartition(8)
    fx = pipeline.process_fixtures(raw, today=TODAY())
    hist = pipeline.process_team_history(history_df, today=TODAY())
    out = tmp_path / "football_data.parquet"
    # keep the range sort's partitions apart so the order spans files
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        wide = pipeline.join_data(fx, pipeline.calculate_team_metrics(hist))
        sinks.write_parquet(wide, str(out))
    finally:
        spark.conf.set(key, old)

    parts = sorted(out.glob("part-*.parquet"))
    dates = [d for p in parts for d in pq.read_table(p, columns=["date"])["date"].to_pylist()]
    assert len(parts) > 1 and len(dates) == 240
    assert dates == sorted(dates)
