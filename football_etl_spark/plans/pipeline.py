"""The five-stage reference pipeline as composable lazy transforms.

Mirrors /root/reference/pipeline.py:61-100 (extract fixtures →
process fixtures → extract history → process history → join & load),
minus the acquisition layer (HTTP/Selenium is an ingest concern, out
of engine scope — SURVEY.md §3.1). Every stage is DataFrame→DataFrame
and therefore also SQL-visible via temp views. The stages up to the
join stay lazy; the terminal stage (``join_data``) materializes once,
because the load stage reads it three times (parquet sink, CSV sink,
completion stat) and a lazy frame would re-run the whole transform
DAG for each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import scalars
from ..operators import aggregates, cleaning, joins, windows

# Numeric stat columns that get coerced + rolled up when present
# (processors/data_processor.py:196-204 and FIXTURES.md §2).
HISTORY_NUMERIC_COLS = (
    "goals_for", "goals_against", "xg", "xg_against", "possession",
    "total_passes", "pass_completion", "shots", "shots_on_target",
    "corners", "fouls_committed", "yellow_cards", "red_cards",
)


def process_fixtures(
    fixtures: DataFrame,
    team_mapping: dict[str, str] | None = None,
    today: Column | None = None,
    dedup_order: list[Column] | None = None,
) -> DataFrame:
    """Stage 2 (processors/data_processor.py:34-136): repair schema,
    normalize names/dates, clean kickoff_time, regenerate missing
    match_id, dedup deterministically, keep future fixtures, sort.

    ``dedup_order`` sets the keep-first ordering within a match_id
    (default: earliest date, then kickoff). The reference keeps the
    first row in FILE order (pandas drop_duplicates keep='first',
    data_processor.py:101-106); pass an explicit ingest-order column
    to replicate that exactly (see tests/test_golden_parity.py)."""
    df = cleaning.add_missing_columns(fixtures, {"venue": None})
    df = df.withColumns(
        {
            "home_team": scalars.normalize_team_name("home_team", team_mapping),
            "away_team": scalars.normalize_team_name("away_team", team_mapping),
            "date": scalars.normalize_date(F.col("date").cast("string")),
            "kickoff_time": scalars.clean_kickoff_time("kickoff_time"),
        }
    )
    df = df.withColumn(
        "match_id",
        F.coalesce(
            F.col("match_id"), scalars.generate_match_id("date", "home_team", "away_team")
        ),
    )
    order = dedup_order or [
        F.col("date").asc_nulls_last(), F.col("kickoff_time").asc_nulls_last()
    ]
    df = cleaning.dedup_deterministic(df, ["match_id"], order)
    df = cleaning.future_only(df, "date", today)
    return df.orderBy("date", "kickoff_time")


def process_team_history(
    history: DataFrame,
    team_mapping: dict[str, str] | None = None,
    today: Column | None = None,
) -> DataFrame:
    """Stage 4 (processors/data_processor.py:138-269): normalize,
    standardize result domain, coerce numerics, derive metrics,
    reconstruct match_id, keep past rows, sort (team asc, date desc)."""
    df = history.withColumns(
        {
            "team": scalars.normalize_team_name("team", team_mapping),
            "opponent": scalars.normalize_team_name("opponent", team_mapping),
            "date": scalars.normalize_date(F.col("date").cast("string")),
            "result": scalars.standardize_result("result"),
        }
    )
    df = cleaning.coerce_numerics(df, HISTORY_NUMERIC_COLS)
    if "shots" in df.columns and "shots_on_target" in df.columns:
        df = df.withColumn(
            "shot_accuracy", scalars.safe_ratio("shots_on_target", "shots")
        )
        df = df.withColumn(
            "conversion_rate", scalars.safe_ratio("goals_for", "shots_on_target")
        )
    df = df.withColumn(
        "match_id",
        F.coalesce(
            F.col("match_id"),
            scalars.conditional_match_id("date", "team", "opponent", "is_home"),
        ),
    )
    df = cleaning.past_only(df, "date", today)
    return df.orderBy(F.asc("team"), F.desc("date"))


def calculate_team_metrics(history: DataFrame, window_days: int = 90) -> DataFrame:
    """Stage 5a (processors/data_processor.py:271-320 →
    utils/data_utils.py:238-301): per-(team, date) rolling metrics via
    ONE range window — replaces the reference's per-team pandas loop."""
    avg_cols = [c for c in HISTORY_NUMERIC_COLS if c in history.columns]
    rolled = windows.rolling_time_metrics(
        history,
        partition_cols=["team"],
        ts_col="date",
        avg_cols=avg_cols,
        sum_cols=[c for c in ("goals_for", "goals_against") if c in history.columns],
        days=window_days,
        result_col="result" if "result" in history.columns else None,
    )
    metric_cols = (
        [f"rolling_avg_{c}" for c in avg_cols]
        + [f"rolling_total_{c}" for c in ("goals_for", "goals_against") if c in history.columns]
        + (["win_ratio"] if "result" in history.columns else [])
    )
    return rolled.select("team", "date", *metric_cols)


def latest_team_metrics(metrics: DataFrame) -> DataFrame:
    """Each team's metrics as of its most recent match — the as-of
    selection the reference *intended* (SURVEY.md §2.3 caveat)."""
    return windows.latest_per_group(metrics, ["team"], "date").drop("date")


def join_data(
    fixtures: DataFrame,
    metrics: DataFrame,
    asof: bool = True,
) -> DataFrame:
    """Stage 5b (utils/data_utils.py:122-191): enrich fixtures with
    home_*/away_* metric columns.

    asof=True (default): join each side's *latest* metrics — 1:1,
    broadcast, the semantically-intended form. asof=False: the
    reference-faithful m:n fan-out over every (team, date) metric row.

    The output comes back materialized by ``localCheckpoint()``: one
    job runs the scans, dedup, windows, broadcasts and the final range
    sort, and every later reader (the sinks, ``pipeline_stats``) reads
    the checkpointed blocks with its lineage cut. The trade-off: the
    blocks are executor-local, so they are not recomputed if an
    executor is lost (the reader fails instead), and they are freed
    only when the returned DataFrame is garbage-collected.
    """
    m = latest_team_metrics(metrics) if asof else metrics
    enriched = joins.enrich_home_away(
        fixtures.withColumns(
            {
                "home_team_norm": scalars.strip_team_suffix("home_team"),
                "away_team_norm": scalars.strip_team_suffix("away_team"),
            }
        ),
        m.withColumn("team_norm", scalars.strip_team_suffix("team")).drop("team"),
        # the metrics domain is one row per team (200 teams in the
        # football benchmark) — bounded, so the forced broadcast is
        # sanctioned here
        broadcast_metrics=True,
    )
    return (
        enriched.drop("home_team_norm", "away_team_norm").orderBy("date").localCheckpoint()
    )


def pipeline_stats(fixtures: DataFrame, history: DataFrame, output: DataFrame) -> dict:
    """The run-summary stats dict (pipeline.py:103-118) — one job for
    all three tables: each is reduced to a one-row aggregate, the three
    rows are cross-joined and collected once, so their stages run
    side by side instead of one collect after another."""
    fx = fixtures.agg(
        F.count("*").alias("fixtures_rows"),
        (F.count("*") - F.count_distinct("match_id")).alias("fixtures_duplicates"),
        F.count_distinct("league").alias("n_leagues"),
        F.count_distinct("home_team").alias("n_home_teams"),
    )
    hi = history.agg(
        F.count("*").alias("history_rows"),
        F.count_distinct("team").alias("n_teams"),
    )
    completion = aggregates.completion_ratio(output).withColumnRenamed(
        "completion", "output_completion"
    )
    return fx.crossJoin(hi).crossJoin(completion).collect()[0].asDict()
