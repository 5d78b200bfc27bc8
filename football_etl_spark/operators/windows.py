"""Window / time-series operators (SURVEY.md §2.5) — the analytical heart.

The reference loops ``for team, group in df.groupby('team')`` and runs
pandas ``rolling('90D')`` per group (utils/data_utils.py:238-301).
Here that is ONE range-frame window over the whole table: a single
hash-shuffle on the partition key, in-partition sort, one pass — no
Python loop, no per-group materialization, linear at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..functions.scalars import result_to_points
from .scale import session_parallelism, sum_i64_checked

SECONDS_PER_DAY = 86_400


def trailing_days_window(
    partition_cols: Sequence[str], ts_col: str, days: int
) -> WindowSpec:
    """RANGE frame of the trailing `days` days (inclusive of current
    row) per partition key — the Spark form of rolling('90D')."""
    order = F.col(ts_col).cast("timestamp").cast("long")
    return (
        Window.partitionBy(*partition_cols)
        .orderBy(order)
        .rangeBetween(-days * SECONDS_PER_DAY, 0)
    )


def rolling_time_metrics(
    df: DataFrame,
    partition_cols: Sequence[str],
    ts_col: str,
    avg_cols: Sequence[str] = (),
    sum_cols: Sequence[str] = (),
    days: int = 90,
    result_col: str | None = None,
    prefix: str = "rolling_",
) -> DataFrame:
    """Per-key trailing-N-day metrics (utils/data_utils.py:261-287):

    - rolling mean of each ``avg_cols`` (pandas min_periods=1 ≡ Spark
      range frames: current row always in frame, nulls skipped by avg);
    - rolling sum of each ``sum_cols`` (total_goals_* at :273-277);
    - ``win_ratio`` = rolling mean of result points when ``result_col``
      is given (:279-287).
    """
    w = trailing_days_window(partition_cols, ts_col, days)
    new_cols: dict[str, Column] = {}
    for c in avg_cols:
        new_cols[f"{prefix}avg_{c}"] = F.avg(F.col(c)).over(w)
    for c in sum_cols:
        new_cols[f"{prefix}total_{c}"] = F.sum(F.col(c)).over(w)
    if result_col is not None:
        new_cols["win_ratio"] = F.avg(result_to_points(result_col)).over(w)
    return df.withColumns(new_cols)


def top_n_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Per-group top-N via row_number (scrapers/team_scraper.py:606
    head(lookback); examples/visualize_data.py:175 top-10). One
    shuffle; Catalyst plans a partial sort per partition."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n)
    return out.withColumnRenamed("__rn", rank_col) if rank_col else out.drop("__rn")


def latest_per_group(
    df: DataFrame, partition_cols: Sequence[str], ts_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Latest row per key, deterministic via tiebreak columns —
    the 'current team metrics' selection used by the as-of flagship."""
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak]
    return top_n_per_group(df, partition_cols, order, 1)


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Batch sessionization: new session when the gap to the previous
    event exceeds ``gap_seconds`` — lag + conditional cumsum, two
    window passes over one shuffle partitioning."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    ts_long = F.col(ts_col).cast("long")
    gap = ts_long - F.lag(ts_long).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        session_col, F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def grouped_zscore(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str = "zscore",
) -> DataFrame:
    """Per-group z-score via the grouped-map escape hatch —
    ``groupBy(...).applyInArrow`` (SURVEY §2.8), the engine's
    generalization of the reference's per-group pandas loop
    (utils/data_utils.py:261-295). Use only when built-in window
    functions genuinely can't express the per-group logic; this
    particular computation HAS a window twin (the oracle uses it),
    which is what makes the escape hatch cross-checkable.

    Arrow-batched, one group per call. The boundary is applyInArrow
    (r12, guide §4.1): the previous applyInPandas form paid a full
    Arrow→pandas DataFrame→Arrow round-trip PER GROUP, and with many
    tiny groups that conversion dominated — a no-op grouped-map body
    measured 5.3 s via pandas vs 1.4 s via Arrow over the same 15k
    groups at sf0.1 (full operator 4.2 → 1.5 s). The per-group MATH is
    still the exact pandas mean/std on the one value column, so
    results are bit-identical to the pandas form (pinned by
    tests/test_operators.py::test_grouped_zscore_matches_window_twin).
    Groups with one row or zero variance produce NaN, which the Arrow
    return path surfaces as SQL NULL.

    The worker closure is self-contained (string/col names only) so it
    runs on executors without this package on PYTHONPATH."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )
    vc, oc = value_col, out_col

    def fn(tbl):
        import pyarrow as pa

        v = tbl.column(vc).to_pandas()
        z = (v - v.mean()) / v.std(ddof=1)
        return tbl.append_column(oc, pa.array(z, type=pa.float64(), from_pandas=True))

    # Pin the grouped-map exchange width (r12): the stage's cost is
    # per-GROUP Python overhead, which AQE's byte-based partition
    # coalescing cannot see — under the engine defaults it collapsed
    # this small-bytes shuffle to ~1 partition and SERIALIZED ~15k
    # group calls (measured 7.0 s; pinned: 1.1 s at sf0.1). The
    # explicit repartition on the group keys replaces the implicit
    # ENSURE_REQUIREMENTS exchange the groupBy would otherwise insert
    # (one hashpartitioning exchange in the plan) and is
    # scale-adaptive: never narrower than the session's configured
    # shuffle width, at least one task per core (Spark Connect
    # included, via session_parallelism).
    spark = df.sparkSession
    width = max(
        session_parallelism(spark),
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    df = df.repartition(width, *[F.col(k) for k in keys])
    return df.groupBy(*[F.col(k) for k in keys]).applyInArrow(fn, schema)


def scd2_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 builder: turn a change-event
    log (key, ts, observed state) into validity intervals. Consecutive
    rows with an unchanged state are collapsed (no-op updates emit no
    interval), then each surviving change opens an interval closed by
    the next one: (key, state, valid_from, valid_to, is_current), with
    the open interval's valid_to null.

    Both passes — the lag change-detect and the lead interval-close —
    window over the same (key, order) spec, so the plan is ONE
    exchange on the key reused by two window operators: building SCD2
    history over 100 TB of change events costs a single shuffle.
    Ordering must be total for determinism: pass ``tiebreak`` columns
    (e.g. the event id) to break timestamp ties."""
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = df.withColumn("__prev", F.lag(state_col).over(w)).filter(
        F.col("__prev").isNull() | (F.col("__prev") != F.col(state_col))
    )
    # recompute lead on the collapsed set (same spec → exchange reuse)
    return (
        changed.withColumn("valid_to", F.lead(ts_col).over(w))
        .select(
            *key_cols,
            F.col(state_col),
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    scale: int = 2,
) -> DataFrame:
    """Per-group winsorized mean — outlier-robust aggregation by
    clamping values to the group's [lo, hi] order statistics before
    averaging. The bounds are RANK-based (value at row ceil(q·n) of
    the group's ascending sort), not interpolated percentiles:
    order-statistic values are actual data values, so both the clamp
    comparisons and the resulting mean are exact and engine-identical
    (interpolated quantiles differ in the last bit across engines and
    poison every downstream comparison).

    ``scale`` is the decimal precision of the exact mean accumulator:
    clamped values are quantized to ``scale`` decimal places before
    the order-independent long sum (same discipline as queries._dec_sum
    — 2dp is the money default; pass a larger scale for finer-grained
    inputs, subject to the same |sum·10^scale| ≤ 2^53 validity bound).

    Plan: ONE exchange on the group key serves the whole operator —
    both window passes (rank+count, then the conditional-max bound
    attach) AND the final aggregate, whose required distribution the
    window partitioning already satisfies, so Catalyst plans no
    second shuffle (plan-asserted). No join-back (which would re-run
    the ranking subtree per reference)."""
    w_sort = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    w_all = Window.partitionBy(group_col)
    v = F.col(value_col)
    k_lo = F.ceil(F.lit(lo) * F.col("__n")).cast("long")
    k_hi = F.ceil(F.lit(hi) * F.col("__n")).cast("long")
    ranked = df.select(
        group_col,
        value_col,
        F.row_number().over(w_sort).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )
    bounded = ranked.select(
        group_col,
        value_col,
        F.max(F.when(F.col("__rn") == k_lo, v)).over(w_all).alias("p_lo"),
        F.max(F.when(F.col("__rn") == k_hi, v)).over(w_all).alias("p_hi"),
    )
    clamped = F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), v))
    factor = float(10**scale)
    scaled = sum_i64_checked(
        F.round(clamped * factor).cast("long"), "winsorized_stats[mean]"
    )
    return bounded.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("p_lo").alias("p_lo"),
        F.min("p_hi").alias("p_hi"),
        ((scaled / F.lit(factor)) / F.count(F.lit(1))).alias("winsorized_mean"),
    )
