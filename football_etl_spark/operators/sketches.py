"""Mergeable approximate sketches — the 100 TB pre-aggregation layer.

Exact distincts and exact percentiles need a full shuffle of the raw
key stream; at 100 TB that is the dominant cost of any dashboard-style
rollup. The standard large-scale answer is a *mergeable sketch*:
aggregate each partition/day/segment into a tiny fixed-size summary
once, then answer every coarser query by merging summaries instead of
re-reading raw data.

- ``daily_hll_sketches`` / ``merge_hll`` — Apache DataSketches HLL
  via the built-in ``hll_sketch_agg`` / ``hll_union_agg`` /
  ``hll_sketch_estimate`` (JVM-side, whole-stage codegen). The
  per-day sketch table is ~KBs per group regardless of raw volume;
  the union re-rollup touches only sketches. This is the mergeability
  property ``approx_count_distinct`` alone does not give you: HLL++
  partials there are internal, while these sketches are first-class
  binary columns you can persist to parquet and merge across jobs.
- ``approx_group_percentiles`` — built-in ``approx_percentile``
  (Greenwald-Khanna variant): single pass, map-side partial combine,
  bounded memory per group; the t-digest role in this engine.

Correctness gating: sketch estimates are algorithm-specific, so no
cross-engine DuckDB oracle can hash-match them — the registered
queries use the driver's rows-only gate, and tests/test_operators.py
bounds the estimates against exact answers (HLL lgK=14 → <1 % typical
error; percentile accuracy=10000 → exact on the test scales).
Additionally, each rows-only entry has an ORACLE-GATED companion in
plans/queries.py (approx_distinct_error_bound, hll_reach_error_bound,
approx_percentile_error_bound) that reduces the sketch output to
deterministic bounded-error verdicts a DuckDB oracle replicates —
so the accuracy contracts also sit under the driver's hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_hll_sketches(
    df: DataFrame,
    key_col: str = "user_id",
    group_col: str = "event_type",
    ts_col: str = "ts",
    lg_k: int = 14,
) -> DataFrame:
    """One HLL sketch of ``key_col`` per (group, day) — the incremental
    build step. Runs as an ordinary partial-combined aggregation: each
    map task sketches its slice, the reduce merges sketches, so the
    shuffle carries ~2^lg_k bytes per group-day, never raw keys.
    Output: (group, day, sketch binary)."""
    return df.groupBy(
        F.col(group_col).alias("grp"), F.to_date(ts_col).alias("day")
    ).agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch"))


def merge_hll(sketches: DataFrame, by: str = "grp") -> DataFrame:
    """Re-rollup: union per-day sketches up to ``by`` and estimate.
    Reads only the sketch table — answering "distinct users per type
    over all time" without touching the raw 100 TB again."""
    return sketches.groupBy(by).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_distinct"),
        F.count("*").alias("days_merged"),
    )


def daily_cms_sketches(
    df: DataFrame,
    key_col: str = "user_id",
    group_col: str = "event_type",
    ts_col: str = "ts",
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 17,
) -> DataFrame:
    """One Count-Min FREQUENCY sketch of ``key_col`` per (group, day) —
    the heavy-hitter/point-frequency companion to the HLL cardinality
    sketches above, via the built-in ``count_min_sketch`` aggregate
    (JVM-side, partial-combined: each map task sketches its slice and
    the reduce merges, so the shuffle carries ~(1/eps)·ln(1/δ) counters
    per group-day, never raw keys). The sketch binary is persistable
    and mergeable across jobs; ``n_rows`` rides along because every
    CMS error bound is stated against the stream length.

    Output: (grp, day, cms binary, n_rows)."""
    return df.groupBy(
        F.col(group_col).alias("grp"), F.to_date(ts_col).alias("day")
    ).agg(
        F.count_min_sketch(key_col, F.lit(eps), F.lit(confidence), F.lit(seed)).alias(
            "cms"
        ),
        F.count("*").alias("n_rows"),
    )


def cms_merge_and_probe(
    spark,
    sketches: DataFrame,
    probes: list[int],
    by: str = "grp",
) -> DataFrame:
    """Re-rollup + point-frequency probe: union the per-day sketches up
    to ``by`` and estimate the count of each probe key — answering "how
    often did key k occur per group over all time" from the sketch
    table alone, never re-reading raw data.

    The merge runs DRIVER-SIDE over the collected sketch table via the
    JVM ``CountMinSketch.readFrom`` / ``mergeInPlace`` API — a
    deliberate control-plane step: the sketch table is KBs per
    group-day regardless of raw volume (there is no built-in
    ``cms_union_agg`` to keep it executor-side, unlike HLL), and the
    probe list is a handful of keys. Same-seed sketches share hash
    functions, so the merged estimate is IDENTICAL to a single sketch
    built over the union — the mergeability equality the unit test
    asserts exactly. Determinism: groups are merged in collection
    order but CMS merge is commutative counter addition, so estimates
    are order-independent.

    Guarantees carried to the output: ``est_count >= exact`` always
    (CMS never undercounts), and ``est_count <= exact + eps·n_rows``
    with probability ``confidence`` per probe. Output: (grp, key,
    est_count, n_rows). The oracle-gated bounded-error certificate
    entry (exact side + within-bound verdict, like
    approx_distinct_error_bound) is ``cms_frequency_error_bound`` in
    plans/queries.py."""
    rows = sketches.select(by, "cms", "n_rows").collect()
    jread = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom
    merged: dict = {}
    totals: dict = {}
    for r in rows:
        g = r[0]
        sk = jread(bytearray(r[1]))
        if g in merged:
            merged[g].mergeInPlace(sk)
        else:
            merged[g] = sk
        totals[g] = totals.get(g, 0) + int(r[2])
    out = [
        (g, int(k), int(merged[g].estimateCount(int(k))), totals[g])
        for g in sorted(merged)
        for k in probes
    ]
    by_type = dict(sketches.dtypes)[by]  # honor a non-string group key
    return spark.createDataFrame(
        out, f"{by} {by_type}, key long, est_count long, n_rows long"
    )


def approx_group_percentiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group approximate quantiles in one pass (no sort, no full
    shuffle of values — the GK summary partial-combines map-side).
    Output: (group, p_50, p_90, ... one column per quantile)."""
    arr = F.approx_percentile(
        value_col, F.array(*[F.lit(q) for q in quantiles]), F.lit(accuracy)
    )
    out = df.groupBy(F.col(group_col).alias("grp")).agg(arr.alias("__qs"))
    cols = [F.col("grp")] + [
        F.col("__qs").getItem(i).alias(f"p_{str(q).replace('0.', '')}")
        for i, q in enumerate(quantiles)
    ]
    return out.select(*cols)


def approx_top_keys(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 10,
    max_items_tracked: int = 10000,
) -> DataFrame:
    """Per-group heavy hitters via the built-in ``approx_top_k``
    aggregate (JVM-side, partial-combined: each map task tracks up to
    ``max_items_tracked`` counters, merges combine them — the
    space-saving sketch pattern), returned LONG-FORM as one row per
    (group, rank): (grp, rank, key, est_count).

    The estimate is EXACT whenever a group's distinct-key count stays
    within ``max_items_tracked`` (all counters fit — nothing is ever
    evicted) — the condition the
    ``approx_topk_exactness_certificate`` entry certifies under the
    oracle gate (tie-invariant facts only); beyond that
    it degrades gracefully like any space-saving summary. At 100 TB
    the shuffle carries ``max_items_tracked`` counters per group, not
    raw keys — the frequency twin of the HLL/CMS rollups above."""
    # backtick-quote the identifier (doubling any embedded backtick,
    # the Spark SQL escape) — a raw f-string interpolation breaks for
    # column names that need quoting, unlike the F.col path every
    # other operator here uses; approx_top_k has no Column-based
    # functions API in this PySpark, so F.expr is required
    key_q = "`" + key_col.replace("`", "``") + "`"
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.expr(
            f"approx_top_k({key_q}, {int(k)}, {int(max_items_tracked)})"
        ).alias("__tk")
    )
    return agg.select(
        "grp",
        F.posexplode("__tk").alias("__pos", "__e"),
    ).select(
        "grp",
        (F.col("__pos") + 1).cast("long").alias("rank"),
        F.col("__e.item").alias("key"),
        F.col("__e.count").cast("long").alias("est_count"),
    )
