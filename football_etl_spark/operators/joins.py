"""Join operators (SURVEY.md §2.3): enrichment, lookup, as-of, anti.

Scale stance: dimension sides (config mappings, per-key latest
metrics, documents/embeddings dims) get explicit ``broadcast`` hints;
the as-of join is implemented WITHOUT a range fan-out — a union +
last_value(ignorenulls) carry-forward that costs one shuffle and no
m:n blowup, the shape that survives 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lookup_join(
    df: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str,
    value_col: str,
    out_col: str | None = None,
    default_to_key: bool = True,
) -> DataFrame:
    """Dictionary-lookup join (utils/data_utils.py:29-31 against
    config.py:40-76): broadcast the mapping dim, coalesce back to the
    original key when unmapped."""
    out = out_col or value_col
    dim2 = F.broadcast(dim.select(F.col(dim_key).alias("__k"), F.col(value_col).alias("__v")))
    joined = df.join(dim2, df[key] == dim2["__k"], "left")
    val = F.coalesce(F.col("__v"), F.col(key)) if default_to_key else F.col("__v")
    return joined.withColumn(out, val).drop("__k", "__v")


def enrich_home_away(
    fixtures: DataFrame,
    metrics: DataFrame,
    home_key: str = "home_team_norm",
    away_key: str = "away_team_norm",
    metric_key: str = "team_norm",
    fixture_keys: Sequence[str] = ("match_id",),
    broadcast_metrics: bool = False,
) -> DataFrame:
    """The reference's 4-way enrichment (utils/data_utils.py:122-191):
    fixtures ⟕ metrics (home side, columns prefixed home_) ⟕ metrics
    (away side, prefixed away_), recombined on the fixture key.

    Implemented as two left joins directly onto the fixtures row —
    semantically identical to the reference's home-frame/away-frame
    recombine, but skips the self-join on match_id entirely (one
    fewer shuffle). With a deduplicated per-team metrics side this is
    1:1; with per-(team,date) metrics it reproduces the reference's
    faithful m:n fan-out.

    ``broadcast_metrics`` defaults to False: a metrics side keyed on
    an entity column is SF-proportional in general (per-customer
    aggregates at 100 TB are terabytes), so the hint convention says
    AQE must size it — it broadcasts while small and shuffle-joins at
    scale. Pass True only when the caller KNOWS the metrics domain is
    bounded (the reference's per-team table: ~20 teams)."""
    mcols = [c for c in metrics.columns if c != metric_key]
    home_m = metrics.select(
        F.col(metric_key).alias("__hk"), *[F.col(c).alias(f"home_{c}") for c in mcols]
    )
    away_m = metrics.select(
        F.col(metric_key).alias("__ak"), *[F.col(c).alias(f"away_{c}") for c in mcols]
    )
    if broadcast_metrics:
        home_m, away_m = F.broadcast(home_m), F.broadcast(away_m)
    return (
        fixtures.join(home_m, F.col(home_key) == F.col("__hk"), "left")
        .join(away_m, F.col(away_key) == F.col("__ak"), "left")
        .drop("__hk", "__ak")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    prefix: str = "asof_",
    right_tiebreak: str | None = None,
    tolerance_sec: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts for the same key (the *intended* semantics of
    the reference's fixtures↔metrics join — SURVEY.md §2.3 caveat).
    ``direction="forward"`` flips it to pandas merge_asof's other
    mode: the EARLIEST right row with right_ts >= left_ts (lowest
    tiebreak wins at equal timestamps, mirroring backward's highest)
    — same single exchange, only the scan order reverses.

    Scalable composition: union the two sides tagged by origin, sort
    per key by (ts, right-before-left at ties), carry the right-side
    values forward with last(ignorenulls) over an unbounded-preceding
    frame, then keep the left rows. One shuffle on ``key``, zero
    fan-out — unlike a range join + dedup, this survives arbitrarily
    dense right sides (100 TB discipline).

    ``right_tiebreak`` names a right-side column that deterministically
    orders right rows sharing the same timestamp (e.g. an event id);
    the highest value wins.

    ``tolerance_sec`` bounds the match age (pandas merge_asof's
    ``tolerance``): a carried match older than ``tolerance_sec``
    before the left timestamp is nulled out — same single exchange,
    the bound is applied to the carried match timestamp after the
    window, so stale matches cost nothing extra."""
    lcols = left.columns
    l_tagged = left.select(
        F.col(key).alias("__key"),
        F.col(left_ts).cast("timestamp").alias("__ts"),
        F.lit(1).alias("__side"),  # left sorts after right at equal ts
        F.lit(None).cast("long").alias("__tie"),
        F.struct(*lcols).alias("__l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        F.col(key).alias("__key"),
        F.col(right_ts).cast("timestamp").alias("__ts"),
        F.lit(0).alias("__side"),
        (
            F.col(right_tiebreak).cast("long") if right_tiebreak else F.lit(0).cast("long")
        ).alias("__tie"),
        F.lit(None).cast(
            l_tagged.schema["__l"].dataType
        ).alias("__l"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    )
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward or forward, got {direction!r}")
    unioned = l_tagged.unionByName(r_tagged)
    # both directions scan rights before the left at equal ts (the
    # match bound is inclusive); backward scans time ascending and the
    # carried last right is the latest <= left, forward scans time
    # descending so the carried last right is the earliest >= left
    order = (
        [F.col("__ts").asc(), F.col("__side").asc(), F.col("__tie").asc_nulls_first()]
        if direction == "backward"
        else [
            F.col("__ts").desc(),
            F.col("__side").asc(),
            F.col("__tie").desc_nulls_last(),
        ]
    )
    w = (
        Window.partitionBy("__key")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carry = {
        f"__c_{c}": F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w) for c in value_cols
    }
    if tolerance_sec is not None:
        # carried right-side event time, for the staleness bound below
        carry["__c__mts"] = F.last(
            F.when(F.col("__side") == 0, F.col("__ts")), ignorenulls=True
        ).over(w)
    carried = unioned.withColumns(carry)
    picked = {}
    for c in value_cols:
        col = F.col(f"__c_{c}")
        if tolerance_sec is not None:
            tol = F.expr(f"INTERVAL {int(tolerance_sec)} SECONDS")
            fresh = (
                F.col("__c__mts") >= F.col("__ts") - tol
                if direction == "backward"
                else F.col("__c__mts") <= F.col("__ts") + tol
            )
            col = F.when(fresh, col)
        picked[c] = col
    out = carried.filter(F.col("__side") == 1).select(
        *[F.col(f"__l.{c}").alias(c) for c in lcols],
        *[picked[c].alias(f"{prefix}{c}") for c in value_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower_s: float,
    upper_s: float,
    right_prefix: str = "r_",
) -> DataFrame:
    """Interval (range) join: every (left, right) pair with the same
    ``key`` and ``right_ts`` within ``[left_ts + lower_s, left_ts +
    upper_s]`` seconds. Spark plans a naive time-range predicate as a
    broadcast-nested-loop / cartesian join — this is the BUCKETIZED
    form that survives 100 TB (the standard interval-join technique,
    same family as Flink's interval join and range-bucketed joins in
    warehouse engines):

    - both sides get integer time buckets of width = window length;
    - each LEFT row duplicates into the (at most 2) buckets its
      window overlaps — bounded fan-out, independent of data density;
    - candidates come from a pure EQUI-join on (key, bucket), so the
      planner shuffles/partitions normally, AQE handles skew;
    - an exact microsecond-precision refine keeps true pairs only.

    Timestamps compare in integer microseconds — exact, engine-
    portable arithmetic. Right columns come back prefixed."""
    assert upper_s > lower_s, "need a positive-length window"
    lo_us = int(round(lower_s * 1_000_000))
    up_us = int(round(upper_s * 1_000_000))
    width = up_us - lo_us

    l = left.select(
        *left.columns,
        F.unix_micros(F.col(left_ts).cast("timestamp")).alias("__lus"),
    )
    l = l.select(
        *left.columns,
        "__lus",
        F.explode(
            F.sequence(
                F.floor((F.col("__lus") + lo_us) / width),
                F.floor((F.col("__lus") + up_us) / width),
            )
        ).alias("__bucket"),
    )
    r = right.select(
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns],
        F.unix_micros(F.col(right_ts).cast("timestamp")).alias("__rus"),
    ).withColumn("__bucket", F.floor(F.col("__rus") / width))
    pairs = l.join(
        r,
        (F.col(key) == F.col(f"{right_prefix}{key}")) & (l["__bucket"] == r["__bucket"]),
    )
    refined = pairs.filter(
        (F.col("__rus") >= F.col("__lus") + lo_us)
        & (F.col("__rus") <= F.col("__lus") + up_us)
    )
    return refined.drop("__bucket", "__lus", "__rus")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Retry-set computation (scrapers/team_scraper.py:963-1002):
    requested − succeeded as a left_anti join."""
    return left.join(right, on, "left_anti")


def theta_contains_join(
    df: DataFrame, patterns: DataFrame, col: str, pattern_col: str, broadcast_patterns: bool = True
) -> DataFrame:
    """Case-insensitive substring theta-join: keep df rows whose
    ``col`` contains any configured pattern (the league filter,
    scrapers/fixtures_scraper.py:92-105). Patterns are a tiny config
    dim → broadcast nested-loop join, evaluated map-side."""
    p = patterns.select(F.lower(F.col(pattern_col)).alias("__pat")).distinct()
    if broadcast_patterns:
        p = F.broadcast(p)
    cond = F.lower(F.col(col)).contains(F.col("__pat"))
    return df.join(p, cond, "left_semi")


def apply_cdc_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Batch CDC MERGE: apply a change set carrying per-row operation
    codes ('D' = delete, anything else = upsert) to a keyed base table
    — the Delta/Iceberg ``MERGE INTO ... WHEN MATCHED DELETE / WHEN
    MATCHED UPDATE / WHEN NOT MATCHED INSERT`` contract expressed as
    two anti-joins and a union on plain DataFrames:

    - delete keys drop their base rows (left_anti);
    - upsert rows REPLACE same-key base rows (second left_anti on the
      survivors) and insert otherwise — one code path for both, which
      is exactly how table formats implement matched-update +
      not-matched-insert;
    - change rows win over base rows unconditionally (the caller
      pre-reduces the change set to one row per key — the usual CDC
      compaction contract, e.g. via windows latest-per-key);
    - if a change set nonetheless carries BOTH a delete and an upsert
      for the same key, the delete wins (the upsert is anti-joined
      away) — destructive intent is explicit and must not be silently
      resurrected; multiple upsert rows for one key remain the
      caller's contract (there is no timestamp here to order them);
    - NULL key values follow SQL join semantics and never match:
      NULL-key base rows are always kept, NULL-key upsert rows always
      insert (appending, possibly alongside NULL-key base rows), and a
      NULL-key delete row deletes nothing.

    At 100 TB all four legs hash-join on the same key columns, so one
    co-partitioning serves the whole merge; a table format swaps the
    full-table rewrite for file-level merge-on-read, the join shape is
    identical. Callers wanting last-writer-wins across base AND
    changes with timestamps should use the silver upsert
    (streaming/incremental.upsert_silver_batch) instead."""
    on = list(keys)
    # eqNullSafe: a NULL op code must take the upsert leg per the
    # "anything else = upsert" contract — plain ==/!= would evaluate
    # NULL on both filters and silently drop the row
    is_del = F.col(op_col).eqNullSafe("D")
    dels = changes.filter(is_del).select(*on)
    # delete-wins guard: drop upsert rows whose key also has a delete
    # row, else the final union would re-insert a just-deleted key
    ups = changes.filter(~is_del).drop(op_col).join(dels, on, "left_anti")
    kept = base.join(dels, on, "left_anti")
    return kept.join(ups.select(*on), on, "left_anti").unionByName(ups)


def snapshot_diff(
    before: DataFrame,
    after: DataFrame,
    keys: tuple[str, ...],
    measure: str = "n",
) -> DataFrame:
    """Period-over-period (or version-over-version) entity diff — the
    report every retention/churn/demand-mix dashboard and every
    snapshot-compare tool renders: FULL OUTER join two keyed states
    and classify each entity as ``added`` (after only), ``removed``
    (before only), ``grew`` / ``shrank`` (both, measure moved), or
    ``stable``. Emits the keys, both measures (NULL on the missing
    side), and the class.

    Presence is carried by an explicit lit(true) marker per side,
    NOT by measure null-ness: an entity present in a state whose
    measure VALUE is NULL must classify as present (a measure-null
    row on both sides is ``stable`` under the unknown-comparison
    rule below, not ``added``). The CASE must never test ``keys``
    either — full-outer coalesces join keys, so a key column is
    non-null even for one-sided rows.

    NULL-measure contract: a side can be present with a NULL
    measure; grew/shrank comparisons against NULL are unknown, so
    such present-both entities fall through to ``stable``.

    At 100 TB: one co-keyed full-outer join of two pre-aggregated
    (entity-grain, not fact-grain) states — both sides shuffle once
    on the same keys; classification is map-side."""
    on = list(keys)
    # measures surface as DOUBLE: a nullable integer column crosses
    # Arrow/pandas as float anyway (one-sided rows are NULL here by
    # construction), so an explicit cast keeps both engines' dtypes
    # aligned for the driver's value-hash
    b = before.select(
        *on,
        F.col(measure).cast("double").alias("n_before"),
        F.lit(True).alias("__in_before"),
    )
    a = after.select(
        *on,
        F.col(measure).cast("double").alias("n_after"),
        F.lit(True).alias("__in_after"),
    )
    joined = b.join(a, on, "full_outer")
    cls = (
        F.when(F.col("__in_before").isNull(), F.lit("added"))
        .when(F.col("__in_after").isNull(), F.lit("removed"))
        .when(F.col("n_after") > F.col("n_before"), F.lit("grew"))
        .when(F.col("n_after") < F.col("n_before"), F.lit("shrank"))
        .otherwise(F.lit("stable"))
    )
    return joined.select(*on, "n_before", "n_after", cls.alias("change_type"))
