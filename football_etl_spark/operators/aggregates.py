"""Aggregation operators (SURVEY.md §2.4).

All are single groupBy/agg passes — Catalyst plans partial (map-side)
aggregation automatically, so these are shuffle-light at scale. The
observability aggregates (null counts, completion, duplicate counts)
reproduce the reference's validation/stats surface
(utils/data_utils.py:194-235, pipeline.py:103-118) as ONE pass over
the table instead of pandas' repeated full scans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def value_counts(df: DataFrame, col: str, desc: bool = True, limit: int | None = None) -> DataFrame:
    """groupBy-count ranked (examples/visualize_data.py:71;
    daily_match_scraper.py:670-723 top-10 reports)."""
    out = df.groupBy(col).agg(F.count("*").alias("n"))
    out = out.orderBy(F.desc("n") if desc else F.asc("n"), col)
    return out.limit(limit) if limit else out


def completion_ratio(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Whole-table data-completion % — mean of per-column non-null
    densities (pipeline.py:108, processors/data_processor.py:383)."""
    cols = cols or df.columns
    per_col = [F.avg(F.col(c).isNotNull().cast("double")) for c in cols]
    total = per_col[0]
    for p in per_col[1:]:
        total = total + p
    return df.agg((total / F.lit(len(cols))).alias("completion"))


def distinct_union(df: DataFrame, col_a: str, col_b: str, out: str) -> DataFrame:
    """Distinct values of two columns united — all teams = home ∪ away
    (scrapers/team_scraper.py:938-940)."""
    return (
        df.select(F.col(col_a).alias(out))
        .unionByName(df.select(F.col(col_b).alias(out)))
        .distinct()
    )


def table_stats(df: DataFrame, key_cols: Sequence[str], distinct_cols: Sequence[str]) -> Row:
    """The pipeline_stats dict (pipeline.py:103-113) as one agg pass:
    row count, duplicate count on the key, count-distinct per listed
    column. Returns a single collected Row (driver-side by design —
    it is the job summary, not a data path)."""
    aggs = [
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count_distinct(*[F.col(k) for k in key_cols])).alias("n_duplicates"),
    ]
    aggs += [F.count_distinct(c).alias(f"n_{c}") for c in distinct_cols]
    return df.agg(*aggs).collect()[0]


def profile_columns(
    df: DataFrame, cols: Sequence[str], approx: bool = False
) -> DataFrame:
    """Long-format numeric column profile — (col_name, n_rows, n_nulls,
    n_distinct, min_value, max_value) — in ONE aggregation pass over
    the table (the scalable replacement for per-column pandas
    ``describe`` loops: profiling 100 TB must not rescan per column).

    Exact multi-column count-distinct plans through Spark's Expand
    (one duplicated stream per distinct agg) — the right default while
    an oracle checks values; pass ``approx=True`` at cluster scale to
    collapse the Expand into mergeable HLL partials. Values are cast
    to double (bit-identical cross-engine for identical input sets;
    no string-formatting ambiguity)."""
    n_distinct = (
        (lambda c: F.approx_count_distinct(c)) if approx else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            n_distinct(c).alias(f"__nd_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


def validate_rules(df: DataFrame, rules: dict) -> DataFrame:
    """Declarative expectation checking: ``rules`` maps rule name →
    boolean "row is valid" Column; output is one row per rule with
    its violation count and ratio (violation = predicate false OR
    null, so a null never silently passes). All rules evaluate in a
    single scan-level aggregation — the data-quality gate pattern for
    a pipeline: assert on the returned counts before publishing.
    Mirrors the reference's validation surface
    (utils/data_utils.py:194-235) as one pass instead of per-check
    rescans."""
    aggs = [F.count("*").alias("__n")] + [
        F.sum((~F.coalesce(pred, F.lit(False))).cast("long")).alias(f"__v_{name}")
        for name, pred in rules.items()
    ]
    wide = df.agg(*aggs)
    per_rule = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"__v_{name}").alias("n_violations"),
                (F.col(f"__v_{name}") / F.col("__n")).alias("violation_ratio"),
            )
            for name in rules
        ]
    )
    return wide.select(F.explode(per_rule).alias("r")).select("r.*")
