"""Registry-wide vacuity gate — the permanent form of the round-7
audit that caught two silently-vacuous green entries
(purchase_asof_login matched a nonexistent event type so every as-of
match column was NULL; users_without_purchase was structurally empty).
An oracle can only prove Spark == DuckDB; it cannot prove the query
computes anything. This gate adds the missing half: every registered
entry, executed at the smallest test SF, must

  1. return at least one row, and
  2. have no column that is NULL in EVERY row,

unless the entry is explicitly allowlisted here WITH a reason. Both
r7 finds would have tripped it: purchase_asof_login's joined columns
were 100% NULL (rule 2), users_without_purchase returned 0 rows
(rule 1).

The allowlist is deliberately a visible dict in this file, not a doc
marker — adding an entry to it is a reviewable act.
"""

from __future__ import annotations

import pytest

from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_SMOKE

# name -> reason a 0-row result is legitimate at sf0.001.
# (Empty today: every registered entry returns rows at the smallest SF;
# zorder_sink_pruned_read's rectangle was re-centered in r8 precisely
# so it could come OFF this list.)
EMPTY_OK: dict[str, str] = {}

# (name, column) -> reason an all-NULL column is legitimate at sf0.001.
ALL_NULL_OK: dict[tuple[str, str], str] = {}

_ALL = sorted(REGISTRY)


@pytest.mark.parametrize("name", _ALL)
def test_registry_non_vacuous(spark, name):
    q = REGISTRY[name]
    rows = q.fn(spark, SF_SMOKE).collect()
    if not rows:
        assert name in EMPTY_OK, (
            f"{name} returned 0 rows at {SF_SMOKE} and is not "
            "allowlisted — a 0-row result is oracle-green even when "
            "the query is structurally empty (the r7 "
            "users_without_purchase failure mode)"
        )
        return
    for col in rows[0].asDict():
        if all(r[col] is None for r in rows):
            assert (name, col) in ALL_NULL_OK, (
                f"{name}.{col} is NULL in every row at {SF_SMOKE} — "
                "an all-NULL joined column is oracle-green even when "
                "the join matches nothing (the r7 purchase_asof_login "
                "failure mode)"
            )


# ---------------------------------------------------------------------------
# Third dimension (r9, r8 verdict ask #7): results must VARY with the
# scale factor. An entry whose output is bit-identical at sf0.001 and
# sf0.01 despite scanning a table that grew 10x is suspicious — the
# r8 by-hand find (a degenerate single-cell cohort matrix) was exactly
# this shape: oracle-green, non-empty, non-NULL, and yet insensitive
# to the data. documents/embeddings are EXCLUDED from the trigger set
# because the generator holds them constant between sf0.001 and
# sf0.01 (500 rows at both; they first grow at sf0.1), so
# doc/embedding-family entries are invariant by the data model, not
# by vacuity; entries scanning no SF table at all (literal fixtures,
# raw-dump captures) are likewise exempt by construction.
# ---------------------------------------------------------------------------

_MID_SF = "/root/testdata/sf0.01"

# Tables that actually grow between SF_SMOKE and _MID_SF.
_SCALES_AT_SMOKE_STEP = frozenset(
    {"events", "orders", "lineitem", "customer", "supplier", "part"}
)

# name -> reason an identical result across the 10x step is legitimate.
SF_INVARIANT_OK: dict[str, str] = {
    "events_completion_ratio": (
        "events carries ZERO nulls at every SF by generator "
        "construction, so the mean non-null density is exactly 1.0 "
        "at any scale — the metric is data-honest, just saturated"
    ),
    "fuzzy_name_matches": (
        "the pair set is DOMAIN-driven, not row-driven: distinct "
        "p_name grows only 62 -> 64 across the step and every SF's "
        "domain contains the identical 24 <=2-edit pairs (verified "
        "at sf0.001/sf0.01/sf0.1 when the gate was added) — part "
        "names draw from a near-fixed vocabulary whose close pairs "
        "saturate immediately"
    ),
}


def _fingerprint(df):
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return (row["n"], row["h"])


def _scan_tables(df) -> set[str]:
    from football_etl_spark.plans.hint_audit import _relation_tables

    return _relation_tables(df._jdf.queryExecution().analyzed())


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_registry_varies_with_scale(spark, name):
    q = REGISTRY[name]
    small = q.fn(spark, SF_SMOKE)
    if not (_scan_tables(small) & _SCALES_AT_SMOKE_STEP):
        pytest.skip("scans no table that grows between sf0.001 and sf0.01")
    fp_small = _fingerprint(small)
    fp_mid = _fingerprint(q.fn(spark, _MID_SF))
    if fp_small == fp_mid:
        assert name in SF_INVARIANT_OK, (
            f"{name} is bit-identical at sf0.001 and sf0.01 "
            f"(fingerprint {fp_small}) despite scanning a 10x-grown "
            "table — oracle-green scale-insensitivity is the r8 "
            "degenerate-cohort failure mode; fix the predicate/grain "
            "or justify it in SF_INVARIANT_OK"
        )
