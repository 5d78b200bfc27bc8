"""Registry-wide broadcast-hint convention gate (VERDICT r8 ask #6).

The convention: no forced ``F.broadcast()`` on an SF-proportional
relation — AQE must stay free to shuffle-join it at 100 TB. The
auditor (plans/hint_audit.py) walks every registered query's analyzed
plan; a broadcast hint whose subtree scans an SF-scaled table without
a provable cardinality bound (global aggregate, limit) must appear in
the allowlist below WITH a written justification, or the gate fails.

This makes the r9 hint sweep permanent: re-introducing the
"broadcast the customer table" class anywhere in the registry turns
the build red, the same way test_registry_non_vacuous.py made the
vacuous-predicate class unrepeatable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from football_etl_spark.io.loader import load_table
from football_etl_spark.plans.hint_audit import audit_hints, violations
from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_SMOKE

# Sanctioned hint sites: query name -> {frozenset of SF tables the
# hinted subtree scans}. Every entry must say WHY the subtree's
# cardinality is bounded by something the plan walker cannot see.
# A hint on a bounded-domain GROUPED aggregate is invisible to the
# walker (it only auto-passes UNGROUPED aggregates and limits), so
# the bounded grouping domains are recorded here.
ALLOWED: dict[str, set[frozenset]] = {
    # Queries side is a literal fixed query-ID filter (8 ids) — the
    # sanctioned bounded ANN query set; cardinality set by the
    # caller's id list, not the corpus SF.
    "ann_cosine_topk": {frozenset({"embeddings"})},
    "lsh_banded_ann_topk": {frozenset({"embeddings"})},
    "lsh_banded_recall": {frozenset({"embeddings"})},
    "lsh_recall_at_k": {frozenset({"embeddings"})},
    # Same recall-gauge shape as lsh_recall_at_k: the broadcast IVF
    # hit list is k-bounded per query (8 queries x 10 rows) by the
    # retriever's rank filter, which the walker cannot see.
    "ivf_recall_at_k": {frozenset({"embeddings"})},
    "retrieval_topk_docs": {frozenset({"embeddings"})},
    # Dense RRF leg: the same sanctioned bounded ANN query side — the
    # query vectors are embeddings filtered to the literal
    # _BM25_QUERIES id list (3 ids), caller-set, not corpus-SF.
    "hybrid_rrf_topk": {frozenset({"embeddings"})},
    # (chi_square_priority_status's contingency-table hint row was
    # removed in r12: the wave-2 localCheckpoint re-plan severs the
    # orders lineage, so the walker no longer attributes an SF table
    # to the hinted subtree — the checkpointed 15-row relation is
    # auto-bounded.)
    # Daily-revenue spine grouped by calendar day: dates-sized
    # (~2.5k rows over the 7-year data window), not orders-sized.
    "ewma_daily_revenue": {frozenset({"orders"})},
    # DISTINCT event_type — bounded enum domain (~8 values).
    "gap_filled_daily_totals": {frozenset({"events"})},
    # Per-label vector counts: K cluster labels, bounded by the
    # clustering config, not the corpus.
    "label_centroids": {frozenset({"embeddings"})},
    # Median/MAD/band moments grouped per event_type — bounded enum.
    "robust_outlier_flags": {frozenset({"events"})},
    # Weekday moments: exactly 7 rows.
    "seasonal_outlier_days": {frozenset({"orders"})},
    # Per-language-stratum resampling rates — bounded by the
    # language-ID domain.
    "temperature_resampled_corpus": {frozenset({"documents"})},
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_sf_scaled_broadcast_hints(spark, name):
    qd = REGISTRY[name]
    allow = frozenset(ALLOWED.get(name, set()))
    bad = violations(qd.fn(spark, SF_SMOKE), allow=allow)
    assert not bad, (
        f"{name} force-broadcasts SF-proportional relation(s) "
        f"{[sorted(r['sf_tables']) for r in bad]} — drop the hint and "
        "let AQE size it, or add a justified ALLOWED entry"
    )


def test_allowlist_has_no_dead_entries(spark):
    """Every ALLOWED entry must still correspond to a live hint —
    otherwise the allowlist rots into a bypass for future hints."""
    for name, allowed_sets in ALLOWED.items():
        qd = REGISTRY.get(name)
        assert qd is not None, f"ALLOWED names unknown query {name}"
        live = {
            r["sf_tables"]
            for r in audit_hints(qd.fn(spark, SF_SMOKE))
            if r["sf_tables"] and not r["bounded"]
        }
        stale = allowed_sets - live
        assert not stale, f"ALLOWED[{name}] has stale entries: {stale}"


def test_auditor_flags_seeded_violation(spark):
    """The gate must actually fire: a hand-built forced broadcast of
    the unfiltered customer table (the exact r8 anti-pattern) is
    flagged, and the same join unhinted is clean."""
    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders")
    seeded = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    bad = violations(seeded)
    assert len(bad) == 1 and bad[0]["sf_tables"] == frozenset({"customer"}), bad

    clean = o.join(c, o.o_custkey == c.c_custkey)
    assert violations(clean) == []


def test_auditor_passes_bounded_shapes(spark):
    """Global aggregates, limits, and fixed dims stay hintable."""
    c = load_table(spark, SF_SMOKE, "customer")
    n = load_table(spark, SF_SMOKE, "nation")
    one_row = c.agg(F.count("*").alias("n"))
    assert violations(c.crossJoin(F.broadcast(one_row))) == []
    topk = c.orderBy("c_custkey").limit(5)
    assert violations(c.join(F.broadcast(topk), "c_custkey")) == []
    assert violations(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)) == []


def test_auditor_ignores_scale_safe_strategy_hints(spark):
    """ADVICE r9: only BROADCAST-strategy hints are audited. A
    shuffle_hash or merge hint on an SF-proportional relation is the
    convention's PREFERRED degradation and must not trip the gate."""
    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders")
    assert violations(o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)) == []
    assert violations(o.join(c.hint("merge"), o.o_custkey == c.c_custkey)) == []
    # ...while the broadcast spelling variants all still fire
    for h in ("broadcast", "broadcastjoin", "mapjoin"):
        bad = violations(o.join(c.hint(h), o.o_custkey == c.c_custkey))
        assert len(bad) == 1 and bad[0]["sf_tables"] == frozenset({"customer"}), h


def test_auditor_requires_bound_at_subtree_root(spark):
    """ADVICE r9: a bounding node buried INSIDE the hinted subtree must
    not launder an SF-proportional broadcast. broadcast(customer x
    one_row_agg) is customer-sized; the old any-descendant scan passed
    it, the structural check must flag it."""
    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders")
    one_row = o.agg(F.count("*").alias("n"))
    seeded = o.join(
        F.broadcast(c.crossJoin(one_row)), o.o_custkey == c.c_custkey
    )
    bad = violations(seeded)
    assert len(bad) == 1 and "customer" in bad[0]["sf_tables"], bad
    # ...but a bound that structurally propagates to the root stays
    # hintable: limit-then-project, and a semi-join whose LEFT side is
    # the bounded one.
    topk_proj = c.orderBy("c_custkey").limit(5).select("c_custkey", "c_name")
    assert violations(c.join(F.broadcast(topk_proj), "c_custkey")) == []
    semi = (
        c.orderBy("c_custkey")
        .limit(7)
        .join(o, c.c_custkey == o.o_custkey, "left_semi")
    )
    assert violations(c.join(F.broadcast(semi), "c_custkey")) == []
