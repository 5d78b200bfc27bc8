"""Semantic invariants for the round-7 wave — properties the
oracle hash-gate can't state (it proves cross-engine equality, not
that BOTH engines compute the right thing)."""

from __future__ import annotations

from football_etl_spark.plans.queries import REGISTRY

from .conftest import SF_SMOKE


def _q(name):
    return REGISTRY[name].fn


def test_pagerank_mass_conserved_and_positive(spark):
    """Each power iteration preserves total rank mass — INCLUDING the
    dangling-node redistribution: nations with no outgoing trade edge
    exist at small SF, and their mass is spread uniformly rather than
    lost, which is exactly what keeps sum(pr) == 1 up to the 6dp
    emission rounding. Every node keeps at least the teleport floor
    0.15/N."""
    rows = _q("pagerank_trade_graph")(spark, SF_SMOKE).collect()
    n = len(rows)
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < n * 1e-6, total
    assert all(r.pagerank >= 0.15 / n - 1e-6 for r in rows)


def test_ewma_first_day_equals_its_revenue(spark):
    """A day with no prior days in the 21-day horizon gets weight only
    from itself, so its EWMA is exactly its own daily revenue (the
    integer num/den cancels to rev_cents/1/100)."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    got = {r.day: r.ewma_rev for r in _q("ewma_daily_revenue")(spark, SF_SMOKE).collect()}
    d = (
        load_table(spark, SF_SMOKE, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg((F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev"))
        .orderBy("day")
        .limit(1)
        .collect()[0]
    )
    assert abs(got[d.day] - d.rev) < 1e-9
    # smoothing keeps every EWMA inside the global daily-revenue range
    revs = [
        r.rev
        for r in load_table(spark, SF_SMOKE, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg((F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("rev"))
        .collect()
    ]
    lo, hi = min(revs), max(revs)
    assert all(lo - 1e-9 <= v <= hi + 1e-9 for v in got.values())


def test_basket_pairs_bounds(spark):
    rows = _q("basket_item_pairs_lift")(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.part_a < r.part_b
        assert r.co_orders >= 2
        assert 0.0 < r.support <= 1.0
        # confidence = P(b|a) conditioned on the LESS specific event
        assert 0.0 < r.confidence <= 1.0
        assert r.lift > 0.0


def test_cohort_period0_is_cohort_size_ceiling(spark):
    """Every cohort member is active on their first day by
    construction, so the period-0 cell is the cohort's size and no
    later period can exceed it. (Daily grain since r8: the synthetic
    feed spans one calendar month, so monthly cohorts were a
    degenerate single cell.)"""
    rows = _q("cohort_retention")(spark, SF_SMOKE).collect()
    assert len(rows) > 1, "cohort matrix should not be degenerate"
    base = {r.cohort_d: r.n_users for r in rows if r.period == 0}
    for r in rows:
        assert r.cohort_d in base, f"cohort {r.cohort_d} missing period 0"
        assert r.n_users <= base[r.cohort_d], (r, base[r.cohort_d])


def test_running_balance_partitions_all_events(spark):
    """Reset segmentation is a partition of each user's event stream:
    segment row counts sum back to the user's event count, and every
    balance is the sum of non-marker values (never negative here
    because events.value >= 0 in the synthetic feed)."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    got = _q("running_balance_resets")(spark, SF_SMOKE)
    per_user = {
        r.user_id: r.total
        for r in got.groupBy("user_id").agg(F.sum("n_events").alias("total")).collect()
    }
    want = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_user == want


def test_sliding_distinct_dominates_daily_distinct(spark):
    """The trailing-7-day distinct count can never be below the same
    day's 1-day distinct count (superset window)."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    got = {r.day: r.users_7d for r in _q("sliding_distinct_users")(spark, SF_SMOKE).collect()}
    daily = {
        r.day: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(daily)
    assert all(got[d] >= daily[d] for d in daily)


def test_rfm_codes_well_formed_and_complete(spark):
    """Every emitted segment decodes to three quartile digits in 1..4
    and segment populations sum to the ordering-customer count."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    rows = _q("rfm_segments")(spark, SF_SMOKE).collect()
    for r in rows:
        digits = (r.segment // 100, (r.segment // 10) % 10, r.segment % 10)
        assert all(1 <= d <= 4 for d in digits), r
        assert r.avg_monetary > 0
    n = sum(r.n_customers for r in rows)
    want = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert n == want


def test_chi_square_nonnegative_with_exact_dof(spark):
    from football_etl_spark.io.loader import load_table

    row = _q("chi_square_priority_status")(spark, SF_SMOKE).collect()[0]
    o = load_table(spark, SF_SMOKE, "orders")
    nr = o.select("o_orderpriority").distinct().count()
    nc = o.select("o_orderstatus").distinct().count()
    assert row.chi2 >= 0.0
    assert row.dof == (nr - 1) * (nc - 1)


def test_dq_report_shape_and_clean_feed(spark):
    """Six named checks, each violations <= checked; the synthetic
    tables are referentially clean so every expectation passes."""
    rows = _q("dq_expectations_report")(spark, SF_SMOKE).collect()
    assert len(rows) == 6
    assert len({r.check_name for r in rows}) == 6
    for r in rows:
        assert 0 <= r.violations <= r.checked, r
        assert r.violations == 0, f"synthetic feed unexpectedly dirty: {r}"


def test_correlation_bounded(spark):
    for r in _q("segment_spend_correlation")(spark, SF_SMOKE).collect():
        assert -1.0 <= r.corr_bal_spend <= 1.0


def test_transition_matrix_rows_normalize_and_count(spark):
    """Each from-status row of the Markov matrix is a probability
    distribution, and total transitions = n_orders - n_customers
    (every customer contributes len(sequence)-1 pairs)."""
    from collections import defaultdict

    from football_etl_spark.io.loader import load_table

    rows = _q("order_status_transition_matrix")(spark, SF_SMOKE).collect()
    by_from = defaultdict(float)
    for r in rows:
        assert 0.0 < r.p <= 1.0
        by_from[r.from_status] += r.p
    for v in by_from.values():
        assert abs(v - 1.0) < 1e-9
    o = load_table(spark, SF_SMOKE, "orders")
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r.n for r in rows) == n_orders - n_cust


def test_weekday_profile_complete_and_centered(spark):
    """All seven ISO weekdays appear, day counts reconcile with the
    distinct-day total, and the day-weighted mean of the seasonality
    index is exactly 1 (it is normalized by the grand daily mean)."""
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table

    rows = _q("weekday_seasonality_profile")(spark, SF_SMOKE).collect()
    assert sorted(r.iso_dow for r in rows) == [1, 2, 3, 4, 5, 6, 7]
    n_days = (
        load_table(spark, SF_SMOKE, "orders")
        .select(F.col("o_orderdate").cast("date"))
        .distinct()
        .count()
    )
    assert sum(r.n_days for r in rows) == n_days
    weighted = sum(r.seasonality_idx * r.n_days for r in rows) / n_days
    assert abs(weighted - 1.0) < 1e-9


def test_seasonal_outliers_exceed_threshold(spark):
    rows = _q("seasonal_outlier_days")(spark, SF_SMOKE).collect()
    for r in rows:
        assert abs(r.z) > 2.0 - 1e-9, r


def test_time_to_convert_order_statistics_ordered(spark):
    row = _q("time_to_convert_stats")(spark, SF_SMOKE).collect()[0]
    assert row.n_converted > 0
    assert (
        0
        <= row.min_gap_us
        <= row.median_gap_us
        <= row.p90_gap_us
        <= row.max_gap_us
    )


def test_clean_conversion_pattern_independent_recheck(spark):
    """Re-derive the pattern per user with plain Python over the raw
    events and require the exact same matched set."""
    from collections import defaultdict
    from datetime import timedelta

    from football_etl_spark.io.loader import load_table

    got = {r.user_id for r in _q("clean_conversion_pattern")(spark, SF_SMOKE).collect()}
    by_user = defaultdict(list)
    for r in load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts"
    ).collect():
        by_user[r.user_id].append((r.event_type, r.ts))
    want = set()
    for uid, evs in by_user.items():
        s = min((t for k, t in evs if k == "signup"), default=None)
        p = min((t for k, t in evs if k == "purchase"), default=None)
        if s is None or p is None or not (s <= p <= s + timedelta(days=7)):
            continue
        if any(k == "error" and s < t < p for k, t in evs):
            continue
        want.add(uid)
    assert got == want


def test_ratio_to_parent_shares_sum_to_one(spark):
    from collections import defaultdict

    rows = _q("ratio_to_parent_revenue")(spark, SF_SMOKE).collect()
    by_region = defaultdict(float)
    region_share = {}
    for r in rows:
        by_region[r.r_name] += r.share_of_region
        region_share[r.r_name] = r.region_share_of_total
    for v in by_region.values():
        assert abs(v - 1.0) < 1e-9
    assert abs(sum(region_share.values()) - 1.0) < 1e-9
