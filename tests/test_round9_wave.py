"""Round-9 fixes: overflow guard, PCA Gram cache, snapshot_diff
presence contract (the four ADVICE r8 findings, made regressions)."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from football_etl_spark.operators.joins import snapshot_diff
from football_etl_spark.plans.queries import REGISTRY
from football_etl_spark.session import session_memo

from .conftest import SF_SMOKE


def test_trend_slope_overflow_guard_fires(spark, tmp_path):
    """The session pins ANSI off, so the per-customer long co-moment
    partials use try_sum (checked adds, NULL on breach) and an
    assert_true guard — a customer whose sum(y*y) exceeds int64 must
    ABORT the query, never ship a silently-wrong slope. Two orders of
    30.3M each give y = 3.03e9, y² = 9.18e18 (still a legal long per
    term) and a partial sum of 1.8e19 > 2^63-1."""
    for t in ("customer", "nation"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet").iloc[0]
    pd.DataFrame(
        {
            "o_orderkey": [1, 2],
            "o_custkey": [int(cust.c_custkey)] * 2,
            "o_orderdate": pd.to_datetime(
                ["1997-01-01", "1997-01-02"]
            ).astype("datetime64[us]"),
            "o_totalprice": [30_300_000.0, 30_300_000.0],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    with pytest.raises(Exception, match="overflowed int64"):
        REGISTRY["trend_slope_by_market"].fn(spark, str(tmp_path)).collect()


def test_trend_slope_happy_path_unchanged(spark):
    """try_sum partials are value-identical to sum when nothing
    overflows: the smoke-SF result must match the plain-sum spelling
    exactly."""
    out = {
        r["n_name"]: r
        for r in REGISTRY["trend_slope_by_market"].fn(spark, SF_SMOKE).collect()
    }
    assert out, "no rows"
    assert all(r["n_orders"] > 0 for r in out.values())
    assert all(r["r2"] is None or 0.0 <= r["r2"] <= 1.0 + 1e-12 for r in out.values())


def test_pca_gram_cache_holds_collected_rows(spark):
    """ADVICE r8: the per-session cache must hold the COLLECTED Gram
    triangle (a list — the distributed job paid once), not a lazy
    DataFrame that re-runs the Gram job on every invocation. Two
    invocations return identical loadings from the same cached rows."""
    first = REGISTRY["pca_top_component"].fn(spark, SF_SMOKE).collect()
    cached = session_memo(
        spark, (SF_SMOKE, "pca_gram_rows"), lambda: pytest.fail("no memo entry")
    )
    assert isinstance(cached, list) and len(cached) == 64 * 65 // 2, type(cached)
    second = REGISTRY["pca_top_component"].fn(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_snapshot_diff_presence_not_measure_nullness(spark):
    """ADVICE r8: presence must ride an explicit per-side marker. An
    entity present in a state with a NULL measure value was formerly
    misclassified 'added'/'removed'; NULL-on-both-sides became
    'added'. Now: present+NULL-measure rows classify by presence, and
    unknown comparisons fall to 'stable'."""
    b = spark.createDataFrame(
        [("k_both_null", None), ("k_removed", None), ("k_b_null", None),
         ("k_grew", 1.0)],
        "k string, n double",
    )
    a = spark.createDataFrame(
        [("k_both_null", None), ("k_added", None), ("k_b_null", 5.0),
         ("k_grew", 2.0)],
        "k string, n double",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(b, a, keys=("k",), measure="n").collect()
    }
    assert got == {
        "k_both_null": "stable",   # present both, measures unknown
        "k_removed": "removed",    # present before only, despite NULL measure
        "k_added": "added",        # present after only, despite NULL measure
        "k_b_null": "stable",      # present both, one-sided NULL -> unknown
        "k_grew": "grew",
    }, got


def test_snapshot_diff_no_marker_columns_leak(spark):
    b = spark.createDataFrame([("x", 1.0)], "k string, n double")
    a = spark.createDataFrame([("x", 2.0)], "k string, n double")
    out = snapshot_diff(b, a, keys=("k",), measure="n")
    assert out.columns == ["k", "n_before", "n_after", "change_type"]


def test_cohort_bitmask_equals_collect_set_fallback(spark):
    """The r9 bitmask fast path (span <= 63 days) must be value-
    identical to the collect_set fallback on the same input."""
    from football_etl_spark.io.loader import load_table
    from football_etl_spark.plans.queries import REGISTRY

    fast = {
        (r["cohort_d"], r["period"]): r["n_users"]
        for r in REGISTRY["cohort_retention"].fn(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", F.unix_date(F.col("ts").cast("date")).alias("d")
    )
    per_user = ev.groupBy("user_id").agg(F.collect_set("d").alias("ds"))
    slow = {
        (r["cohort_d"], r["period"]): r["n_users"]
        for r in per_user.select(
            F.array_min("ds").alias("c"), F.explode("ds").alias("d")
        )
        .select(
            F.col("c").cast("int").alias("cohort_d"),
            (F.col("d") - F.col("c")).cast("int").alias("period"),
        )
        .filter(F.col("period") <= 6)
        .groupBy("cohort_d", "period")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .collect()
    }
    assert fast == slow and len(fast) > 1


def test_cohort_wide_span_takes_fallback(spark, tmp_path):
    """A feed spanning > 63 days must route to the collect_set form
    and still produce correct cells (bit positions would wrap)."""
    from football_etl_spark.plans.queries import REGISTRY

    ev = pd.DataFrame(
        {
            "event_id": range(6),
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-06-01",
                 "2024-06-03", "2024-01-05", "2024-06-08"]
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1, 2, 2, 2],
            "event_type": ["a"] * 6,
            "value": [1.0] * 6,
            "props": ["{}"] * 6,
        }
    )
    ev.to_parquet(tmp_path / "events.parquet")
    got = {
        (r["cohort_d"], r["period"]): r["n_users"]
        for r in REGISTRY["cohort_retention"].fn(spark, str(tmp_path)).collect()
    }
    # user1 cohort 2024-01-01 (d=19723): periods 0, 1 (Jun beyond 6)
    # user2 cohort 2024-01-05 (d=19727): period 0 only
    assert got == {(19723, 0): 1, (19723, 1): 1, (19727, 0): 1}, got


def test_minhash_bucket_cap_subset_and_binds(spark):
    """minhash_near_dups_capped (the banded-join df-cap analogue) must
    emit a strict SUBSET of the uncapped pairs at a SF where the cap
    binds, and be identical when the cap exceeds the largest bucket."""
    from football_etl_spark.io.loader import load_table
    from football_etl_spark.operators import dedup

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    un = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(d, max_bucket_size=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(d, max_bucket_size=2).collect()
    }
    assert capped < un, (len(capped), len(un))  # strict subset: cap binds
    loose = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(d, max_bucket_size=10**6).collect()
    }
    assert loose == un


def test_lorenz_gini_matches_bruteforce(spark, tmp_path):
    """Pin the radix-rank Gini against the textbook O(n log n)
    formula on a synthetic orders table with duplicate prices (rank
    ties broken by key) and values spanning several radix buckets."""
    from football_etl_spark.plans.queries import REGISTRY

    vals = [1013.70, 499978.59, 250000.00, 250000.00, 99.99,
            75000.25, 75000.25, 310111.11, 12.00, 480000.00,
            123456.78, 123456.78, 123456.78, 2500.50, 68000.00]
    od = pd.DataFrame(
        {
            "o_orderkey": range(1, len(vals) + 1),
            "o_custkey": [1] * len(vals),
            "o_orderstatus": ["O"] * len(vals),
            "o_totalprice": vals,
            "o_orderdate": pd.to_datetime(["2024-01-01"] * len(vals)).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": ["1-URGENT"] * len(vals),
        }
    )
    od.to_parquet(tmp_path / "orders.parquet")
    got = {
        r["decile"]: (r["n_orders"], float(r["decile_value"]),
                      r["cum_share"], r["gini"])
        for r in REGISTRY["lorenz_gini_order_value"].fn(spark, str(tmp_path)).collect()
    }
    # brute force: sort by (price, key) ascending, 1-based ranks
    from decimal import Decimal

    rows = sorted(
        (Decimal(f"{v:.2f}"), k) for k, v in enumerate(vals, start=1)
    )
    n = len(rows)
    sx = sum(x for x, _ in rows)
    srx = sum(Decimal(i) * x for i, (x, _) in enumerate(rows, start=1))
    gini = round(
        (2.0 * float(srx) - (n + 1.0) * float(sx)) / (n * float(sx)), 6
    )
    want: dict[int, list] = {}
    for i, (x, _) in enumerate(rows, start=1):
        dec = int((i - 1) * 10.0 / n)
        want.setdefault(dec, [0, Decimal(0)])
        want[dec][0] += 1
        want[dec][1] += x
    cum = Decimal(0)
    for dec in sorted(want):
        cnt, dv = want[dec]
        cum += dv
        exp = (cnt, float(dv), round(float(cum) / float(sx), 6), gini)
        assert got[dec] == exp, (dec, got[dec], exp)
    assert set(got) == set(want) and len(got) >= 5


def test_context_budget_token_count_is_field_count(spark, tmp_path):
    """The portable token count is LENGTH-REPLACE field arithmetic:
    consecutive spaces count as extra (empty) fields by contract —
    the cross-engine exactness trade documented in the entry doc."""
    from football_etl_spark.plans.queries import REGISTRY

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b  c", "one", "x " * 20],  # 4, 1, 21 fields
            # ("x " * 20 = 20 x's + 20 spaces incl. trailing -> 21
            # fields, the trailing one empty)
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [6, 3, 40],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got = {
        r["budget"]: (r["total_tokens"], r["tokens_lost"], r["docs_truncated"])
        for r in REGISTRY["context_budget_truncation"].fn(spark, str(tmp_path)).collect()
    }
    # field counts: 4, 1, 21 -> total 26
    assert got[16] == (26, 21 - 16, 1)
    assert got[32] == (26, 0, 0)
    assert got[64] == (26, 0, 0)
    assert got[128] == (26, 0, 0)


def test_entropy_pivot_fast_path_equals_generic(spark, tmp_path):
    """The bounded-domain pivot path must reproduce the generic
    rollup semantics (pinned by hand-computed entropies), including
    NULL event_type as its own grouping value and single-type days
    landing EXACTLY in bin 0."""
    from football_etl_spark.plans.queries import REGISTRY

    ev = pd.DataFrame(
        {
            "event_id": range(12),
            "ts": pd.to_datetime(
                ["2024-01-01 10:00"] * 4 + ["2024-01-02 09:00"] * 3
                + ["2024-01-01 11:00"] * 3 + ["2024-01-03 08:00"] * 2
            ).astype("datetime64[us]"),
            "user_id": [1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 3, 3],
            "event_type": [
                "a", "b", None, "a", "c", "c", "c", "a", "a", "a",
                # user 3's only day is PURE NULL event_type: every
                # non-NULL type's conditional is NULL on every row —
                # the case that poisoned the pivot path's sums to NULL
                None, None,
            ],
            "value": [1.0] * 12,
            "props": ["{}"] * 12,
        }
    )
    ev.to_parquet(tmp_path / "events.parquet")
    got = {
        r["entropy_bin"]: (r["n_user_days"], r["min_types"], r["max_types"])
        for r in REGISTRY["user_day_entropy_profile"].fn(spark, str(tmp_path)).collect()
    }
    # brute force (user, day) mixes:
    #   u1 d1: a=2, b=1, NULL=1  -> k=3, H = ln(4) - (2ln2)/4 ~ 1.0397 -> bin 4
    #   u1 d2: c=3              -> k=1, H = 0                          -> bin 0
    #   u2 d1: a=3              -> k=1, H = 0                          -> bin 0
    #   u3 d3: NULL=2 (pure-NULL day) -> k=1, H = 0                    -> bin 0
    import math

    h = math.log(4) - (2 * math.log(2)) / 4
    assert int(h / 0.25) == 4
    assert got == {0: (3, 1, 1), 4: (1, 3, 3)}, got


def test_triangle_count_matches_unoriented_bruteforce(spark):
    """The degree-ordered orientation must count each triangle exactly
    once: pin against the naive unoriented triple join on the smoke-SF
    co-purchase graph."""
    from football_etl_spark.io.loader import load_table
    from football_etl_spark.plans.queries import REGISTRY

    row = REGISTRY["copurchase_triangle_count"].fn(spark, SF_SMOKE).collect()[0]
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    p = (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b"))
        .distinct()
    )
    brute = (
        p.alias("p1")
        .join(p.alias("p2"), F.col("p1.b") == F.col("p2.a"))
        .join(
            p.alias("p3"),
            (F.col("p1.a") == F.col("p3.a")) & (F.col("p2.b") == F.col("p3.b")),
        )
        .count()
    )
    assert row["n_triangles"] == brute and brute > 0
    n_edges = p.count()
    assert row["n_edges"] == n_edges


def test_assortativity_matches_numpy_pearson(spark):
    """Newman's assortativity IS the Pearson correlation of endpoint
    degrees over the symmetrized edge list — pin the decimal-sum
    formula against numpy.corrcoef, an implementation that shares no
    code or formula arrangement with either engine."""
    import numpy as np

    from football_etl_spark.io.loader import load_table
    from football_etl_spark.plans.queries import REGISTRY

    rows = REGISTRY["copurchase_degree_structure"].fn(spark, SF_SMOKE).collect()
    got = rows[0]["assortativity"]
    assert all(r["assortativity"] == got for r in rows)

    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .toPandas()
    )
    edges = set()
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(grp["l_partkey"]))
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                edges.add((parts[i], parts[j]))
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    du = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    dv = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    want = float(np.corrcoef(du, dv)[0, 1])
    assert abs(got - want) < 1e-6, (got, want)
    # histogram sanity: bucket counts sum to the node count
    assert sum(r["n_nodes"] for r in rows) == len(deg)


def test_dedup_rate_by_source_counts_injected_dups(spark, tmp_path):
    docs = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["same", "same", "same", "uniq1", "uniq2", "only"],
            "lang": ["en"] * 6,
            "source": ["a", "a", "a", "a", "b", "b"],
            "n_chars": [4, 4, 4, 5, 5, 4],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    from football_etl_spark.plans.queries import REGISTRY

    got = {
        r["source"]: (r["n_docs"], r["n_unique"], r["n_dup_docs"], r["dup_rate"])
        for r in REGISTRY["dedup_rate_by_source"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"a": (4, 2, 2, 0.5), "b": (2, 2, 0, 0.0)}, got


def test_half_sample_stderr_statistically_sane(spark):
    """BRR stderr on the smoke orders must approximate sigma/sqrt(n)
    (the classic SE of a mean) — half-samples of a well-mixed i.i.d.
    column estimate it consistently; accept a 3x bracket (B=16
    replicates has ~18% relative noise). Also pins mean_price to the
    exact decimal mean."""
    import math

    from football_etl_spark.io.loader import load_table
    from football_etl_spark.plans.queries import REGISTRY

    row = REGISTRY["half_sample_stderr_revenue"].fn(spark, SF_SMOKE).collect()[0]
    pdf = load_table(spark, SF_SMOKE, "orders").select("o_totalprice").toPandas()
    n = len(pdf)
    assert row["n"] == n
    cents = (pdf["o_totalprice"] * 100).round().astype("int64")
    assert abs(row["mean_price"] - cents.sum() / 100.0 / n) < 1e-9
    se_classic = cents.std(ddof=1) / 100.0 / math.sqrt(n)
    assert se_classic / 3 < row["stderr_brr"] < se_classic * 3, (
        row["stderr_brr"], se_classic
    )


def test_lorenz_gini_all_equal_prices_single_bucket(spark, tmp_path):
    """Degenerate edge: every price identical -> ONE radix bucket,
    every rank a tie broken by key, Gini exactly 0 (perfect
    equality), every decile's cum_share = (decile+1)/10 of the
    total."""
    from football_etl_spark.plans.queries import REGISTRY

    n = 20
    od = pd.DataFrame(
        {
            "o_orderkey": range(1, n + 1),
            "o_custkey": [1] * n,
            "o_orderstatus": ["O"] * n,
            "o_totalprice": [1000.0] * n,
            "o_orderdate": pd.to_datetime(["2024-01-01"] * n).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    )
    od.to_parquet(tmp_path / "orders.parquet")
    rows = REGISTRY["lorenz_gini_order_value"].fn(spark, str(tmp_path)).collect()
    assert [r["decile"] for r in rows] == list(range(10))
    assert all(r["n_orders"] == 2 for r in rows)
    assert all(abs(r["gini"]) < 1e-12 for r in rows)
    for r in rows:
        assert abs(r["cum_share"] - (r["decile"] + 1) / 10.0) < 1e-9, r
