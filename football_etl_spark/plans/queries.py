"""The query registry — every operator as (Spark callable, DuckDB oracle SQL).

This is the engine's correctness contract (SURVEY.md §5): each entry
maps a SURVEY §2 operator (or an LLM-pipeline extension) onto the
driver's synthetic tables, implemented Spark-first, with an ANSI-SQL
twin DuckDB runs on the same parquet for row-count + schema +
value-hash comparison.

Cross-engine exactness policy:
- counts / keys / strings / timestamps: naturally exact.
- sums of money: inputs cast to DECIMAL in BOTH engines → exact,
  order-independent sums; final cast to double for a common type.
- averages of doubles: ROUND(x, 6) both sides (accumulation order
  differs between engines; rounding absorbs the last-bit noise).
- ratios of integers: single IEEE double division of identical
  operands → bit-identical, left unrounded. Do NOT "defensively"
  round these: ROUND is where the engines DIVERGE, not where they
  agree. The r9 150-example fuzz soak caught it live — a rank ratio
  333/640 = 0.5203125 is an exactly-representable double sitting
  precisely on the 6th-digit tie, and Spark's BigDecimal HALF_UP
  says 0.520313 while DuckDB's half-even says 0.520312. The hazard
  needs a dyadic-rational value (denominator 2^a·5^b, e.g. n-1 =
  640 rows after a filter), so data-valued averages are safe in
  practice, but pure small-integer ratios (percent_rank, count
  shares) hit it at realistic row counts — compare those raw.
- transcendentals (LN/EXP/POW): ROUND(x, 6) both sides, never used
  as a grouping/branch value except where a literal branch pins the
  only exact boundary (see user_day_entropy_profile).
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import scalars, text, vectors
from ..io.loader import load_table
from ..operators import (
    aggregates,
    cleaning,
    dedup,
    ingest,
    joins,
    multimodal,
    sampling,
    similarity,
    windows,
)
from ..operators.scale import ensure_min_partitions
from ..operators.scale import sum_i64_checked as scale_sum_i64_checked
from ..session import application_id, session_memo


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    # DuckDB-NATIVE formulation for perf pairing ONLY (r12): when the
    # correctness ``oracle`` was ported to the engine-shared SQL
    # subset (dual-surface), the portable spelling can be slower ON
    # DUCKDB than the native one (split_part fan-out vs UNNEST: +0.3
    # to +1.0s each at sf0.1) — and a slower DuckDB side would
    # FLATTER the Spark-vs-DuckDB bench ratio. The timing harness
    # (tools/measure.py duckdb and depth) therefore times
    # ``perf_oracle or oracle`` so the ratio never benefits from
    # the portability rewrite; correctness gates (driver, dual-SQL
    # suite) always use ``oracle``. Result-equality of the two texts
    # is itself gated: tests/test_round12_wave.py runs both on DuckDB
    # at two SFs and requires identical rows.
    perf_oracle: str | None = None


REGISTRY: dict[str, QueryDef] = {}


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    perf_oracle: str | None = None,
):
    """Register ``fn`` as a registry entry. Its plan is built once per
    (session, sf_dir) and re-executed from then on — a prepared-
    statement cache (plans stay lazy; each run scans parquet afresh)
    that saves re-paying py4j round-trips and Catalyst analysis of an
    identical tree."""

    def deco(fn):
        @functools.wraps(fn)
        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            return session_memo(
                spark, (sf_dir, "plan", name), lambda: fn(spark, sf_dir)
            )

        REGISTRY[name] = QueryDef(name, cached, oracle, doc, perf_oracle)
        return cached

    return deco


# Kept empty: bench.py and the test suites still read it.
STAGED: dict[str, QueryDef] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the analyzed relation, not the data: a re-read skips file
    # listing, footer reads and analysis
    return session_memo(
        spark, (sf_dir, "table", name), lambda: load_table(spark, sf_dir, name)
    )


def _q8_rows(spark: SparkSession, sf_dir: str, embeddings: DataFrame) -> list:
    """The shared ANN control plane: the 8 query vectors (vec_id < 8)
    collected once per (session, sf) — they double as the default IVF
    centroid table and as the driver-built LSH query relation, so
    repeated plan construction for the ANN entries runs zero Spark
    jobs."""
    return session_memo(
        spark,
        (sf_dir, "__q8_rows"),
        lambda: [
            (int(r[0]), [float(x) for x in r[1]])
            for r in embeddings.filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        ],
    )


def _graph_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Auto-size the graph panel's big exchanges from scan metadata —
    the r10 verdict's ask: the x100 triangle/degree runs needed a
    hand-set spark.sql.shuffle.partitions=256 to keep the pair-
    DISTINCT dedup map and the closing SHJ's per-task EDGE hash map
    inside task memory (BENCH_NOTES r10 waves 6-7); this derives that
    number instead of knobbing it. Pre-distinct pairs are bounded by
    3x lineitem rows (<= 7 items/order => C(7,2) = 21 pairs per 7
    rows), and 500k edges/partition keeps the build map ~16 MB
    (119.6M edges / 240 parts reproduces the proven 256 within
    rounding). The row count comes from parquet FOOTER metadata via
    pyarrow — no Spark job, the same control-plane-only discipline as
    ensure_min_partitions' file-size probe. The session's
    shuffle.partitions is the FLOOR, so small-scale plans (bench pins
    8 at sf0.1) keep the same exchange WIDTH as before (the explicit
    repartition is a user-specified exchange AQE won't coalesce, so
    the physical plan differs in kind, not width); the estimate only
    ever RAISES the count, and the 4096 cap bounds task-scheduling
    overhead at any scale. Cached per (session, sf) — the floor is
    snapshotted at first use, so a later in-session change to
    spark.sql.shuffle.partitions is intentionally ignored."""

    def build() -> int:
        import os

        import pyarrow.parquet as pq

        floor_parts = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        # local-probe fallback mirrors ensure_min_partitions
        # (scale.py:42-46): strip the file: scheme, and on an
        # unreadable path (remote FS or missing table: OSError; a
        # corrupt footer: pyarrow's ArrowInvalid, a ValueError)
        # degrade to the session floor instead of failing plan
        # construction — the estimate is an OPTIMIZATION, never a
        # correctness gate.
        path = os.path.join(sf_dir.removeprefix("file:"), "lineitem.parquet")
        try:
            if os.path.isdir(path):
                rows = sum(
                    pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
            else:
                rows = pq.ParquetFile(path).metadata.num_rows
        except (OSError, ValueError):
            rows = 0
        est_edges = 3 * rows
        return max(floor_parts, min(4096, -(-est_edges // 500_000)))

    return session_memo(spark, (sf_dir, "graph_parts"), build)


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT co-purchase edge set (parts a < b sharing an
    order) shared by the graph panel (triangle count, degree
    structure): the co-keyed lineitem self-join (<= 7 items/order
    keeps the pair fan-out constant; the two sides share ONE reused
    orderkey exchange) then the one unavoidable pair-DISTINCT
    exchange. Two alternatives were measured and REJECTED at x10
    (BENCH_NOTES r10): (a) .persist() of the edge set makes the panel
    ~2x slower in aggregate — the InMemoryRelation read displaces the
    exchange-reuse path that lets each consumer skip the build's map
    stages — so sharing stays at the PLAN level; (b) a groupBy-
    collect_set + higher-order-function pair expansion (one exchange,
    no sorts) loses to the self-join in steady state (21.6s vs 19.5s
    triangle, 6.6 vs 5.5 degree) — the ObjectHashAggregate partials
    cost more than the SMJ sorts they replace. ensure_min_partitions
    spreads compact inputs (the x10 replica reads as a few coalesced
    scan tasks at the default 128m split) across the cores — a no-op
    once the input exceeds 256 MB."""
    li = ensure_min_partitions(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    )
    return (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(
            F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b")
        )
        # pair-DISTINCT at the auto-sized width: the dedup hash map is
        # the panel's first spill wall (450M pre-distinct pairs at
        # x100 / 32 parts = ~14M-entry maps per task); repartition on
        # the full key satisfies the dedup's required distribution, so
        # this REPLACES the implicit exchange rather than adding one,
        # and downstream consumers co-partition on (a, b) at the same
        # width for free (the closing semi join's build side)
        .repartition(_graph_shuffle_partitions(spark, sf_dir), "a", "b")
        .dropDuplicates()
    )


# the checked-sum idiom lives in operators/scale.py so the streaming
# module can share it without an import cycle
_sum_i64_checked = scale_sum_i64_checked


def _dec_sum(c, alias: str, scale: int = 2):
    """Exact money sum: accumulate the value scaled to an integer —
    a whole-stage-codegen long sum, measured ~3× faster than decimal
    aggregation at bench scale — then divide back in double.

    Validity bounds (know BOTH before scaling this up): the result is
    bit-identical to a DECIMAL(18,scale) sum cast to double only while
    |sum·10^scale| ≤ 2^53 ≈ 9.0e15 scaled units (~9e8 rows of
    1e5-sized 2dp values) — past that the long→double conversion
    rounds before the /10^scale division and double-rounding can
    diverge from the decimal-cast result. The long accumulator itself
    overflows later, at ~9.2e18/10^scale — since r12 that breach is
    LOUD (_sum_i64_checked), not a silent wrap. A pipeline beyond the
    2^53 bound switches the accumulator back to decimal (or sums
    per-partition into decimal)."""
    f = float(10**scale)
    return (
        _sum_i64_checked(F.round(c * f).cast("long"), f"_dec_sum[{alias}]")
        / F.lit(f)
    ).alias(alias)


# ===========================================================================
# §2.4 aggregations
# ===========================================================================


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped group-by multi-agg (SURVEY §2.4; visualize_data.py:154-160)",
)
def pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price", 4),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "top_event_types",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    doc="value-counts ranking (visualize_data.py:71; daily_match_scraper.py:670-723)",
)
def top_event_types(spark, sf_dir):
    return aggregates.value_counts(_t(spark, sf_dir, "events"), "event_type")


@query(
    "distinct_users_by_type",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="count-distinct per group (pipeline.py:105-112 nunique stats)",
)
def distinct_users_by_type(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "regional_revenue",
    oracle="""
    SELECT r_name AS region,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="multi-way dimension join + agg (SURVEY §2.3 enrichment shape); dims broadcast",
)
def regional_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # customer is SF-proportional: no broadcast hint — AQE picks BHJ while it
    # fits and falls back to shuffle join at scale (the only plan that
    # survives 100 TB). nation/region are fixed-cardinality dims (25/5 rows).
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            _dec_sum(F.col("o_totalprice"), "total_revenue"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "null_completion_report",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_id,
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ts,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props
    FROM events
    """,
    doc="validation report: null counts in one pass (utils/data_utils.py:222-226)",
)
def null_completion_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
            for c in ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ],
    )


@query(
    "duplicate_stats",
    oracle="""
    SELECT COUNT(*) - COUNT(DISTINCT (user_id, event_type)) AS n_duplicates,
           COUNT(DISTINCT (user_id, event_type)) AS n_distinct_keys
    FROM events
    """,
    doc="duplicate counting on a composite key (processors/data_processor.py:102)",
)
def duplicate_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        (F.count("*") - F.count_distinct("user_id", "event_type")).alias("n_duplicates"),
        F.count_distinct("user_id", "event_type").alias("n_distinct_keys"),
    )


@query(
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot/cross-tab with bounded value list (visualize_data.py:285-290)",
)
def pivot_priority_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    p = o.groupBy("o_orderpriority").pivot("o_orderstatus", ["O", "F", "P"]).count()
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["O", "F", "P"]],
    )


@query(
    "league_table",
    oracle="""
    SELECT user_id,
           AVG(CASE WHEN event_type = 'purchase' THEN 1.0
                    WHEN event_type = 'error' THEN 0.0 ELSE 0.5 END) AS win_ratio,
           ROUND(AVG(value), 6) AS avg_value,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY win_ratio DESC, user_id ASC LIMIT 10
    """,
    doc="per-entity multi-agg + top-10 ranking (visualize_data.py:154-175); "
    "win_ratio sums binary-exact halves so the double is cross-engine exact",
)
def league_table(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    points = (
        F.when(F.col("event_type") == "purchase", 1.0)
        .when(F.col("event_type") == "error", 0.0)
        .otherwise(0.5)
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.avg(points).alias("win_ratio"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("win_ratio"), F.asc("user_id"))
        .limit(10)
    )


# ===========================================================================
# §2.5 windows / time series
# ===========================================================================


@query(
    "rolling_customer_metrics",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS r90_total_spend,
           ROUND(AVG(o_totalprice) OVER w, 6) AS r90_avg_spend,
           COUNT(*) OVER w AS r90_n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW)
    """,
    doc="90-day trailing range frame per key — the reference's rolling('90D') "
    "(utils/data_utils.py:261-277) as ONE window pass, no per-group loop",
)
def rolling_customer_metrics(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = windows.trailing_days_window(["o_custkey"], "o_orderdate", 90)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        (_sum_i64_checked(F.round(F.col("o_totalprice") * 100).cast("long"), "rolling_customer_metrics[r90_total_spend]", w) / 100.0).alias("r90_total_spend"),
        F.round(F.avg("o_totalprice").over(w), 6).alias("r90_avg_spend"),
        F.count("*").over(w).alias("r90_n_orders"),
    )


@query(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders) AS ranked
    WHERE rn = 1
""",
    doc="deterministic latest-per-group (as-of selection, SURVEY §2.3/§2.5)",
)
def latest_order_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return windows.latest_per_group(
        o, ["o_custkey"], "o_orderdate", tiebreak=["o_orderkey"]
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders) WHERE rnk <= 3
    """,
    doc="per-group top-N (team_scraper.py:606 head(lookback); visualize top-10)",
)
def top3_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = windows.top_n_per_group(
        o,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
        rank_col="rnk",
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice", F.col("rnk").cast("long"))


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR DATE_TRUNC('second', ts)
                          - DATE_TRUNC('second', LAG(ts) OVER w)
                          > INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    doc="sessionization: lag-gap + conditional cumsum (streaming-shaped batch op)",
)
def user_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    s = windows.sessionize(ev, "user_id", "ts", gap_seconds=1800)
    return s.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "daily_event_spine",
    oracle="""
    WITH RECURSIVE
    b AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
          FROM events),
    spine(day) AS (
      SELECT d0 FROM b
      UNION ALL
      SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM spine
      WHERE day < (SELECT d1 FROM b)
    ),
    daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1)
    SELECT spine.day AS day, COALESCE(daily.n, 0) AS n_events
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
    doc="date-spine densification: sequence+explode date range "
    "(daily_match_scraper.py:574-579) + zero-fill left join. The "
    "oracle spells the spine as a RECURSIVE CTE — the one "
    "integer/date-range idiom BOTH engines parse (DuckDB "
    "GENERATE_SERIES vs Spark sequence() share no spelling), making "
    "this entry dual-green; depth = the feed's day span (30), far "
    "under Spark's default 100-level recursion cap, and the Spark "
    "IMPLEMENTATION keeps the scale-right sequence+explode form",
)
def daily_event_spine(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
    )


# ===========================================================================
# §2.3 joins (as-of, anti, theta-contains, lookup)
# ===========================================================================


@query(
    "purchase_asof_login",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side
      FROM events WHERE event_type IN ('purchase', 'view')
    ), carried AS (
      SELECT event_id, user_id, ts, side,
             LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER w AS login_event_id,
             LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER w AS login_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, login_event_id,
           EPOCH_US(ts) - EPOCH_US(login_ts) AS gap_us
    FROM carried WHERE side = 1
    """,
    doc="as-of join via union + last_value(ignore nulls) carry-forward — one "
    "shuffle, zero fan-out (SURVEY §2.3 caveat; the 100 TB-safe as-of "
    "shape). The right side is 'view' events — the synthetic feed has "
    "no 'login' type, and the original filter made every match NULL "
    "(vacuously green); with views, every purchase carries a real "
    "most-recent-prior match where one exists. Entry name kept for "
    "driver-history continuity",
)
def purchase_asof_login(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    logins = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    joined = joins.asof_join(
        purchases,
        logins,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "ts"],
        prefix="login_",
        right_tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("login_event_id"),
        (F.unix_micros("ts") - F.unix_micros("login_ts")).alias("gap_us"),
    )


@query(
    "purchase_prior_hour_activity",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, CAST(COUNT(*) - 1 AS BIGINT) AS n_prior_events
    FROM p JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
    doc="RANGE (interval) join — each purchase joined to the same "
    "user's events in the trailing hour, counted (self-pair subtracted; "
    "every purchase matches at least itself, so no left-join-back for "
    "zeros). A naive time-range predicate plans as a nested-loop join; "
    "operators/joins.range_join bucketizes both sides by the window "
    "width (left rows explode into ≤2 candidate buckets) so candidates "
    "come from a pure equi-join on (user, bucket) with an exact "
    "integer-microsecond refine — the interval-join shape that "
    "survives 100 TB",
)
def purchase_prior_hour_activity(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    pairs = joins.range_join(
        purchases, ev.select("event_id", "user_id", "ts"),
        key="user_id", left_ts="ts", right_ts="ts",
        lower_s=-3600, upper_s=0,
    )
    return pairs.groupBy("event_id", "user_id").agg(
        (F.count("*") - 1).cast("long").alias("n_prior_events")
    )


@query(
    "users_without_purchase",
    oracle="""
    WITH b AS (SELECT MAX(ts) - INTERVAL 3 DAY AS cutoff FROM events)
    SELECT DISTINCT user_id FROM events
    WHERE user_id NOT IN (
      SELECT user_id FROM events, b
      WHERE event_type = 'purchase' AND ts >= b.cutoff
    )
    """,
    doc="anti-join retry-set shape (scrapers/team_scraper.py:963-1002), "
    "time-scoped: users with NO purchase in the feed's final 3 days. "
    "The original unscoped form was vacuous — the synthetic feed is "
    "dense (every user has every event type), so 'users without any "
    "purchase' was structurally empty at every SF and the anti-join "
    "only ever proved emptiness; the 3-day recency cut yields "
    "4/40/388 retry candidates at the three SFs, exercising real "
    "set-difference semantics. The cutoff is a 1-row aggregate "
    "crossed broadcast; the anti-join stays one equi-shuffle",
)
def users_without_purchase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 3 DAY")).alias("cutoff")
    )
    purchasers = (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("cutoff"))
        )
        .select("user_id")
    )
    return joins.anti_join(users, purchasers, ["user_id"])


@query(
    "part_type_contains",
    oracle="""
    SELECT p_partkey, p_type FROM part
    WHERE CONTAINS(LOWER(p_type), 'eco') OR CONTAINS(LOWER(p_type), 'promo')
    """,
    doc="case-insensitive substring theta-join vs a pattern dim — the league "
    "filter (scrapers/fixtures_scraper.py:92-105); patterns broadcast",
)
def part_type_contains(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    # JVM-literal dim (not createDataFrame: a Python-RDD local
    # relation re-launches a Python worker per execution)
    patterns = similarity._literal_rows_df(
        spark, [{"pattern": "eco"}, {"pattern": "promo"}], "pattern: string"
    )
    return joins.theta_contains_join(p, patterns, "p_type", "pattern").select(
        "p_partkey", "p_type"
    )


@query(
    "union_mixed_projection",
    oracle="""
    SELECT l_orderkey, l_quantity, CAST(NULL AS DOUBLE) AS l_extendedprice, 'r' AS src
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT l_orderkey, CAST(NULL AS DOUBLE) AS l_quantity, l_extendedprice, 'n' AS src
    FROM lineitem WHERE l_returnflag = 'N'
    """,
    doc="unionByName with schema alignment (utils/data_utils.py:297-299, "
    "allowMissingColumns ≡ reference concat of ragged frames)",
)
def union_mixed_projection(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_quantity", F.lit("r").alias("src")
    )
    b = li.filter(F.col("l_returnflag") == "N").select(
        "l_orderkey", "l_extendedprice", F.lit("n").alias("src")
    )
    return a.unionByName(b, allowMissingColumns=True)


# ===========================================================================
# §2.7 scalar expression surface
# ===========================================================================


@query(
    "order_tags_cleaning",
    oracle="""
    SELECT o_orderkey,
           CONCAT_WS('_',
                     printf('%04d%02d%02d', YEAR(o_orderdate),
                            MONTH(o_orderdate), DAY(o_orderdate)),
                     REPLACE(LOWER(c_name), '#', '')) AS order_tag,
           CONCAT_WS('-',
             CAST(CASE WHEN MONTH(o_orderdate) >= 8 THEN YEAR(o_orderdate)
                       ELSE YEAR(o_orderdate) - 1 END AS STRING),
             CAST(CASE WHEN MONTH(o_orderdate) >= 8 THEN YEAR(o_orderdate)
                       ELSE YEAR(o_orderdate) - 1 END + 1 AS STRING)) AS season,
           TRY_CAST(REGEXP_EXTRACT(o_orderpriority, '^([0-9]+)', 1) AS BIGINT) AS priority_num
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="scalar expression surface: match-id generation (utils/data_utils.py:"
    "101-119), season derivation (team_scraper.py:152-174), numeric extraction",
)
def order_tags_cleaning(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # customer is SF-proportional: unhinted — AQE broadcasts at bench SF,
    # shuffle-joins at cluster scale.
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.select(
        "o_orderkey",
        F.concat_ws(
            "_",
            F.date_format("o_orderdate", "yyyyMMdd"),
            F.regexp_replace(F.lower("c_name"), "[^a-z0-9]", ""),
        ).alias("order_tag"),
        scalars.derive_season("o_orderdate").alias("season"),
        F.regexp_extract("o_orderpriority", "^([0-9]+)", 1)
        .try_cast("long")
        .alias("priority_num"),
    )


@query(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           CAST(SUM(TRY_CAST(REGEXP_EXTRACT(props, '"k":\\s*([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(TRY_CAST(REGEXP_EXTRACT(props, '"k":\\s*([0-9]+)', 1) AS BIGINT)), 6) AS avg_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="semi-structured extraction from JSON-ish props "
    "(nested ingest shape, daily_match_scraper.py:449-527)",
)
def json_extract_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*([0-9]+)', 1).try_cast("long")
    return ev.groupBy("event_type").agg(
        # extracted-payload magnitudes are unbounded by schema, so the
        # sum rides the checked contract (r12 overflow-class sweep)
        _sum_i64_checked(k, "json_extract_events[sum_k]").alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.count("*").alias("n"),
    )


# JSON templates for the nested-ingest query: four deterministic
# payload shapes exercising every candidate path of the reference's
# event navigation (daily_match_scraper.py:449-527) — primary
# homeTeam/tournament form, home/away + top-level category fallback
# with a bare-string status, league-object fallback with a bare-string
# venue and no timestamp, and a required-field-missing row that must
# be dropped. Both engines build IDENTICAL strings and then each does
# its own real JSON parse (Spark from_json+get_json_object, DuckDB
# json_extract_*) — so a misparse on either side breaks the hash.
_EV_M0 = (
    '{"id":%d,"homeTeam":{"name":"Team %d"},"awayTeam":{"name":"Team %d"},'
    '"tournament":{"name":"League %d","category":{"name":"Country %d"}},'
    '"roundInfo":{"round":%d},"status":{"description":"Ended"},'
    '"startTimestamp":%d,"venue":{"name":"Venue %d"}}'
)
_EV_M1 = (
    '{"id":%d,"home":{"name":"Team %d"},"away":{"name":"Team %d"},'
    '"category":{"name":"Country %d"},"status":"Live","startTimestamp":%d}'
)
_EV_M2 = (
    '{"id":%d,"homeTeam":{"name":"Team %d"},"away":{"name":"Team %d"},'
    '"league":{"name":"League %d"},"venue":"Arena %d"}'
)
_EV_M3 = '{"id":%d,"homeTeam":{"name":"Team %d"}}'


@query(
    "nested_event_flatten",
    oracle=f"""
    WITH src AS (
      SELECT event_id, user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ep FROM events
    ), built AS (
      SELECT CASE CAST(event_id % 4 AS INT)
        WHEN 0 THEN printf('{_EV_M0}', event_id, user_id % 50, (user_id + 1) % 50,
                           user_id % 10, user_id % 5, user_id % 38 + 1, ep, user_id % 7)
        WHEN 1 THEN printf('{_EV_M1}', event_id, user_id % 50, (user_id + 1) % 50,
                           user_id % 5, ep)
        WHEN 2 THEN printf('{_EV_M2}', event_id, user_id % 50, (user_id + 1) % 50,
                           user_id % 10, user_id % 7)
        ELSE printf('{_EV_M3}', event_id, user_id % 50)
      END AS j
      FROM src
    ), flat AS (
      SELECT
        COALESCE(json_extract_string(j, '$.id'), 'unknown') AS id,
        COALESCE(json_extract_string(j, '$.homeTeam.name'),
                 json_extract_string(j, '$.home.name')) AS home_team,
        COALESCE(json_extract_string(j, '$.awayTeam.name'),
                 json_extract_string(j, '$.away.name')) AS away_team,
        COALESCE(json_extract_string(j, '$.tournament.name'),
                 json_extract_string(j, '$.category.name'),
                 json_extract_string(j, '$.league.name'), 'Unknown League') AS league,
        COALESCE(json_extract_string(j, '$.tournament.category.name'),
                 json_extract_string(j, '$.category.name'), 'International') AS country,
        TRY_CAST(json_extract_string(j, '$.startTimestamp') AS BIGINT) AS start_timestamp,
        COALESCE(json_extract_string(j, '$.status.description'),
                 CASE WHEN json_type(j, '$.status') = 'VARCHAR'
                      THEN json_extract_string(j, '$.status') END,
                 'Unknown') AS status,
        COALESCE(json_extract_string(j, '$.venue.name'),
                 CASE WHEN json_type(j, '$.venue') = 'VARCHAR'
                      THEN json_extract_string(j, '$.venue') END) AS venue,
        json_extract_string(j, '$.roundInfo.round') AS "round",
        'api' AS source
      FROM built
    )
    SELECT id, home_team, away_team, league, country, start_timestamp,
           CASE WHEN start_timestamp IS NOT NULL
                THEN LPAD(CAST((start_timestamp % 86400) // 3600 AS STRING), 2, '0')
                     || ':' ||
                     LPAD(CAST((start_timestamp % 3600) // 60 AS STRING), 2, '0')
                ELSE 'Unknown' END AS start_time,
           status, venue, "round", source
    FROM flat
    WHERE home_team IS NOT NULL AND away_team IS NOT NULL
    """,
    doc="nested-JSON ingest flatten (SURVEY §2.7 row 63, the reference's "
    "distinctive ingest op): ONE Spark 4 VARIANT parse "
    "(try_parse_json) + try_variant_get probes for every candidate "
    "path incl. the object-or-string fields, coalesce with null "
    "defaults, required-field drop "
    "(operators/ingest.flatten_api_events ≡ "
    "daily_match_scraper.py:449-527). utc=True renders start_time via "
    "tz-free integer arithmetic so both engines agree byte-for-byte",
)
def nested_event_flatten(spark, sf_dir):
    # fan-out BEFORE the payload build+parse (r12, guide §2.5 "input
    # skew: too few input partitions"): the per-row format_string +
    # from_json chain is the heaviest map in the headline set, and a
    # compact events file gives the scan only a handful of tasks —
    # most cores sat idle through the parse. ensure_min_partitions is
    # scale-adaptive (file-metadata probe; no-op past 256 MB of
    # input), so cluster-scale plans are unchanged. Measured paired
    # at sf0.1: 1.17 s -> 0.33 s (0.28x); the 2 MB round-robin
    # exchange it adds costs ~10 ms.
    ev = ensure_min_partitions(_t(spark, sf_dir, "events"))
    ep = F.unix_timestamp("ts")
    h = F.col("user_id") % 50
    a = (F.col("user_id") + 1) % 50
    mode = F.col("event_id") % 4
    j = (
        F.when(
            mode == 0,
            F.format_string(
                _EV_M0, "event_id", h, a, F.col("user_id") % 10, F.col("user_id") % 5,
                F.col("user_id") % 38 + 1, ep, F.col("user_id") % 7,
            ),
        )
        .when(mode == 1, F.format_string(_EV_M1, "event_id", h, a, F.col("user_id") % 5, ep))
        .when(
            mode == 2,
            F.format_string(
                _EV_M2, "event_id", h, a, F.col("user_id") % 10, F.col("user_id") % 7
            ),
        )
        .otherwise(F.format_string(_EV_M3, "event_id", h))
    )
    built = ev.select(j.alias("event_json"))
    flat = ingest.flatten_api_events(built, utc=True)
    return flat.select(
        "id", "home_team", "away_team", "league", "country", "start_timestamp",
        "start_time", "status", "venue", "round", "source",
    )


@query(
    "first_event_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (SELECT user_id, event_type, event_id, ts, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts ASC, event_id ASC) AS rn
          FROM events) AS ranked
    WHERE rn = 1
""",
    doc="deterministic keep-first dedup (processors/data_processor.py:101-106 "
    "made deterministic per SURVEY §7.4)",
)
def first_event_dedup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return cleaning.dedup_deterministic(
        ev, ["user_id", "event_type"], [F.asc("ts"), F.asc("event_id")]
    ).select("user_id", "event_type", "event_id", "ts", "value")


# ===========================================================================
# LLM-pipeline extensions: text analysis / dedup / similarity
# ===========================================================================

# Shared DuckDB fragments mirroring functions/text.py semantics exactly.
# CHR(11) rule (r12, ADVICE fix): DuckDB's RE2 '\s' is [\t\n\f\r ] —
# it does NOT match vertical tab — while the Spark side's Java '\s'
# does. Every RE2-'\s'-based oracle therefore TRANSLATEs CHR(11) to a
# space first (AFTER TRIM, which strips only spaces on both engines,
# so trim behavior stays identical); a literal space then behaves
# under RE2 exactly as \x0B does under Java. Probed + pinned by
# tests/test_round12_wave.py::test_vertical_tab_tokenization_agrees.
_SQL_TOKS = r"""
  SELECT doc_id, text,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
              ELSE STRING_SPLIT_REGEX(TRANSLATE(TRIM(text), CHR(11), ' '), '\s+') END AS toks
  FROM documents
"""

# Portable (Spark-SQL-and-DuckDB shared subset) TOKEN COUNTING
# spellings — the r11 dual-SQL ports. The r10 dedup_exact port proved
# the TRANSLATE + sentinel-sandwich whitespace collapse is engine-
# shared; these extend it from normalization to COUNTING, so oracles
# whose only per-token need is a count (token totals, stopword hits)
# can run unmodified on Spark SQL instead of skipping on the TOKENS
# gap (STRING_SPLIT_REGEX / LEN / UNNEST have no common spelling).
#   _SQL_COLLAPSE: \s+ runs -> single spaces, NO trim of the result,
#     so a leading/trailing non-space whitespace char leaves a
#     leading/trailing space — exactly reproducing the phantom empty
#     token that split(TRIM(text), '\s+') emits for such text (the
#     count is spaces+1 either way; probed on both engines incl.
#     '\t' -> 2 and NBSP kept as a token char).
#   PRECONDITION: consuming oracles exclude docs whose text carries a
#     literal RS (CHR 30) or US (CHR 31) byte — the sandwich bytes —
#     identically on both engines (the BPE entries' precedent); a doc
#     like 'x\\x1f \\x1ey' would otherwise collapse to one token here
#     while split() sees two. (dedup_exact_documents, the r10 origin of
#     the sandwich, predates this guard: excluding docs from DEDUP
#     would silently drop them, the worse failure — its exposure is a
#     wrong fingerprint for control-byte docs, noted, not guarded.)
#   _sql_word_count: exact whole-token occurrence count: double every
#     space so each token owns a private leading AND trailing space,
#     pad the ends, then count ' word ' occurrences by length
#     arithmetic — adjacent same-word tokens stay non-overlapping
#     because each occurrence consumes only its own two spaces.
_SQL_COLLAPSE = (
    "REPLACE(REPLACE(REPLACE(TRANSLATE(TRIM(text), "
    "CHR(9) || CHR(10) || CHR(11) || CHR(12) || CHR(13), '     '), "
    "' ', CHR(30) || CHR(31)), CHR(31) || CHR(30), ''), "
    "CHR(30) || CHR(31), ' ')"
)
_SQL_COLLAPSE_LOWER = _SQL_COLLAPSE.replace("TRIM(text)", "LOWER(TRIM(text))")
# token count over a collapsed column named s
_SQL_NTOKENS_S = (
    "CASE WHEN LENGTH(s) = 0 THEN 0 "
    "ELSE LENGTH(s) - LENGTH(REPLACE(s, ' ', '')) + 1 END"
)


def _sql_word_count(word: str, var: str = "x") -> str:
    """Whole-token occurrence count of ``word`` in ``var`` (a padded
    double-spaced collapse: ' ' || REPLACE(s, ' ', '  ') || ' ')."""
    esc = word.replace("'", "''")
    return (
        f"CAST((LENGTH({var}) - LENGTH(REPLACE({var}, ' {esc} ', '')))"
        f" / LENGTH(' {esc} ') AS BIGINT)"
    )


# Portable per-token EXPANSION (r12 dual-SQL ports, VERDICT r11 #5) —
# extends the r11 COUNTING spellings above to a full token fan-out so
# oracles that must see every token (vocabulary, TF-IDF, unigram LM,
# BM25 postings, shingles, simhash) run unmodified on Spark SQL
# instead of skipping on the TOKENS gap. Every piece is engine-shared
# (probed on both engines, pinned in tests/test_round12_wave.py):
#   SPLIT_PART(s, ' ', i) — 1-based with '' out of range on BOTH;
#   range(1, B+1) t(i)    — the shared integer-range TVF spelling;
#     the range bound is a LITERAL (neither engine's range() TVF
#     takes a correlated argument), the per-doc cut is the join
#     filter i <= n_tokens;
#   the collapse + RS/US-doc exclusion precondition is inherited
#     from _SQL_COLLAPSE above (zero such docs in any TESTDATA SF).
# _TOK_FANOUT_BOUND is a corpus CONTRACT, not a tuning knob: TESTDATA
# documents cap at 100 tokens (measured across sf0.001-0.1), 128
# leaves headroom, and a longer doc fails LOUDLY — the oracle would
# lose the doc's tail tokens and the hash gate trips against the
# exact Spark-side explode. Oracle-side cost vs UNNEST: the fan-out
# pushes bound/avg_tokens ≈ 2.3x rows through one filter and the
# SPLIT_PART rescans the string per position — measurably slower ON
# DUCKDB than the native UNNEST it replaces, which is why every
# ported entry keeps a `perf_oracle` native twin for bench/ladder
# timing (BENCH_NOTES r12 wave 3; QueryDef.perf_oracle).
_TOK_FANOUT_BOUND = 128


# Positional decode of the first 12 hex chars of MD5(col) — the
# engine-shared replacement for DuckDB's CAST('0x..' AS BIGINT)
# (probed; the simhash port's spelling at 12-char width). Value
# < 16^12 = 2^48, safely BIGINT on both engines.
def _sql_hexdec12(col: str) -> str:
    return " + ".join(
        f"(INSTR('0123456789abcdef', SUBSTR(MD5({col}), {j + 1}, 1)) - 1)"
        f" * CAST({16 ** (11 - j)} AS BIGINT)"
        for j in range(12)
    )


_SQL_HEXDEC12 = _sql_hexdec12("term")


def _sql_shingle3_expand() -> str:
    """CTE chain ``cl``/``nt`` -> ``shx`` (doc_id, shingle): 3-token
    shingles via the split_part fan-out, <3-token docs degenerating
    to the whole collapsed string (_SQL_SHINGLES' fallback arm).
    Engine-shared; splice directly after WITH."""
    return f"""cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    shx AS (
      SELECT doc_id,
             CASE WHEN n >= 3
                  THEN SPLIT_PART(s, ' ', CAST(t.i AS INT)) || ' '
                       || SPLIT_PART(s, ' ', CAST(t.i + 1 AS INT)) || ' '
                       || SPLIT_PART(s, ' ', CAST(t.i + 2 AS INT))
                  ELSE s END AS shingle
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE t.i <= CASE WHEN n >= 3 THEN n - 2 ELSE 1 END)"""


def _sql_tok_expand(collapse: str = _SQL_COLLAPSE) -> str:
    """CTE chain ``cl`` (doc_id, s) -> ``tok`` (doc_id, pos, term) in
    the engine-shared SQL subset; splice directly after WITH."""
    return f"""cl AS (
      SELECT doc_id, {collapse} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    tok AS (
      SELECT doc_id, CAST(t.i AS INT) AS pos,
             SPLIT_PART(s, ' ', CAST(t.i AS INT)) AS term
      FROM cl CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE t.i <= {_SQL_NTOKENS_S})"""


_SQL_SHINGLES = r"""
  SELECT doc_id,
         CASE WHEN LEN(toks) >= 3
              THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                                  i -> ARRAY_TO_STRING(toks[i:i+2], ' '))
              ELSE [ARRAY_TO_STRING(toks, ' ')] END AS shingles
  FROM toks_cte
"""


@query(
    "text_quality_stats",
    # r12 dual-SQL port — the last TOKENS/LEN blocker falls to pure
    # length arithmetic: n_bpe_tokens (= matches of
    # [A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]) is alpha RUNS + digit RUNS +
    # other non-whitespace CHARS. Runs are counted by normalizing the
    # class to one char (TRANSLATE with an equal-length to-string —
    # a short to-string would DELETE, not map), collapsing runs with
    # the RS/US sentinel sandwich (hence the same RS/US-doc
    # exclusion precondition as every collapse consumer), and
    # counting survivors; per-char classes are plain TRANSLATE
    # deletions. Token/stopword/avg-len spellings are the gopher
    # port's. NO perf twin: the length-arithmetic spelling is 3.7x
    # FASTER on DuckDB than the native LIST/regex text it replaced
    # (0.57s vs 2.1s at sf0.1) — the port improved both engines, so
    # the portable text is also the timed text.
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, text, {_SQL_COLLAPSE} AS s,
             TRANSLATE(text, CHR(11), ' ') AS base,
             ' ' || REPLACE({_SQL_COLLAPSE_LOWER}, ' ', '  ') || ' ' AS x
      FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    norm AS (
      SELECT doc_id, text, s, base, x,
             REPLACE(REPLACE(REPLACE(
               TRANSLATE(base, 'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz', 'aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa'),
               'a', CHR(30) || CHR(31)), CHR(31) || CHR(30), ''),
               CHR(30) || CHR(31), 'a') AS xa,
             REPLACE(REPLACE(REPLACE(
               TRANSLATE(base, '0123456789', '0000000000'),
               '0', CHR(30) || CHR(31)), CHR(31) || CHR(30), ''),
               CHR(30) || CHR(31), '0') AS xd
      FROM cl),
    m AS (
      SELECT doc_id,
             CAST({_SQL_NTOKENS_S} AS BIGINT) AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text) - LENGTH(TRANSLATE(text, '.,!?;:', ''))
                  AS BIGINT) AS n_punct,
             CAST({_sql_word_count("the")} + {_sql_word_count("a")}
                  + {_sql_word_count("and")} + {_sql_word_count("of")}
                  + {_sql_word_count("to")} + {_sql_word_count("in")}
                  + {_sql_word_count("is")} + {_sql_word_count("it")}
                  + {_sql_word_count("for")} + {_sql_word_count("on")}
                  AS BIGINT) AS n_stopwords,
             CAST((LENGTH(xa) - LENGTH(REPLACE(xa, 'a', '')))
                  + (LENGTH(xd) - LENGTH(REPLACE(xd, '0', '')))
                  + (LENGTH(base)
                     - (LENGTH(base) - LENGTH(TRANSLATE(base, 'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz', '')))
                     - (LENGTH(base) - LENGTH(TRANSLATE(base, '0123456789', '')))
                     - (LENGTH(base) - LENGTH(TRANSLATE(base,
                          ' ' || CHR(9) || CHR(10) || CHR(12) || CHR(13), ''))))
                  AS BIGINT) AS n_bpe_tokens,
             CAST(LENGTH(REPLACE(s, ' ', '')) AS BIGINT) AS sum_tok_len
      FROM norm)
    SELECT doc_id, n_tokens, n_chars, n_punct, n_stopwords, n_bpe_tokens,
           CASE WHEN n_tokens > 0 THEN sum_tok_len / n_tokens
                ELSE CAST(0 AS DOUBLE) END AS avg_token_len,
           (LEAST(n_tokens / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
            + (CAST(1 AS DOUBLE) - LEAST(CASE WHEN n_chars > 0
                   THEN n_punct / n_chars
                   ELSE CAST(0 AS DOUBLE) END * 5, CAST(1 AS DOUBLE)))
            + LEAST(CASE WHEN n_tokens > 0
                THEN n_stopwords / n_tokens
                ELSE CAST(0 AS DOUBLE) END * 4, CAST(1 AS DOUBLE))) / 3 AS quality
    FROM m
    """,
    doc="text analysis: token/char/punct/stopword counts, BPE-ish token "
    "estimate, quality score — all JVM-side array exprs (functions/text.py)",
)
def text_quality_stats(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    toked = d.select("doc_id", "text", text.tokens("text").alias("toks"))
    metrics = text.profile_columns(F.col("text"), F.col("toks"))
    return toked.select(
        "doc_id", *[expr.alias(name) for name, expr in metrics.items()]
    )


@query(
    "doc_repetition_stats",
    # r12 dual-SQL port: bigram shingle i is split_part(i)||' '||
    # split_part(i+1) over the collapsed text — identical to joining
    # toks[i:i+1] (phantom empty tokens concatenate the same way);
    # the n<2 arm degenerates to the whole collapsed string, exactly
    # ARRAY_TO_STRING(toks, ' ').
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    sh AS (
      SELECT doc_id,
             CASE WHEN n >= 2
                  THEN SPLIT_PART(s, ' ', CAST(t.i AS INT)) || ' '
                       || SPLIT_PART(s, ' ', CAST(t.i + 1 AS INT))
                  ELSE s END AS shingle
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE t.i <= CASE WHEN n >= 2 THEN n - 1 ELSE 1 END
    )
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           COUNT(DISTINCT shingle) AS n_distinct,
           1 - COUNT(DISTINCT shingle) / COUNT(*) AS dup_fraction
    FROM sh GROUP BY doc_id
    """,
    perf_oracle=r"""
    WITH toks_cte AS (
      SELECT doc_id,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN []
                  ELSE STRING_SPLIT_REGEX(TRANSLATE(TRIM(text), CHR(11), ' '), '\s+') END AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN LEN(toks) >= 2
                  THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                                      i -> ARRAY_TO_STRING(toks[i:i+1], ' '))
                  ELSE [ARRAY_TO_STRING(toks, ' ')] END AS shingles
      FROM toks_cte
    )
    SELECT doc_id,
           LEN(shingles) AS n_shingles,
           LEN(LIST_DISTINCT(shingles)) AS n_distinct,
           1 - LEN(LIST_DISTINCT(shingles)) / LEN(shingles) AS dup_fraction
    FROM sh
    """,
    doc="within-document REPETITION detection (the Gopher-style "
    "duplicate-n-gram quality rule): fraction of a doc's bigram "
    "shingles that are repeats of earlier ones — high values mean "
    "boilerplate/looping text that dedup across docs can't see. Pure "
    "per-row array expressions (size + array_distinct on the shingle "
    "array): zero shuffle, zero UDF, scales as a map-only pass",
)
def doc_repetition_stats(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    sh = text.shingles("text", 2)
    n = F.size(sh)
    nd = F.size(F.array_distinct(sh))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_shingles"),
        nd.cast("long").alias("n_distinct"),
        (F.lit(1) - nd / n).alias("dup_fraction"),
    )


@query(
    "lang_id_counts",
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE_LOWER} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))
    ),
    px AS (SELECT doc_id, ' ' || REPLACE(s, ' ', '  ') || ' ' AS x FROM cl),
    scored AS (
      SELECT doc_id,
             {_sql_word_count('the')} + {_sql_word_count('and')} + {_sql_word_count('of')} + {_sql_word_count('is')} + {_sql_word_count('for')} AS s_en,
             {_sql_word_count('el')} + {_sql_word_count('la')} + {_sql_word_count('de')} + {_sql_word_count('que')} + {_sql_word_count('los')} AS s_es,
             {_sql_word_count('le')} + {_sql_word_count('la')} + {_sql_word_count('les')} + {_sql_word_count('des')} + {_sql_word_count('est')} AS s_fr,
             {_sql_word_count('der')} + {_sql_word_count('die')} + {_sql_word_count('und')} + {_sql_word_count('das')} + {_sql_word_count('ist')} AS s_de,
             {_sql_word_count('的')} + {_sql_word_count('是')} + {_sql_word_count('了')} + {_sql_word_count('在')} + {_sql_word_count('我')} AS s_zh
      FROM px
    ), pred AS (
      SELECT doc_id,
        CASE WHEN s_zh > GREATEST(s_en, s_es, s_fr, s_de, 0) THEN 'zh'
             WHEN s_de > GREATEST(s_en, s_es, s_fr, 0) THEN 'de'
             WHEN s_fr > GREATEST(s_en, s_es, 0) THEN 'fr'
             WHEN s_es > GREATEST(s_en, 0) THEN 'es'
             WHEN s_en > 0 THEN 'en'
             ELSE 'und' END AS lang_pred
      FROM scored
    )
    SELECT lang_pred, COUNT(*) AS n FROM pred GROUP BY lang_pred
    """,
    doc="language-ID heuristic (marker-token argmax; earlier language wins ties)",
)
def lang_id_counts(spark, sf_dir):
    # RS/US sentinel precondition — see packed_training_shards
    d = ensure_min_partitions(_t(spark, sf_dir, "documents")).filter(
        ~F.col("text").contains("\x1e") & ~F.col("text").contains("\x1f")
    )
    return (
        d.select(text.lang_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
    )


@query(
    "dedup_exact_documents",
    oracle="""
    SELECT doc_id FROM (
      SELECT doc_id, ROW_NUMBER() OVER (
        PARTITION BY MD5(
          REPLACE(REPLACE(REPLACE(
            TRANSLATE(LOWER(TRIM(text)),
                      CHR(9) || CHR(10) || CHR(11) || CHR(12) || CHR(13),
                      '     '),
            ' ', CHR(30) || CHR(31)), CHR(31) || CHR(30), ''),
            CHR(30) || CHR(31), ' '))
        ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
    doc="exact dedup on content fingerprint, deterministic survivor "
    "(hash-groupBy; uniform 128-bit key → no skew at 100 TB). The "
    "oracle's whitespace collapse is the engine-PORTABLE spelling of "
    "regexp '\\s+'->' ' (r10): TRANSLATE the four non-space ASCII "
    "whitespace chars to space, then the sentinel sandwich — each "
    "space -> RS·US, delete interior US·RS pairs, RS·US -> space — "
    "which collapses runs with plain global REPLACEs both engines "
    "share (DuckDB's 4-arg REGEXP_REPLACE 'g' flag reads as a "
    "1-based POSITION on Spark: the silent-wrong class that kept "
    "this entry off the dual surface until now). Probed equal to "
    "the regex on tab/newline/run/edge strings in both engines",
)
def dedup_exact_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d).select("doc_id")


def _minhash_prefix_cte(
    num_hashes: int = 16, bands: int = 4, portable: bool = False
) -> str:
    """Shared MinHash-LSH CTE prefix ending in ``mh`` (per-doc
    signatures) and ``bands`` (per-doc band bucket keys).

    ``portable=True`` (r12 dual-SQL port) swaps the DuckDB-only
    shingle machinery for the engine-shared subset: the split_part
    shingle fan-out (3-token shingles, <3-token docs degenerate to
    the whole collapsed string — exactly _SQL_SHINGLES' fallback arm)
    and the positional INSTR hex decode instead of the '0x' cast.
    Everything downstream (the a*h+b mod-P MIN signatures, the
    BIGINT||'|' band-key concat, the banded self-join) was already
    shared; h < 2^48 and a <= 33 keep every product under 2^63 on
    both engines. The native text stays as the perf_oracle twin."""
    from ..operators.dedup import MINHASH_P, minhash_params

    rows = num_hashes // bands
    mh_cols = []
    for k in range(num_hashes):
        a, b = minhash_params(k)
        mh_cols.append(f"MIN((h * {a} + {b}) % {MINHASH_P}) AS mh{k}")
    band_selects = "\n      UNION ALL\n".join(
        "SELECT doc_id, {b} AS band, MD5({expr}) AS bkey FROM mh".format(
            b=b,
            expr=" || '|' || ".join(f"mh{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    if portable:
        head = f"""{_sql_shingle3_expand()},
    ex AS (SELECT doc_id, ({_sql_hexdec12("shingle")}) AS h FROM shx)"""
    else:
        head = f"""toks_cte AS ({_SQL_TOKS}),
    sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT doc_id,
                  CAST(('0x' || SUBSTR(MD5(UNNEST(shingles)), 1, 12)) AS BIGINT) AS h
           FROM sh)"""
    return f"""{head},
    mh AS (SELECT doc_id, {", ".join(mh_cols)} FROM ex GROUP BY doc_id),
    bands AS ({band_selects})"""


def _minhash_matches_expr(num_hashes: int = 16) -> str:
    return " + ".join(f"CAST(ma.mh{k} = mb.mh{k} AS INT)" for k in range(num_hashes))


def _minhash_cte_body(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    portable: bool = False,
) -> str:
    """The MinHash-LSH pipeline as a reusable CTE chain ending in
    ``mhpairs(id_a, id_b, est_jaccard)`` — shared by the pair query,
    its bucket-capped scale twin, and the MinHash-edge clustering
    oracle. ``max_bucket`` mirrors the operator's band-bucket cap:
    buckets above the bound are excluded before the self-join."""
    matches = _minhash_matches_expr(num_hashes)
    if max_bucket is None:
        band_src = "bands"
        cap_ctes = ""
    else:
        band_src = "bands_kept"
        cap_ctes = f"""
    bands_sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY band, bkey) AS bsz FROM bands
    ),
    bands_kept AS (SELECT doc_id, band, bkey FROM bands_sized
                   WHERE bsz <= {max_bucket}),"""
    return f"""{_minhash_prefix_cte(num_hashes, bands, portable)},{cap_ctes}
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {band_src} a JOIN {band_src} b
        ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.doc_id < b.doc_id
    ),
    mhpairs AS (
      SELECT id_a, id_b, ({matches}) / CAST({num_hashes} AS DOUBLE) AS est_jaccard
      FROM cand
      JOIN mh ma ON ma.doc_id = cand.id_a
      JOIN mh mb ON mb.doc_id = cand.id_b
      WHERE ({matches}) / CAST({num_hashes} AS DOUBLE) >= {threshold}
    )"""


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    portable: bool = False,
) -> str:
    return f"""
    WITH {_minhash_cte_body(num_hashes, bands, threshold, max_bucket, portable)}
    SELECT id_a, id_b, est_jaccard FROM mhpairs
    """


@query(
    "minhash_near_dups",
    oracle=_minhash_oracle(16, 4, 0.5, portable=True),
    perf_oracle=_minhash_oracle(16, 4, 0.5),
    doc="MinHash+LSH near-dup pairs: shingle → 16 md5-minhashes (one agg "
    "pass) → 4-band bucket join → signature-estimated Jaccard ≥ 0.5. "
    "Never a cross join (operators/dedup.py)",
)
def minhash_near_dups(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(
        d, num_hashes=16, bands=4, shingle_n=3, threshold=0.5
    )


@query(
    "minhash_near_dups_capped",
    oracle=_minhash_oracle(16, 4, 0.5, max_bucket=2, portable=True),
    perf_oracle=_minhash_oracle(16, 4, 0.5, max_bucket=2),
    doc="the SCALE path of the MinHash-LSH family (r8 verdict ask #4; "
    "the banded-join analogue of ngram_jaccard_pairs_capped): band "
    "buckets larger than the cap are dropped before the self-join, "
    "bounding every bucket's candidate fan-out at cap² pairs — the "
    "uncapped form's hot-bucket d² blowup is exactly what spilled "
    "the x1000 attempt past the box's free disk. Cap=2 here so the "
    "bound demonstrably BINDS at bench SF (sf0.01's largest bucket "
    "is 3 docs; the entry's result differs from minhash_near_dups, "
    "so the gate certifies the cap semantics, not a no-op); the "
    "corpus-scale recommendation is O(100) — large enough to keep "
    "every genuine near-dup cluster, small enough that one "
    "boilerplate bucket cannot emit millions of pairs. Oracle "
    "mirrors the cap with a window count over (band, bkey) before "
    "the bucket self-join; the x1000 paired measurement lives in "
    "BENCH_NOTES (the deepest-decade row the uncapped form could "
    "not produce)",
)
def minhash_near_dups_capped(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(
        d, num_hashes=16, bands=4, shingle_n=3, threshold=0.5,
        max_bucket_size=2,
    )


@query(
    "ngram_jaccard_pairs",
    # r12 dual-SQL port: the shingle fan-out replaces _SQL_SHINGLES'
    # LAMBDA build; everything downstream (inverted-index self-join,
    # int/int jaccard) was already shared. perf_oracle keeps the
    # native UNNEST text.
    oracle=f"""
    WITH {_sql_shingle3_expand()},
    ex AS (SELECT DISTINCT doc_id, shingle AS s FROM shx),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.1
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.1
    """,
    doc="exact n-gram Jaccard pairs via shingle inverted index; "
    "jaccard = int/int division → bit-identical cross-engine. "
    "max_shingle_df=None: the exact verification twin — the scale "
    "path is ngram_jaccard_pairs_capped",
)
def ngram_jaccard_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.1, max_shingle_df=None)


@query(
    "ngram_jaccard_pairs_capped",
    # r12 dual-SQL port (same head swap as ngram_jaccard_pairs).
    oracle=f"""
    WITH {_sql_shingle3_expand()},
    ex0 AS (SELECT DISTINCT doc_id, shingle AS s FROM shx),
    rare AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 10),
    ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN rare USING (s)),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.1
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    sh AS ({_SQL_SHINGLES}),
    ex0 AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh),
    rare AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 10),
    ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN rare USING (s)),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.1
    """,
    doc="the SCALE path of the n-gram Jaccard family: shingles with "
    "document frequency > 10 are dropped before the inverted-index "
    "self-join, bounding the per-shingle fan-out at df² ≤ 100 pairs "
    "(a ubiquitous shingle with df=d otherwise emits d² candidates — "
    "the inverted-index blowup on a skewed key). Oracle mirrors the "
    "df filter with a HAVING before computing sizes/intersections "
    "over the same rare-shingle subspace",
)
def ngram_jaccard_pairs_capped(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.1, max_shingle_df=10)


@query(
    "benchmark_decontamination",
    # r12 dual-SQL port: 5-gram shingles via the split_part fan-out
    # (5-part concat, i <= n-4; <5-token docs degenerate to the whole
    # collapsed string, exactly ARRAY_TO_STRING(toks, ' ')). The
    # sentinel-collapse CTE is spelled inline (not _sql_tok_expand)
    # because the shingle needs the collapsed string itself, not the
    # token stream. perf_oracle keeps the native UNNEST text.
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    sh AS (
      SELECT doc_id,
             CASE WHEN n >= 5
                  THEN SPLIT_PART(s, ' ', CAST(t.i AS INT)) || ' '
                       || SPLIT_PART(s, ' ', CAST(t.i + 1 AS INT)) || ' '
                       || SPLIT_PART(s, ' ', CAST(t.i + 2 AS INT)) || ' '
                       || SPLIT_PART(s, ' ', CAST(t.i + 3 AS INT)) || ' '
                       || SPLIT_PART(s, ' ', CAST(t.i + 4 AS INT))
                  ELSE s END AS shingle
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE t.i <= CASE WHEN n >= 5 THEN n - 4 ELSE 1 END
    ),
    ex AS (SELECT DISTINCT doc_id, shingle AS s FROM sh),
    ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 47 = 0),
    tr AS (SELECT * FROM ex WHERE doc_id % 47 <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
    hit AS (SELECT tr.doc_id, COUNT(*) AS n_hits
            FROM tr JOIN ev USING (s) GROUP BY tr.doc_id)
    SELECT tot.doc_id, tot.n_shingles,
           CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(hit.n_hits, 0) >= 1 AS contaminated
    FROM tot LEFT JOIN hit ON hit.doc_id = tot.doc_id
    """,
    perf_oracle=rf"""
    WITH toks_cte AS ({_SQL_TOKS}),
    sh AS (
      SELECT doc_id,
             CASE WHEN LEN(toks) >= 5
                  THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 4),
                                      i -> ARRAY_TO_STRING(toks[i:i+4], ' '))
                  ELSE [ARRAY_TO_STRING(toks, ' ')] END AS shingles
      FROM toks_cte
    ),
    ex AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh),
    ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 47 = 0),
    tr AS (SELECT * FROM ex WHERE doc_id % 47 <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
    hit AS (SELECT tr.doc_id, COUNT(*) AS n_hits
            FROM tr JOIN ev USING (s) GROUP BY tr.doc_id)
    SELECT tot.doc_id, tot.n_shingles,
           CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(hit.n_hits, 0) >= 1 AS contaminated
    FROM tot LEFT JOIN hit ON hit.doc_id = tot.doc_id
    """,
    doc="train/test DECONTAMINATION — per training doc, distinct "
    "5-gram shingles shared with an eval corpus (here the doc_id%47 "
    "slice), the n-gram overlap audit every training pipeline runs "
    "before a corpus ships. The eval side is benchmark-suite-sized, "
    "so its distinct shingle-hash set is broadcast and the probe is a "
    "map-side hash join over the training scan — the 100 TB side is "
    "never shuffled (operators/dedup.contamination_report)",
)
def benchmark_decontamination(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 47 == 0)
    tr = d.filter(F.col("doc_id") % 47 != 0)
    # eval shingle-hash set collected ONCE per (session, sf) — the
    # benchmark suite is dimension-sized by contract (same legitimacy
    # as broadcasting it); the closure-probe path then plans map-only
    hashes = session_memo(
        spark,
        (sf_dir, "__eval_shingles"),
        lambda: [
            r[0]
            for r in ev.select(
                F.explode(F.array_distinct(text.shingles("text", 5))).alias("__s")
            )
            .select(F.xxhash64("__s").alias("h"))
            .distinct()
            .collect()
        ],
    )
    return dedup.contamination_report(
        tr, ev, shingle_n=5, min_hits=1, eval_hashes=hashes
    )


# Shared oracle body for the cluster queries: df-capped n-gram Jaccard
# pairs (threshold 0.3, max_shingle_df=1000 — the scale path; the cap
# is mirrored with a HAVING and does not bind at correctness SF) →
# symmetric edges → connected components via recursive CTE
# (reachability closure + MIN per node ≡ the min-label fixpoint the
# Spark operator iterates to) → per-doc cluster + size.
_CLUSTERS_SQL = f"""
    WITH RECURSIVE toks_cte AS ({_SQL_TOKS}),
    sh AS ({_SQL_SHINGLES}),
    ex0 AS (SELECT DISTINCT doc_id, UNNEST(shingles) AS s FROM sh),
    rare AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= 1000),
    ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN rare USING (s)),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE inter / (sa.sz + sb.sz - inter) >= 0.3
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    walk(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
    ),
    comp AS (SELECT node, MIN(comp) AS cluster_id FROM walk GROUP BY node),
    clus AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM clus
    )
"""


@query(
    "near_dup_clusters",
    oracle=_CLUSTERS_SQL + "SELECT doc_id, cluster_id, cluster_size FROM sized",
    doc="near-dup CLUSTERS, not just pairs: exact n-gram Jaccard edges "
    "(≥0.3) → distributed connected components via iterative min-label "
    "propagation (operators/dedup.connected_components — one equi-join + "
    "min-agg per round, lineage cut by checkpoint, rounds = graph "
    "diameter), singletons keep their own id. The oracle computes the "
    "same fixpoint with a recursive CTE — an exact cross-engine check "
    "of an iterative distributed algorithm",
)
def near_dup_clusters(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(
        d, shingle_n=3, threshold=0.3, max_shingle_df=1000
    ).select("id_a", "id_b")
    return dedup.near_dup_clusters(d, edges)


@query(
    "canonical_near_dup_docs",
    oracle=_CLUSTERS_SQL
    + """
    SELECT s.doc_id, s.cluster_id, s.cluster_size
    FROM sized s JOIN documents d ON d.doc_id = s.doc_id
    QUALIFY ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                               ORDER BY LENGTH(d.text) DESC, s.doc_id ASC) = 1
    """,
    doc="corpus dedup reduction: keep ONE canonical doc per near-dup "
    "cluster (longest text, ties → smallest id) — turns pair/cluster "
    "detection into the actual training-corpus dedup output via a single "
    "ranking window over the cluster key",
)
def canonical_near_dup_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(
        d, shingle_n=3, threshold=0.3, max_shingle_df=1000
    ).select("id_a", "id_b")
    clusters = dedup.near_dup_clusters(d, edges)
    return dedup.canonical_docs(d, clusters)


@query(
    "minhash_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte_body(16, 4, 0.5)},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mhpairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM mhpairs
    ),
    walk(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
    ),
    comp AS (SELECT node, MIN(comp) AS cluster_id FROM walk GROUP BY node),
    clus AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM clus
    )
    SELECT doc_id, cluster_id, cluster_size FROM sized
    """,
    doc="near-dup clustering with MINHASH-LSH edges — the 100 TB "
    "composition (at scale, edges must come from the banded MinHash "
    "candidate generator, not exact n-gram Jaccard): MinHash signature "
    "pairs (est_jaccard ≥ 0.5) → symmetric edge list → distributed "
    "connected components (iterative min-label propagation). Oracle "
    "computes the same fixpoint with a recursive CTE over the same "
    "inlined MinHash pipeline — an exact cross-engine check of the "
    "full candidate-generation + iterative-clustering composition",
)
def minhash_clusters(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_near_dup_pairs(
        d, num_hashes=16, bands=4, shingle_n=3, threshold=0.5
    ).select("id_a", "id_b")
    return dedup.near_dup_clusters(d, edges)


# DuckDB mirror of functions/vectors.py: sequential double accumulation
# over the array, same operation order as Spark's aggregate().
_SQL_DOT = (
    "LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, LEN({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_SQL_NORM = (
    "SQRT(LIST_SUM(LIST_TRANSFORM({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def _sql_cosine(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_NORM.format(a=a)
    nb = _SQL_NORM.format(a=b)
    return f"(CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) ELSE 0.0 END)"


def _sql_lsh_bucket(n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """DuckDB twin of similarity.lsh_bucket: the SAME seeded
    hyperplanes inlined as literals, sign-bit weighted sum."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)

    def dot_terms(plane: list[float]) -> str:
        return " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * CAST({plane[j]!r} AS DOUBLE)"
            for j in range(dim)
        )

    return " + ".join(
        f"CAST(({dot_terms(p)}) > 0 AS BIGINT) * {2**i}" for i, p in enumerate(planes)
    )


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cosine('q.qv', 'e.embedding')} AS cosine_sim
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
           ROUND(cosine_sim, 6) AS cosine_sim
    FROM scored
    QUALIFY rank <= 10
    """,
    doc="brute-force cosine top-k ANN baseline: broadcast queries × corpus "
    "scan, per-query rank window (operators/similarity.py); LSH variant "
    "provides the bucketed scale path",
)
def ann_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(e, e.filter(F.col("vec_id") < 8), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
    )


@query(
    "retrieval_topk_docs",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cosine('q.qv', 'e.embedding')} AS cosine_sim
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ),
    topk AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
             ROUND(cosine_sim, 6) AS cosine_sim
      FROM scored
      QUALIFY rank <= 5
    )
    SELECT t.query_id, t.neighbor_id AS doc_id, t.rank, t.cosine_sim,
           d.lang, d.source, d.n_chars
    FROM topk t JOIN documents d ON d.doc_id = t.neighbor_id
    """,
    doc="end-to-end RETRIEVAL: cosine top-5 per query vector joined "
    "back to the documents table for the metadata a RAG consumer "
    "needs (lang, source, n_chars). The |Q|*k-row hit list is the "
    "BROADCAST side against the corpus-sized documents scan — at "
    "100 TB the big table never shuffles to serve a retrieval; "
    "1:1 vec_id↔doc_id is the testdata contract",
)
def retrieval_topk_docs(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    hits = similarity.cosine_topk(e, e.filter(F.col("vec_id") < 8), k=5)
    d = _t(spark, sf_dir, "documents")
    return (
        F.broadcast(
            hits.select(
                "query_id",
                F.col("neighbor_id").alias("doc_id"),
                F.col("rank").cast("long").alias("rank"),
                F.round("cosine_sim", 6).alias("cosine_sim"),
            )
        )
        .join(d.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .select(
            "query_id", "doc_id", "rank", "cosine_sim", "lang", "source", "n_chars"
        )
    )


@query(
    "embedding_near_dups",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding,
                      ({_sql_lsh_bucket(8, 64, 42)}) AS bkt
               FROM embeddings)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           ROUND({_sql_cosine('a.embedding', 'c.embedding')}, 6) AS cosine_sim
    FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
    WHERE {_sql_cosine('a.embedding', 'c.embedding')} >= 0.35
    """,
    doc="embedding-cosine near-dup pairs via the SCALE path: LSH sign-bucket "
    "candidate generation (equi-join on the bucket key — never an all-pairs "
    "cross join) + exact cosine verify (operators/similarity.py "
    "embedding_near_dup_pairs default). Oracle inlines the same seeded "
    "hyperplanes, so the bucketed candidate set matches exactly; "
    "embedding_near_dups_exact is the recall-measurement twin",
)
def embedding_near_dups(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_near_dup_pairs(
        e, threshold=0.35, n_planes=8, dim=64, seed=42
    )
    return out.select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


@query(
    "embedding_near_dups_exact",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cosine_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND {_sql_cosine('a.embedding', 'b.embedding')} >= 0.35
    """,
    doc="exact all-pairs twin of embedding_near_dups — the recall-"
    "measurement baseline (O(n²) broadcast-nested-loop; only sane for "
    "dimension-table-sized corpora — the registered scale path is the "
    "LSH-bucketed variant)",
)
def embedding_near_dups_exact(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_near_dup_pairs(e, threshold=0.35, exact=True)
    return out.select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


def _simhash_oracle(
    bits: int = 56,
    band_bits: int = 14,
    max_hamming: int = 3,
    portable: bool = True,
) -> str:
    # r12 dual-SQL port (portable=True, the correctness/dual text):
    # every spelling is engine-shared (probed + pinned in
    # tests/test_round12_wave.py) —
    #   hex -> BIGINT: DuckDB's CAST('0x..' AS BIGINT) has no Spark
    #     twin, so the MD5 prefix decodes positionally:
    #     sum_j (INSTR(hexdigits, char_j) - 1) * 16^(13-j);
    #   xor: DuckDB's ^ is exponent and Spark lacks xor(), but
    #     (a|b) - (a&b) is XOR on both;
    #   >> / & / | / bit_count parse identically on both.
    # portable=False keeps the DuckDB-native UNNEST + '0x' cast +
    # xor() text as the perf_oracle timing twin (result-equality of
    # the two gated in tests).
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    nhex = bits // 4
    hexdec = " + ".join(
        f"(INSTR('0123456789abcdef', SUBSTR(MD5(term), {j + 1}, 1)) - 1)"
        f" * CAST({16 ** (nhex - 1 - j)} AS BIGINT)"
        for j in range(nhex)
    )
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v{b} >= 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END" for b in range(bits)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, simhash, {b} AS band, ((simhash >> {b * band_bits}) & {mask}) AS seg FROM sig"
        for b in range(n_bands)
    )
    if portable:
        head = f"""
    WITH {_sql_tok_expand()},
    h AS (SELECT doc_id, ({hexdec}) AS h FROM tok),"""
        xor_expr = "(sh_a | sh_b) - (sh_a & sh_b)"
    else:
        head = f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    tok AS (SELECT doc_id, UNNEST(toks) AS t FROM toks_cte),
    h AS (SELECT doc_id, CAST(('0x' || SUBSTR(MD5(t), 1, {nhex})) AS BIGINT) AS h FROM tok),"""
        xor_expr = "xor(sh_a, sh_b)"
    return f"""{head}
    votes AS (SELECT doc_id, {votes}
              FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, ({sig}) AS simhash FROM votes),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sh_a, b.simhash AS sh_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.seg = b.seg
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(bit_count({xor_expr}) AS INT) AS hamming
      FROM cand
    ) WHERE hamming <= {max_hamming}
    """


@query(
    "simhash_near_dups",
    oracle=_simhash_oracle(56, 14, 3),
    perf_oracle=_simhash_oracle(56, 14, 3, portable=False),
    doc="SimHash near-dup pairs: per-token 56-bit hash → ONE groupBy with "
    "per-bit ±1 vote sums (map-side partial agg, zero Python) → 14-bit "
    "band join (pigeonhole guarantees hamming≤3 pairs collide) → popcount "
    "verify (operators/dedup.py simhash_near_dup_pairs)",
)
def simhash_near_dups(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(d, bits=56, max_hamming=3, band_bits=14)


@query(
    "doc_fingerprints",
    # r12 dual-SQL port. content_fp: the sentinel collapse IS the
    # regexp '\s+'->' ' normalization (probed class, the dedup_exact
    # r10 port) so MD5 hashes the identical string. rolling_fp: the
    # sequential fold (a*31 + b) % P has the closed form
    # (sum_i b_i * 31^(n-i)) % P — per-TERM modular reduction keeps
    # every intermediate under 2^62 (b % P < 2^31, times 31^j % P
    # < 2^31 -> product < 2^62; the <=128-term sum of %P-reduced
    # products < 2^39), and the 128-row 31^j mod P power table is
    # precomputed in Python and inlined as VALUES — no modpow needed
    # in either engine. perf_oracle keeps the native LIST_REDUCE fold.
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s, MD5({_SQL_COLLAPSE_LOWER}) AS content_fp
      FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, content_fp, {_SQL_NTOKENS_S} AS n FROM cl),
    tok AS (
      SELECT doc_id, n, CAST(t.i AS INT) AS pos,
             SPLIT_PART(s, ' ', CAST(t.i AS INT)) AS term
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE t.i <= n),
    pw AS (SELECT * FROM (VALUES
      {", ".join(f"({j}, {pow(31, j, text.ROLLING_HASH_P)})" for j in range(_TOK_FANOUT_BOUND))})
      p(j, w)),
    h AS (
      SELECT doc_id,
             ((({_SQL_HEXDEC12}) % {text.ROLLING_HASH_P}) * pw.w)
             % {text.ROLLING_HASH_P} AS hterm
      FROM tok JOIN pw ON pw.j = tok.n - tok.pos),
    agg AS (SELECT doc_id,
                   CAST(SUM(hterm) % {text.ROLLING_HASH_P} AS BIGINT) AS rolling_fp
            FROM h GROUP BY doc_id)
    SELECT nt.doc_id, nt.content_fp,
           CAST(COALESCE(agg.rolling_fp, 0) AS BIGINT) AS rolling_fp
    FROM nt LEFT JOIN agg ON nt.doc_id = agg.doc_id
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS})
    SELECT doc_id,
           MD5(REGEXP_REPLACE(TRANSLATE(LOWER(TRIM(text)), CHR(11), ' '), '\\s+', ' ', 'g')) AS content_fp,
           LIST_REDUCE(
             LIST_PREPEND(CAST(0 AS BIGINT),
               LIST_TRANSFORM(toks,
                 t -> CAST(('0x' || SUBSTR(MD5(t), 1, 12)) AS BIGINT) % {text.ROLLING_HASH_P})),
             (a, b) -> (a * 31 + b) % {text.ROLLING_HASH_P}) AS rolling_fp
    FROM toks_cte
    """,
    doc="document fingerprinting: content-normalized md5 (set-style exact-dup "
    "key) + order-sensitive polynomial rolling hash over the token stream "
    "(functions/text.py fingerprint, rolling_hash) — both JVM-side",
)
def doc_fingerprints(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        text.fingerprint("text").alias("content_fp"),
        text.rolling_hash("text").alias("rolling_fp"),
    )


def _lsh_ann_oracle(k: int = 10, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    bucket = _sql_lsh_bucket(n_planes, dim, seed)
    return f"""
    WITH b AS (SELECT vec_id, embedding, ({bucket}) AS bkt FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM b WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             {_sql_cosine('q.qv', 'b.embedding')} AS cosine_sim
      FROM q JOIN b ON q.bkt = b.bkt AND b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
           ROUND(cosine_sim, 6) AS cosine_sim
    FROM scored
    QUALIFY rank <= {k}
    """


@query(
    "lsh_ann_topk",
    oracle=_lsh_ann_oracle(10, 8, 64, 42),
    doc="LSH-bucketed ANN (the 100 TB scale path for similarity search): "
    "random-hyperplane sign buckets computed map-side, candidates limited "
    "to the query's bucket (≈2^8× pruning), exact cosine re-rank "
    "(operators/similarity.py lsh_topk). Oracle inlines the same seeded "
    "hyperplanes — sequential double accumulation is bit-identical",
)
def lsh_ann_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(
        e, e.filter(F.col("vec_id") < 8), k=10, n_planes=8, dim=64, seed=42,
        query_rows=_q8_rows(spark, sf_dir, e),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
    )


# DuckDB L2 distance for the IVF/k-means centroid ranking: the sum of
# squared component differences, the same quantity the Arrow kernels
# rank by (sqrt keeps the ORDER), so nearest cells are identical.
def _sql_l2(a: str, b: str) -> str:
    return (
        f"SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, LEN({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))))"
    )


@query(
    "ivf_ann_topk",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, cid
      FROM embeddings e, cent
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY {_sql_l2('e.embedding', 'cv')} ASC, cid ASC) = 1
    ),
    probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS qv, cid
      FROM embeddings q, cent
      WHERE q.vec_id < 8
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                 ORDER BY {_sql_l2('q.embedding', 'cv')} ASC, cid ASC) <= 2
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             {_sql_cosine('p.qv', 'a.cvec')} AS cosine_sim
      FROM probes p JOIN assigned a ON p.cid = a.cid AND a.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
           ROUND(cosine_sim, 6) AS cosine_sim
    FROM scored
    QUALIFY rank <= 10
    """,
    doc="IVF coarse-quantized ANN (operators/similarity.py ivf_topk): "
    "corpus assigned to nearest-centroid cells via one broadcast pass, "
    "queries probe their 2 nearest cells, exact cosine re-rank inside "
    "probed cells. Cell id doubles as the corpus bucket key at 100 TB; "
    "centroid table is pluggable (KMeans in production, deterministic "
    "first-k here so the oracle mirrors the full algorithm)",
)
def ivf_ann_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    # the 8 query vectors double as the default centroid table (both
    # are vec_id < 8); ONE cached collect feeds both control planes,
    # so steady-state plan construction runs zero Spark jobs
    rows = _q8_rows(spark, sf_dir, e)
    out = similarity.ivf_topk(e, rows, rows, k=10, n_probe=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
    )


# px8_sum oracle: the decoded feature window is the first 8 pixels of
# the ramp px[i] = (doc_id%256 + i) mod 256 — eight explicit terms.
_PGM_PX8_SQL = " + ".join(f"((doc_id % 256 + {i}) % 256)" for i in range(8))


@query(
    "multimodal_decode",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(8 + LENGTH(text) % 24 AS INT) AS width,
           CAST(8 + (LENGTH(text) * 3) % 24 AS INT) AS height,
           CAST(1 + (doc_id % 256) % 8 AS INT) AS n_frames,
           CAST(({_PGM_PX8_SQL}) AS BIGINT) AS px8_sum,
           CAST(FLOOR(((doc_id % 256) % 8) / 2) + 1 AS BIGINT) AS n_sampled_frames,
           CAST(4 AS INT) AS feat_dim
    FROM documents
    """,
    doc="multimodal pipeline over REAL image bytes: render_pgm_payload "
    "builds a genuine binary NetPBM P5 image per document JVM-side "
    "(header + pixel ramp), decode_media parses header and pixel plane "
    "with a real stdlib PGM decoder in Arrow-batched mapInPandas, then "
    "frame sampling via sequence+explode and feature resize. px8_sum "
    "recovers the first 8 decoded pixels from the float features "
    "(round(f·255) is exact for 8-bit pixels) so the oracle checks the "
    "decoded VALUES, not just shapes (operators/multimodal.py)",
)
def multimodal_decode(spark, sf_dir):
    # ONE decode pass: frame-sample count and resized-feature dim are
    # per-row facts, so they compose as columns (sampled_frame_indices
    # / resized_features) instead of exploding and re-aggregating the
    # decoded relation. The previous join-back shape re-RAN the Python
    # decode stage 3x: a mapInPandas subtree referenced on both sides
    # of a self-join is recomputed per reference (measured 0.94s ->
    # 0.42s steady at sf0.1). Plan is map-only — no join, no shuffle.
    d = _t(spark, sf_dir, "documents")
    media = multimodal.render_pgm_payload(d, "doc_id", "text")
    decoded = multimodal.decode_media(media)
    px8 = F.aggregate(
        F.transform(F.slice("features", 1, 8), lambda x: F.round(x * 255).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return decoded.select(
        "media_id", "width", "height", "n_frames",
        px8.alias("px8_sum"),
        F.size(multimodal.sampled_frame_indices(2)).cast("long").alias("n_sampled_frames"),
        F.size(multimodal.resized_features(4)).alias("feat_dim"),
    )


@query(
    "multimodal_decode_bmp",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(8 + (LENGTH(text) % 6) * 4 AS INT) AS width,
           CAST(8 + (LENGTH(text) * 3) % 24 AS INT) AS height,
           CAST(1 + (doc_id % 256) % 8 AS INT) AS n_frames,
           CAST(({_PGM_PX8_SQL}) AS BIGINT) AS px8_sum,
           CAST(14 + 40 + 1024 + (8 + (LENGTH(text) % 6) * 4) *
                (8 + (LENGTH(text) * 3) % 24) AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="second REAL decoder format: render_bmp_payload builds a "
    "genuine 8-bit grayscale Windows BMP per document JVM-side "
    "(little-endian binary header + 256-entry palette + ramp pixel "
    "plane — a structurally different container from PGM's text "
    "header), decode_media's stdlib BMP branch parses it back in the "
    "same Arrow-batched mapInPandas. px8_sum recovers the first 8 "
    "decoded pixels (shared ramp arithmetic with the PGM oracle); "
    "n_bytes checks the full container layout byte count "
    "(operators/multimodal.render_bmp_payload)",
)
def multimodal_decode_bmp(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    media = multimodal.render_bmp_payload(d, "doc_id", "text")
    decoded = multimodal.decode_media(media)
    px8 = F.aggregate(
        F.transform(F.slice("features", 1, 8), lambda x: F.round(x * 255).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    sizes = media.select("media_id", F.col("meta.n_bytes").alias("n_bytes"))
    return decoded.join(sizes, "media_id").select(
        "media_id", "width", "height", "n_frames",
        px8.alias("px8_sum"), "n_bytes",
    )


# s8_sum oracle: first 8 samples of the ramp s[i] = (doc_id%256 + i)
# mod 256 — same closed form as the image px8_sum.
_WAV_S8_SQL = " + ".join(f"((doc_id % 256 + {i}) % 256)" for i in range(8))


@query(
    "audio_decode_wav",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(8 + (LENGTH(text) * 5) % 32 AS BIGINT) AS n_samples,
           CAST(({_WAV_S8_SQL}) AS BIGINT) AS s8_sum,
           (SELECT CAST(SUM(((doc_id % 256 + i) % 256) * ((doc_id % 256 + i) % 256)) AS BIGINT)
            FROM UNNEST(GENERATE_SERIES(0, 8 + (LENGTH(text) * 5) % 32 - 1)) t(i)) AS energy_sum
    FROM documents
    """,
    doc="AUDIO pipeline over REAL RIFF/WAVE bytes: render_wav_payload "
    "builds a genuine 8-bit PCM WAV per document JVM-side (RIFF + "
    "fmt + data chunks, ramp samples), decode_audio walks the chunk "
    "list with a real stdlib RIFF parser in Arrow-batched mapInPandas "
    "and emits integer-exact features — s8_sum (first 8 samples) and "
    "energy_sum (sum of squared samples, un-normalized clip energy) — "
    "so the oracle verifies the DECODED sample values with closed-form "
    "arithmetic. Third real decoder format after PGM and BMP "
    "(operators/multimodal.py render_wav_payload/decode_audio)",
)
def audio_decode_wav(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    media = multimodal.render_wav_payload(d, "doc_id", "text")
    return multimodal.decode_audio(media)


_Y4M_Y8_SQL = " + ".join(f"((doc_id % 256 + f + {i}) % 256)" for i in range(8))


def _ppm_ch_sql(ch: int) -> str:
    # channel ch of pixel i sits at ramp offset seed + 3i + ch
    return " + ".join(f"((doc_id % 256 + {3 * i + ch}) % 256)" for i in range(8))


@query(
    "multimodal_decode_ppm",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(8 + LENGTH(text) % 24 AS INT) AS width,
           CAST(8 + (LENGTH(text) * 3) % 24 AS INT) AS height,
           CAST(({_ppm_ch_sql(0)}) AS BIGINT) AS r8_sum,
           CAST(({_ppm_ch_sql(1)}) AS BIGINT) AS g8_sum,
           CAST(({_ppm_ch_sql(2)}) AS BIGINT) AS b8_sum
    FROM documents
    """,
    doc="COLOR image pipeline over REAL binary PPM (P6) bytes — the "
    "fifth real media format and the first with CHANNELS: "
    "render_ppm_payload builds an interleaved-RGB NetPBM image per "
    "document JVM-side, decode_color_image parses the header and "
    "DE-INTERLEAVES the triplets in one Arrow mapInPandas pass, "
    "emitting integer-exact per-channel sums (r8/g8/b8 differ "
    "because each channel samples a different ramp phase — proof the "
    "planes were actually separated, not hashed). The oracle "
    "rebuilds every channel's facts with closed-form arithmetic "
    "(operators/multimodal.py render_ppm_payload/decode_color_image)",
)
def multimodal_decode_ppm(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    media = multimodal.render_ppm_payload(d, "doc_id", "text")
    return multimodal.decode_color_image(media)


@query(
    "video_frame_scan",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(8 + (LENGTH(text) % 8) * 2 AS INT) AS width,
           CAST(8 + (LENGTH(text) * 3) % 16 AS INT) AS height,
           CAST(2 + doc_id % 4 AS INT) AS n_frames,
           CAST(f AS INT) AS frame_idx,
           CAST(({_Y4M_Y8_SQL}) AS BIGINT) AS y8_sum
    FROM documents,
         UNNEST(GENERATE_SERIES(0, 1 + doc_id % 4, 2)) t(f)
    """,
    doc="VIDEO pipeline over REAL YUV4MPEG2 bytes — the fourth real "
    "media format and the first with a time axis: render_y4m_payload "
    "builds a genuine multi-frame Y4M stream per document JVM-side "
    "(text stream header + FRAME markers + per-frame phase-shifted "
    "luma planes), decode_video walks the frame markers with a real "
    "stdlib parser in Arrow-batched mapInPandas emitting ONE ROW PER "
    "FRAME with integer-exact facts (y8_sum differs per frame — "
    "proof the decoder read each frame's own plane), and frame "
    "SAMPLING (every 2nd frame) composes downstream as a plain JVM "
    "filter on frame_idx — no second decode pass. The oracle rebuilds "
    "every sampled frame's facts with closed-form arithmetic "
    "(operators/multimodal.py render_y4m_payload/decode_video)",
)
def video_frame_scan(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    media = multimodal.render_y4m_payload(d, "doc_id", "text")
    return multimodal.decode_video(media).filter(F.col("frame_idx") % 2 == 0)


# ===========================================================================
# §2.4/§2.5/§2.6 surface extensions: rollup, lag deltas, intersect,
# messy-ingest cleaning chain, approximate distinct
# ===========================================================================


@query(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="hierarchical rollup aggregation (subtotals + grand total in one "
    "pass) — beyond the reference's flat group-bys; Catalyst expands to "
    "grouping sets with a single shuffle",
)
def rollup_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "sum_qty"),
        _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_revenue", 4),
        F.count("*").alias("n"),
    )


@query(
    "deterministic_split_stats",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, text,
             CASE WHEN SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 2) < 'cd' THEN 'train'
                  WHEN SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 2) < 'e4' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           ROUND(AVG(LENGTH(text)), 6) AS avg_chars
    FROM assigned GROUP BY split
    """,
    doc="deterministic content-hash train/val/test split (operators/"
    "sampling.py): md5-bucket assignment is reproducible across reruns, "
    "repartitioning, and cluster sizes — no seed, no shuffle, no "
    "coordination; the leakage-proof split discipline for training "
    "corpora. Oracle mirrors the hex-prefix ranges exactly",
)
def deterministic_split_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    assigned = sampling.train_val_test_split(d, F.col("doc_id"))
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
    )


@query(
    "hash_sampled_docs",
    oracle="""
    SELECT doc_id, SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 2) AS bucket
    FROM documents
    WHERE SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 2) < '29'
    """,
    doc="deterministic ~16% corpus sample by md5 bucket range "
    "(operators/sampling.hash_sample): a scan-level filter — samples "
    "100 TB without a shuffle, composes with partition pruning, and "
    "always selects the same rows (unlike seeded sample(), which is "
    "partition-layout-dependent)",
)
def hash_sampled_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(d, F.col("doc_id")).select(
        "doc_id", sampling.hash_bucket(F.col("doc_id")).alias("bucket")
    )


@query(
    "split_leakage_report",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             CASE WHEN SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 2) < 'cd' THEN 'train'
                  WHEN SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 2) < 'e4' THEN 'val'
                  ELSE 'test' END AS split,
             MD5({_SQL_COLLAPSE_LOWER}) AS fp
      FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))
    ),
    fps AS (
      SELECT fp,
             CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(split) AS s1, MAX(split) AS s2
      FROM assigned GROUP BY fp
    )
    SELECT n_splits,
           CASE WHEN n_splits = 1 THEN 'none'
                ELSE s1 || '->' || s2 END AS leak_span,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM fps
    GROUP BY n_splits, CASE WHEN n_splits = 1 THEN 'none'
                            ELSE s1 || '->' || s2 END
    ORDER BY n_splits, leak_span
    """,
    doc="train/val/test LEAKAGE audit — the check every training "
    "pipeline runs after splitting: the same deterministic md5 split "
    "as deterministic_split_stats, an exact content fingerprint (md5 "
    "over the lowercase whitespace-collapsed text, the dedup_exact "
    "key), and a report of fingerprints whose duplicates STRADDLE "
    "splits (a val/test doc whose exact content also sits in train "
    "is memorization leakage, not held-out signal). Grouped "
    "span-labeled counts keep the output tiny. Written entirely in "
    "the SHARED SQL subset (md5/CAST-AS-STRING/TRANSLATE-collapse/"
    "CONTAINS/string concat) so the oracle runs UNMODIFIED on Spark "
    "SQL — dual-green by construction. RS/US-byte docs are excluded "
    "identically on both engines (the counting-port sandwich "
    "precondition); at 100 TB this is one fingerprint-keyed exchange "
    "(uniform 128-bit key, no skew) + a tiny span rollup",
)
def split_leakage_report(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(
        ~F.col("text").contains("\x1e") & ~F.col("text").contains("\x1f")
    )
    assigned = sampling.train_val_test_split(d, F.col("doc_id")).select(
        "split", text.fingerprint("text").alias("fp")
    )
    fps = assigned.groupBy("fp").agg(
        F.countDistinct("split").cast("long").alias("n_splits"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("split").alias("s1"),
        F.max("split").alias("s2"),
    )
    span = F.when(F.col("n_splits") == 1, F.lit("none")).otherwise(
        F.concat(F.col("s1"), F.lit("->"), F.col("s2"))
    )
    return (
        fps.groupBy("n_splits", span.alias("leak_span"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
            _sum_i64_checked(
                F.col("n_docs"), "split_leakage_report[n_docs]"
            ).alias("n_docs"),
        )
        .orderBy("n_splits", "leak_span")
    )


@query(
    "quality_weighted_sample",
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, text, {_SQL_COLLAPSE_LOWER} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))
    ),
    px AS (
      SELECT doc_id, text, s,
             ' ' || REPLACE(s, ' ', '  ') || ' ' AS x
      FROM cl
    ),
    m AS (
      SELECT doc_id,
             {_SQL_NTOKENS_S} AS n_tokens,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(TRANSLATE(text, '.,!?;:', '')) AS n_punct,
             {_sql_word_count('the')} + {_sql_word_count('a')} + {_sql_word_count('and')} + {_sql_word_count('of')} + {_sql_word_count('to')} + {_sql_word_count('in')} + {_sql_word_count('is')} + {_sql_word_count('it')} + {_sql_word_count('for')} + {_sql_word_count('on')} AS n_stopwords
      FROM px
    ),
    weighted AS (
      SELECT doc_id,
  (LEAST(n_tokens / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
   + (CAST(1 AS DOUBLE) - LEAST(CASE WHEN n_chars > 0
          THEN n_punct / n_chars
          ELSE CAST(0 AS DOUBLE) END * 5, CAST(1 AS DOUBLE)))
   + LEAST(CASE WHEN n_tokens > 0
       THEN n_stopwords / n_tokens
       ELSE CAST(0 AS DOUBLE) END * 4, CAST(1 AS DOUBLE))) / 3
 AS w FROM m
    )
    SELECT doc_id, ROUND(w, 6) AS weight
    FROM weighted
    WHERE SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 4)
          < LPAD(LOWER(HEX(CAST(LEAST(FLOOR(w * 65536), 65535) AS BIGINT))), 4, '0')
    """,
    doc="quality-weighted deterministic corpus sampling (operators/"
    "sampling.weighted_hash_sample): each doc kept with probability ≈ "
    "its quality score, reproducibly across reruns and partition "
    "layouts — the downsample-by-quality step of a training pipeline "
    "as a pure scan-level filter. Hex-string threshold compare keeps "
    "the predicate engine-portable",
)
def quality_weighted_sample(spark, sf_dir):
    # RS/US sentinel precondition — see packed_training_shards
    d = ensure_min_partitions(_t(spark, sf_dir, "documents")).filter(
        ~F.col("text").contains("\x1e") & ~F.col("text").contains("\x1f")
    )
    weighted = d.select("doc_id", text.quality_score("text").alias("w"))
    kept = sampling.weighted_hash_sample(weighted, F.col("doc_id"), F.col("w"))
    return kept.select("doc_id", F.round("w", 6).alias("weight"))


@query(
    "tfidf_top_terms",
    # r12 dual-SQL port: split_part fan-out + rank subquery (QUALIFY
    # has no Spark spelling); scoring text unchanged.
    oracle=f"""
    WITH {_sql_tok_expand(_SQL_COLLAPSE_LOWER)},
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, term, tfidf,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    exploded AS (
      SELECT doc_id, LOWER(UNNEST(toks)) AS term FROM toks_cte
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM exploded GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
    doc="TF-IDF top-3 terms per document: explode → two hash aggs "
    "(term frequency per doc, document frequency) → df join → ranking "
    "window. The df side is vocabulary-sized (≪ corpus, Heaps-law "
    "sublinear) but NOT hard-bounded — a 100 TB web corpus has 1e8+ "
    "terms — so it joins unhinted: AQE broadcasts it while it fits "
    "and falls back to the term-keyed shuffle join (tf is already "
    "term-hashed from its own agg) past the threshold. Smoothed idf "
    "ln((N+1)/(df+1)) rounded to absorb cross-engine libm noise",
)
def tfidf_top_terms(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    exploded = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("t")
    ).select("doc_id", F.lower("t").alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


# ===========================================================================
# Corpus preparation: chunking / packing / sampling / vocab / PII / quantize
# ===========================================================================


@query(
    "chunked_documents",
    # r12 dual-SQL port — the last TOKENS+SERIES+'//' blocker falls:
    # starts come from a BOUNDED range(0,3) fan-out (stride 48 over a
    # <=128-token collapse caps k at 2), chunk_idx IS k (no '//'),
    # and the chunk body is a 64-term bounds-checked CONCAT_WS —
    # BOTH engines skip NULL args in CONCAT_WS, which is exactly the
    # tail-bounds handling. Old-vs-new pinned row-identical on DuckDB
    # at two SFs before adoption; native slice text kept below as the
    # timing twin (chunked_documents is a headline bench query).
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    st AS (
      SELECT doc_id, s, n, CAST(t.k AS INT) AS chunk_idx,
             CAST(1 + 48 * t.k AS INT) AS start
      FROM nt CROSS JOIN range(0, 3) t(k)
      WHERE n > 0 AND 1 + 48 * t.k <= GREATEST(n - 16, 1)
    )
    SELECT doc_id, chunk_idx,
           CONCAT_WS(' ',
             {",             ".join(
                 f"CASE WHEN start + {o} <= n THEN SPLIT_PART(s, ' ', start + {o}) END"
                 for o in range(64)
             )}) AS chunk_text,
           CAST(LEAST(64, n - start + 1) AS INT) AS chunk_n_tokens
    FROM st
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    st AS (
      SELECT doc_id, toks, LEN(toks) AS n,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks) - 16, 1), 48)) AS start
      FROM toks_cte WHERE LEN(toks) > 0
    )
    SELECT doc_id,
           CAST((start - 1) // 48 AS INT) AS chunk_idx,
           ARRAY_TO_STRING(toks[start : start + 63], ' ') AS chunk_text,
           CAST(LEAST(64, n - start + 1) AS INT) AS chunk_n_tokens
    FROM st
    """,
    doc="overlapping token-window chunking (context-length fit pass, "
    "64-token chunks / 16-token overlap): tokenize once, stride-"
    "sequence of starts, posexplode + slice — map-only, zero shuffle "
    "(operators/corpus.chunk_documents)",
)
def chunked_documents(spark, sf_dir):
    from ..operators import corpus

    d = _t(spark, sf_dir, "documents")
    out = corpus.chunk_documents(d, chunk_tokens=64, overlap=16)
    return out.select(
        "doc_id", "chunk_idx", "chunk_text",
        F.col("chunk_n_tokens").cast("int").alias("chunk_n_tokens"),
    )


@query(
    "packed_training_shards",
    oracle=f"""
    WITH cl AS (SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    src AS (SELECT doc_id,
                   CAST({_SQL_NTOKENS_S} AS INT) AS n_tokens,
                   CAST(doc_id % 8 AS INT) AS bucket
            FROM cl),
    c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
          FROM src)
    SELECT doc_id, n_tokens, bucket,
           bucket || '_' || CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS shard_id
    FROM c
    """,
    doc="training-shard packing under a 2048-token budget: docs pack "
    "in id order WITHIN a deterministic bucket (id mod 8), shard = "
    "floor(cumulative-before/budget) — the bucket bound keeps the "
    "cumulative-sum window parallel instead of serializing the corpus "
    "through one global ordering (operators/corpus.pack_shards)",
)
def packed_training_shards(spark, sf_dir):
    from ..operators import corpus

    # sentinel precondition (r11, shared with the BPE entries): the
    # oracle's TRANSLATE+sandwich token count conflates on literal
    # RS/US bytes, so such docs are excluded identically on BOTH
    # engines and the precondition is part of the entry contract
    d = _t(spark, sf_dir, "documents").filter(
        ~F.col("text").contains("\x1e") & ~F.col("text").contains("\x1f")
    )
    out = corpus.pack_shards(d, budget_tokens=2048, n_buckets=8)
    return out.select(
        "doc_id", F.col("n_tokens").cast("int").alias("n_tokens"), "bucket", "shard_id"
    )


@query(
    "stratified_sample_docs",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY MD5(CAST(doc_id AS STRING)), doc_id) AS rn
      FROM documents) WHERE rn <= 5
    """,
    doc="exactly-k-per-stratum deterministic sample (k=5 per "
    "(lang, source)): rank by md5 of the id inside each stratum — "
    "reproducible across reruns/layouts/cluster sizes, unlike seeded "
    "sampleBy (operators/corpus.stratified_sample)",
)
def stratified_sample_docs(spark, sf_dir):
    from ..operators import corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return corpus.stratified_sample(d, ["lang", "source"], k=5)


@query(
    "reservoir_sample_docs",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    ORDER BY MD5(CAST(doc_id AS STRING)), doc_id
    LIMIT 64
    """,
    doc="exactly-k GLOBAL deterministic sample (k=64): order the whole "
    "corpus by md5 of the id, keep the first k — the reproducible "
    "reservoir-sample equivalent. Compiles to TakeOrderedAndProject "
    "(per-partition top-k + driver merge of k·P rows), so no global "
    "sort and no single-partition funnel (operators/corpus.k_sample)",
)
def reservoir_sample_docs(spark, sf_dir):
    from ..operators import corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return corpus.k_sample(d, k=64)


@query(
    "event_category_lookup",
    oracle="""
    WITH dim(k, category) AS (
      VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('login', 'session')
    )
    SELECT e.event_type, COALESCE(d.category, e.event_type) AS category,
           COUNT(*) AS n
    FROM events e LEFT JOIN dim d ON d.k = e.event_type
    GROUP BY 1, 2
    """,
    doc="dictionary-lookup join (the reference's team-name remap "
    "against its config mapping, utils/data_utils.py:29-31): the "
    "mapping becomes a broadcast dim, unmapped keys coalesce back to "
    "themselves — never a UDF-with-a-dict, so the lookup stays "
    "JVM-side and the big side never shuffles for the join "
    "(operators/joins.lookup_join)",
)
def event_category_lookup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type")
    dim = similarity._literal_rows_df(
        spark,
        [
            {"k": "click", "category": "engagement"},
            {"k": "view", "category": "engagement"},
            {"k": "purchase", "category": "revenue"},
            {"k": "login", "category": "session"},
        ],
        "k: string, category: string",
    )
    mapped = joins.lookup_join(
        ev, dim, key="event_type", dim_key="k", value_col="category"
    )
    return mapped.groupBy("event_type", "category").agg(F.count("*").alias("n"))


@query(
    "distinct_label_union",
    oracle="""
    SELECT lang AS label FROM documents
    UNION
    SELECT source AS label FROM documents
    """,
    doc="distinct two-column union (the reference's all-teams = "
    "home ∪ away, scrapers/team_scraper.py:938-940) over documents "
    "lang ∪ source (operators/aggregates.distinct_union)",
)
def distinct_label_union(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return aggregates.distinct_union(d, "lang", "source", "label")


@query(
    "events_completion_ratio",
    oracle="""
    SELECT (AVG(CAST(event_id IS NOT NULL AS DOUBLE))
          + AVG(CAST(ts IS NOT NULL AS DOUBLE))
          + AVG(CAST(user_id IS NOT NULL AS DOUBLE))
          + AVG(CAST(event_type IS NOT NULL AS DOUBLE))
          + AVG(CAST(value IS NOT NULL AS DOUBLE))
          + AVG(CAST(props IS NOT NULL AS DOUBLE))) / 6 AS completion
    FROM events
    """,
    doc="whole-table completion ratio — mean per-column non-null "
    "density, the reference's pipeline-level data-quality metric "
    "(pipeline.py:108) as one aggregation pass "
    "(operators/aggregates.completion_ratio)",
)
def events_completion_ratio(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return aggregates.completion_ratio(
        ev, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )


@query(
    "salted_segment_spend",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT user_id, CAST(user_id % 5 AS INTEGER) AS segment
      FROM events
    )
    SELECT d.segment, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN dim d ON d.user_id = e.user_id
    GROUP BY d.segment
    """,
    doc="SKEW-SAFE salted join under the exact-value gate: the big "
    "(events) side gets a uniform random salt, the user-segment dim "
    "explodes across all salts, and the join key becomes (user_id, "
    "salt) — one hot user spreads over n_salts reducers instead of "
    "pinning one straggler. The oracle is the PLAIN join+agg: salting "
    "only moves data placement, never results, and this entry proves "
    "it (operators/scale.salted_join)",
)
def salted_segment_spend(spark, sf_dir):
    from ..operators import scale

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 5).cast("int"))
    )
    joined = scale.salted_join(ev, dim, ["user_id"], n_salts=8)
    return joined.groupBy("segment").agg(
        F.count("*").alias("n_events"),
        (_sum_i64_checked(F.round(F.col("value") * 100).cast("long"), "salted_segment_spend[total_value]") / 100.0).alias("total_value"),
    )


@query(
    "label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, i AS pos, embedding[i + 1] AS v
      FROM embeddings, (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i)
    ),
    per AS (
      SELECT label, pos, ROUND(AVG(CAST(v AS DOUBLE)), 6) AS c
      FROM ex GROUP BY label, pos
    ),
    cnt AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT per.label, per.pos, per.c, cnt.n_vectors
    FROM per JOIN cnt USING (label)
    """,
    doc="per-label embedding CENTROIDS (class prototypes / IVF "
    "training step) via the distributed array-average: posexplode to "
    "(label, pos, v), groupBy(label, pos) avg — D× the parallelism of "
    "a per-label reduce, so a hot label never pins one reducer. "
    "Emitted LONG-FORM (label, pos, c, n_vectors) — one row per "
    "centroid component — which is both the harness-hashable shape "
    "and the shape the next pipeline stage (IVF cell assignment) "
    "actually joins on. "
    "Rounded to 6 decimals for summation-order reproducibility "
    "(operators/similarity.label_centroids_long)",
)
def label_centroids(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.label_centroids_long(e)


@query(
    "epoch_shuffle_positions",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY MD5(CAST(doc_id AS STRING)), doc_id) - 1
           AS BIGINT) AS position
    FROM documents
    """,
    doc="deterministic global EPOCH SHUFFLE — every doc's position in "
    "the md5-of-id total order, the reproducible permutation a trainer "
    "consumes. row_number over a global ORDER BY funnels the corpus "
    "through one partition; operators/corpus.global_shuffle_index "
    "computes the same rank distributed: radix-bucket on the md5 "
    "prefix (a monotone pure function of the data — no checkpoint "
    "pin), per-bucket rank windows, and a broadcast-joined 256-row "
    "cumulative-offset table",
)
def epoch_shuffle_positions(spark, sf_dir):
    from ..operators import corpus

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return corpus.global_shuffle_index(d).select("doc_id", "position")


@query(
    "gopher_quality_filter",
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, text, {_SQL_COLLAPSE_LOWER} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))
    ),
    px AS (
      SELECT doc_id, text, s,
             ' ' || REPLACE(s, ' ', '  ') || ' ' AS x
      FROM cl
    ),
    m AS (
      SELECT doc_id,
             {_SQL_NTOKENS_S} AS n_tokens,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(TRANSLATE(text, '.,!?;:', '')) AS n_punct,
             {_sql_word_count('the')} + {_sql_word_count('a')} + {_sql_word_count('and')} + {_sql_word_count('of')} + {_sql_word_count('to')} + {_sql_word_count('in')} + {_sql_word_count('is')} + {_sql_word_count('it')} + {_sql_word_count('for')} + {_sql_word_count('on')} AS n_stopwords,
             CASE WHEN LENGTH(s) > 0
                  THEN LENGTH(TRANSLATE(TRIM(text),
                         ' ' || CHR(9) || CHR(10) || CHR(11) || CHR(12)
                             || CHR(13), ''))
                       / ({_SQL_NTOKENS_S})
                  ELSE CAST(0 AS DOUBLE) END AS avg_token_len
      FROM px
    ),
    r AS (
      SELECT doc_id, n_tokens, avg_token_len,
             CASE WHEN n_tokens > 0 THEN n_stopwords / n_tokens
                  ELSE CAST(0 AS DOUBLE) END AS stop_ratio,
             CASE WHEN n_chars > 0 THEN n_punct / n_chars
                  ELSE CAST(0 AS DOUBLE) END AS punct_ratio
      FROM m
    )
    SELECT * FROM r
    WHERE n_tokens BETWEEN 20 AND 500
      AND avg_token_len BETWEEN 2 AND 8
      AND stop_ratio >= 0.02
      AND punct_ratio <= 0.2
    """,
    # DuckDB-native timing twin (the r12 perf-twin policy applied
    # retroactively to this r11 port — the honesty caveat the r11
    # review recorded): the pre-port LIST_FILTER formulation over
    # today's vtab-safe _SQL_TOKS plus the same RS/US exclusion the
    # portable text carries; ~1s faster on DuckDB at sf0.1 than the
    # portable word-count spelling.
    perf_oracle=f"""
    WITH toks_cte AS (SELECT * FROM ({_SQL_TOKS}) tc
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    m AS (
      SELECT doc_id, LEN(toks) AS n_tokens, LENGTH(text) AS n_chars,
             LENGTH(REGEXP_REPLACE(text, '[^.,!?;:]', '', 'g')) AS n_punct,
             LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(
                 ['the','a','and','of','to','in','is','it','for','on'],
                 LOWER(t)))) AS n_stopwords,
             CASE WHEN LEN(toks) > 0
                  THEN LIST_SUM(LIST_TRANSFORM(toks, t -> LENGTH(t))) / LEN(toks)
                  ELSE CAST(0 AS DOUBLE) END AS avg_token_len
      FROM toks_cte
    ),
    r AS (
      SELECT doc_id, n_tokens, avg_token_len,
             CASE WHEN n_tokens > 0 THEN n_stopwords / n_tokens
                  ELSE CAST(0 AS DOUBLE) END AS stop_ratio,
             CASE WHEN n_chars > 0 THEN n_punct / n_chars
                  ELSE CAST(0 AS DOUBLE) END AS punct_ratio
      FROM m
    )
    SELECT * FROM r
    WHERE n_tokens BETWEEN 20 AND 500
      AND avg_token_len BETWEEN 2 AND 8
      AND stop_ratio >= 0.02
      AND punct_ratio <= 0.2
    """,
    doc="Gopher-style composite QUALITY FILTER: keep docs passing all "
    "of (token count in range, mean token length in range, stopword "
    "ratio floor, punctuation ratio ceiling) — the rule-based quality "
    "gate run before training. Single map-only pass of JVM array "
    "expressions over the pre-tokenized column, metrics pinned to one "
    "evaluation by an observe() barrier (the filter runs on the "
    "computed columns instead of alias-substituted expression "
    "copies); no shuffle at all",
)
def gopher_quality_filter(spark, sf_dir):
    import uuid as _uuid

    # RS/US sentinel precondition — see packed_training_shards
    d = ensure_min_partitions(_t(spark, sf_dir, "documents")).filter(
        ~F.col("text").contains("\x1e") & ~F.col("text").contains("\x1f")
    )
    toked = d.select("doc_id", "text", text.tokens("text").alias("toks"))
    m = text.profile_columns(F.col("text"), F.col("toks"))
    # observe() = single-evaluation pin (the ingest-module pattern):
    # without it PushDownPredicates substitutes every metric ALIAS into
    # the quality filter's conjuncts when pushing it toward the scan,
    # so each row re-derives the tokenize/metric chain once per
    # conjunct IN ADDITION to the output projection. Predicates cannot
    # cross a CollectMetrics node, so the metrics evaluate once and
    # the filter runs on the computed columns (measured at sf0.1:
    # 0.52s unpinned → 0.35s pinned); the kept-document count is a
    # legitimate quality-gate audit metric.
    stats = toked.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["n_chars"].alias("n_chars"),
        m["n_punct"].alias("n_punct"),
        m["n_stopwords"].alias("n_stopwords"),
        m["avg_token_len"].alias("avg_token_len"),
    ).observe(
        f"gopher_stats_{_uuid.uuid4().hex[:12]}",
        F.count(F.lit(1)).alias("n_docs_profiled"),
    )
    r = stats.select(
        "doc_id",
        "n_tokens",
        "avg_token_len",
        F.when(
            F.col("n_tokens") > 0, F.col("n_stopwords") / F.col("n_tokens")
        ).otherwise(F.lit(0.0)).alias("stop_ratio"),
        F.when(
            F.col("n_chars") > 0, F.col("n_punct") / F.col("n_chars")
        ).otherwise(F.lit(0.0)).alias("punct_ratio"),
    )
    return r.filter(
        F.col("n_tokens").between(20, 500)
        & F.col("avg_token_len").between(2, 8)
        & (F.col("stop_ratio") >= 0.02)
        & (F.col("punct_ratio") <= 0.2)
    )


@query(
    "vocab_top_terms",
    # r12 dual-SQL port: split_part fan-out replaces
    # STRING_SPLIT_REGEX+UNNEST, rank subquery replaces QUALIFY —
    # the whole text now runs unmodified on Spark SQL.
    oracle=f"""
    WITH {_sql_tok_expand(_SQL_COLLAPSE_LOWER)},
    stats AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
              FROM tok GROUP BY term),
    r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) AS BIGINT) AS rank,
                 term, tf, df
          FROM stats)
    SELECT rank, term, tf, df FROM r WHERE rank <= 100
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    t AS (SELECT doc_id, LOWER(UNNEST(toks)) AS term FROM toks_cte),
    stats AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
              FROM t GROUP BY term)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) AS BIGINT) AS rank,
           term, tf, df
    FROM stats
    QUALIFY rank <= 100
    """,
    doc="corpus vocabulary: term + total term frequency + document "
    "frequency, ranked top-100. One explode + map-side-combined "
    "aggregation; the top-k is sort+limit (TakeOrderedAndProject), "
    "NOT a global rank window — the whole vocabulary never funnels "
    "through one partition (operators/corpus.vocabulary)",
)
def vocab_top_terms(spark, sf_dir):
    from ..operators import corpus

    d = _t(spark, sf_dir, "documents")
    return corpus.vocabulary(d, top_k=100)


@query(
    "pii_redacted_docs",
    oracle="""
    WITH m AS (
      SELECT doc_id,
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN text || ' contact: user' || doc_id || '@example.com ok'
          WHEN 1 THEN text || ' from 10.0.' || (doc_id % 256) || '.7 logged'
          WHEN 2 THEN text || ' call 555-123-4567 now'
          ELSE text END AS dirty
      FROM documents
    )
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(dirty,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g') AS redacted
    FROM m
    """,
    doc="PII scrub (pre-training privacy pass): emails / IPv4s / "
    "phones → typed placeholder tokens over deterministically dirtied "
    "docs. Patterns use explicit character classes so Java regex and "
    "the RE2 oracle match byte-for-byte "
    "(functions/text.redact_pii); single-scan regexp_replace chain",
)
def pii_redacted_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    mode = F.col("doc_id") % 4
    dirty = (
        F.when(
            mode == 0,
            F.concat(
                F.col("text"), F.lit(" contact: user"),
                F.col("doc_id").cast("string"), F.lit("@example.com ok"),
            ),
        )
        .when(
            mode == 1,
            F.concat(
                F.col("text"), F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"), F.lit(".7 logged"),
            ),
        )
        .when(mode == 2, F.concat(F.col("text"), F.lit(" call 555-123-4567 now")))
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", text.redact_pii(dirty).alias("redacted"))


@query(
    "quantized_embeddings",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding,
             ROUND({_SQL_NORM.format(a='embedding')}, 6) AS l2_norm,
             CAST(LIST_MAX(LIST_TRANSFORM(embedding,
                  x -> ABS(CAST(x AS DOUBLE)))) AS DOUBLE) AS sc
      FROM embeddings
    )
    SELECT vec_id, l2_norm, i AS pos,
           CASE WHEN sc > 0
                THEN CAST(GREATEST(-127, LEAST(127,
                     CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) / sc * 127 + 0.5)
                          AS INT))) AS INT)
                ELSE 0 END AS q8
    FROM s, (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i)
    """,
    doc="symmetric int8 embedding quantization (8× smaller vectors "
    "for ANN candidate generation; float column stays for exact "
    "re-rank): per-vector dynamic-range scale, floor(+0.5) halfway "
    "rule so every engine rounds identically "
    "(functions/vectors.quantize_int8, one Arrow pass that also emits "
    "the l2 norm). Emitted LONG-FORM (vec_id, l2_norm, pos, q8) — one "
    "row per quantized component — the harness-hashable shape; the "
    "packed array<int> is the kernel's q8 field",
)
def quantized_embeddings(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("vec_id", vectors.quantize_int8("embedding").alias("s"))
        .select(
            "vec_id",
            F.round(F.col("s.l2_norm"), 6).alias("l2_norm"),
            F.posexplode("s.q8").alias("pos", "q8"),
        )
        .select("vec_id", "l2_norm", F.col("pos").cast("long").alias("pos"), "q8")
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           ROUND(l_quantity, 6) AS value
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure,
           ROUND(l_extendedprice, 6) AS value
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount' AS measure,
           ROUND(l_discount, 6) AS value
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax' AS measure,
           ROUND(l_tax, 6) AS value
    FROM lineitem WHERE l_orderkey < 100
    """,
    doc="unpivot / melt (wide→long): the inverse of pivot_priority_status, "
    "completing the reshape surface. Spark's native unpivot is a "
    "zero-shuffle row-local expansion — each input row emits one row per "
    "measure inside the scan stage, so it costs projection, not exchange. "
    "Oracle spelled as the dialect-portable UNION ALL expansion (DuckDB's "
    "UNPIVOT ... INTO NAME/VALUE and Spark's UNPIVOT ... FOR ... IN have "
    "incompatible grammars): equivalent because the four measure columns "
    "are non-nullable in this schema, so UNPIVOT's implicit NULL-drop "
    "never fires; it also runs unmodified on Spark SQL for the dual gate",
)
def unpivot_lineitem_measures(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    wide = li.filter(F.col("l_orderkey") < 100).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    return wide.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    ).select("l_orderkey", "l_linenumber", "measure", F.round("value", 6).alias("value"))


@query(
    "cube_order_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """,
    doc="full cube aggregation (all 4 grouping sets in one shuffle) — "
    "completes the grouping-set surface next to rollup_revenue; Catalyst "
    "expands the cube before the exchange so it stays a single pass",
)
def cube_order_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        _dec_sum(F.col("o_totalprice"), "sum_price"),
        F.count("*").alias("n"),
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
    doc="explicit GROUPING SETS (the third of the grouping-set trio "
    "next to rollup_revenue and cube_order_status): only the two "
    "single-column sets, expanded before one exchange — cheaper than "
    "a cube when the cross set isn't wanted. Uses the SQL surface "
    "over the registered views (io/loader.register_views)",
)
def grouping_sets_revenue(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """
    )


@query(
    "order_value_quartiles",
    oracle="""
    WITH q AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             NTILE(4) OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT quartile, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM q GROUP BY quartile
    """,
    doc="NTILE quartile assignment per customer (per-group spend "
    "bands) summarized per band; the (price, orderkey) ordering is a "
    "total order, so tile assignment is deterministic cross-engine. "
    "One window shuffle on the customer key + one agg",
)
def order_value_quartiles(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    q = o.select("o_custkey", "o_orderkey", "o_totalprice", F.ntile(4).over(w).alias("quartile"))
    return q.groupBy("quartile").agg(
        F.count("*").alias("n"),
        _dec_sum(F.col("o_totalprice"), "sum_price"),
    )


@query(
    "percentile_order_value",
    oracle="""
    SELECT o_orderpriority,
           ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6) AS median_price,
           ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY o_totalprice), 6) AS p90_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="exact interpolated percentiles per group (Spark `percentile` ≡ "
    "DuckDB QUANTILE_CONT, both linear interpolation). At 100 TB swap to "
    "approx_percentile (t-digest sketch, mergeable partials, no full sort "
    "per group) — exposed via approx_distinct_users-style rows-only path",
)
def percentile_order_value(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
        F.count("*").alias("n"),
    )


@query(
    "tumbling_event_windows",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 1-day event-time windows per event_type via the SAME "
    "streaming/incremental.windowed_event_counts expression the "
    "Structured-Streaming path runs (watermark attaches only when "
    ".isStreaming) — puts the streaming aggregation semantics under the "
    "exact-value correctness gate instead of a rows-only check",
)
def tumbling_event_windows(spark, sf_dir):
    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events")
    out = incremental.windowed_event_counts(ev, ts_col="ts", window="1 day")
    return out.select(
        F.col("win.start").alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "session_window_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, value, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS longest_session,
           CAST(SUM(CAST(total_value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM per_session GROUP BY user_id
    """,
    doc="native F.session_window sessions rolled up per user — the "
    "streaming session operator (streaming/incremental.session_window_"
    "totals) under the exact correctness gate. Oracle mirrors Spark's "
    "boundary rule (touching [ts, ts+gap] windows coalesce: a session "
    "splits only when the gap is STRICTLY exceeded → `>` in the "
    "lag-gap cumsum, verified by test_session_window_boundary_semantics)",
)
def session_window_stats(spark, sf_dir):
    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events")
    per_session = incremental.session_window_totals(ev, gap="30 minutes")
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").cast("long").alias("longest_session"),
        (_sum_i64_checked(F.round(F.col("total_value") * 100).cast("long"), "session_window_stats[total_value]") / 100.0).alias("total_value"),
    )


@query(
    "customer_order_deltas",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           LAG(o_totalprice) OVER w AS prev_price,
           o_totalprice - LAG(o_totalprice) OVER w AS price_delta,
           CAST((CAST(o_orderdate AS DATE)
                 - CAST(LAG(o_orderdate) OVER w AS DATE)) AS BIGINT)
             AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead order-over-order deltas per customer (SURVEY §2.5 notes "
    "lag as the natural engine extension for match-over-match deltas); "
    "identical-operand IEEE subtraction → bit-exact cross-engine",
)
def customer_order_deltas(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_price = F.lag("o_totalprice").over(w)
    prev_date = F.lag("o_orderdate").over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        prev_price.alias("prev_price"),
        (F.col("o_totalprice") - prev_price).alias("price_delta"),
        F.datediff("o_orderdate", prev_date).alias("days_since_prev"),
    )


@query(
    "intersect_active_buyers",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
    doc="set intersection (SURVEY §2.6 — free from Spark, included for "
    "set-op surface completeness alongside union/except)",
)
def intersect_active_buyers(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id")
    return a.intersect(b)


@query(
    "messy_ingest_cleaning",
    oracle=r"""
    WITH b AS (
      SELECT o_orderkey, o_custkey,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yy,
             CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mm,
             CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dd,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) % 7
               AS dw
      FROM orders
    ),
    nm AS (
      SELECT o_orderkey, o_custkey,
             CASE mm WHEN 1 THEN 'Jan' WHEN 2 THEN 'Feb' WHEN 3 THEN 'Mar' WHEN 4 THEN 'Apr' WHEN 5 THEN 'May' WHEN 6 THEN 'Jun' WHEN 7 THEN 'Jul' WHEN 8 THEN 'Aug' WHEN 9 THEN 'Sep' WHEN 10 THEN 'Oct' WHEN 11 THEN 'Nov' WHEN 12 THEN 'Dec' END AS mon3,
             CASE mm WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March' WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' WHEN 7 THEN 'July' WHEN 8 THEN 'August' WHEN 9 THEN 'September' WHEN 10 THEN 'October' WHEN 11 THEN 'November' WHEN 12 THEN 'December' END AS monf,
             CASE dw WHEN 0 THEN 'Thursday' WHEN 1 THEN 'Friday' WHEN 2 THEN 'Saturday' WHEN 3 THEN 'Sunday' WHEN 4 THEN 'Monday' WHEN 5 THEN 'Tuesday' ELSE 'Wednesday' END AS dayf,
             LPAD(CAST(dd AS STRING), 2, '0') AS dd2,
             LPAD(CAST(mm AS STRING), 2, '0') AS mm2,
             CAST(yy AS STRING) AS yy4
      FROM b
    ),
    m AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 4 = 0 THEN dd2 || '/' || mm2 || '/' || yy4
             WHEN o_orderkey % 4 = 1 THEN mon3 || ' ' || dd2 || ', ' || yy4
             WHEN o_orderkey % 4 = 2
               THEN dayf || ', ' || monf || ' ' || dd2 || ', ' || yy4
             ELSE yy4 || '.' || mm2 || '.' || dd2 END AS messy_date,
        '$' || CAST(o_orderkey % 10000 AS STRING) || '.'
            || CAST(o_custkey % 90 + 10 AS STRING) || ' USD' AS messy_price,
        CAST(o_orderkey % 7 AS STRING) || '-'
            || CAST(o_custkey % 7 AS STRING) AS score,
        CASE WHEN o_orderkey % 2 = 0 THEN 'Home' ELSE 'Away' END AS venue
      FROM nm
    ),
    stripped AS (
      SELECT m.*,
             REGEXP_REPLACE(TRIM(messy_date), '^[A-Za-z]+,\s*', '') AS sd
      FROM m
    )
    SELECT o_orderkey,
           CAST(COALESCE(
             make_date(
               TRY_CAST(regexp_extract(sd,
                 '^([0-9][0-9])/([0-9][0-9])/([0-9][0-9][0-9][0-9])$', 3)
                 AS INT),
               TRY_CAST(regexp_extract(sd,
                 '^([0-9][0-9])/([0-9][0-9])/([0-9][0-9][0-9][0-9])$', 2)
                 AS INT),
               TRY_CAST(regexp_extract(sd,
                 '^([0-9][0-9])/([0-9][0-9])/([0-9][0-9][0-9][0-9])$', 1)
                 AS INT)),
             make_date(
               TRY_CAST(regexp_extract(sd,
                 '^[A-Za-z]+ ([0-9][0-9]), ([0-9][0-9][0-9][0-9])$', 2)
                 AS INT),
               CASE regexp_extract(sd, '^([A-Za-z]+) ', 1) WHEN 'Jan' THEN 1 WHEN 'Feb' THEN 2 WHEN 'Mar' THEN 3 WHEN 'Apr' THEN 4 WHEN 'May' THEN 5 WHEN 'Jun' THEN 6 WHEN 'Jul' THEN 7 WHEN 'Aug' THEN 8 WHEN 'Sep' THEN 9 WHEN 'Oct' THEN 10 WHEN 'Nov' THEN 11 WHEN 'Dec' THEN 12 WHEN 'January' THEN 1 WHEN 'February' THEN 2 WHEN 'March' THEN 3 WHEN 'April' THEN 4 WHEN 'May' THEN 5 WHEN 'June' THEN 6 WHEN 'July' THEN 7 WHEN 'August' THEN 8 WHEN 'September' THEN 9 WHEN 'October' THEN 10 WHEN 'November' THEN 11 WHEN 'December' THEN 12 ELSE TRY_CAST('' AS INT) END,
               TRY_CAST(regexp_extract(sd,
                 '^[A-Za-z]+ ([0-9][0-9]), ([0-9][0-9][0-9][0-9])$', 1)
                 AS INT)),
             make_date(
               TRY_CAST(regexp_extract(sd,
                 '^([0-9][0-9][0-9][0-9])\.([0-9][0-9])\.([0-9][0-9])$', 1)
                 AS INT),
               TRY_CAST(regexp_extract(sd,
                 '^([0-9][0-9][0-9][0-9])\.([0-9][0-9])\.([0-9][0-9])$', 2)
                 AS INT),
               TRY_CAST(regexp_extract(sd,
                 '^([0-9][0-9][0-9][0-9])\.([0-9][0-9])\.([0-9][0-9])$', 3)
                 AS INT))
           ) AS DATE) AS match_date,
           TRY_CAST(TRANSLATE(messy_price, '$USD ', '') AS DOUBLE) AS price,
           CASE WHEN LOWER(TRIM(venue)) = 'home'
                THEN TRY_CAST(SPLIT_PART(TRIM(score), '-', 1) AS DOUBLE)
                ELSE TRY_CAST(SPLIT_PART(TRIM(score), '-', 2) AS DOUBLE)
           END AS goals_for,
           CASE WHEN LOWER(TRIM(venue)) = 'home'
                THEN TRY_CAST(SPLIT_PART(TRIM(score), '-', 2) AS DOUBLE)
                ELSE TRY_CAST(SPLIT_PART(TRIM(score), '-', 1) AS DOUBLE)
           END AS goals_against,
           CAST(CASE WHEN LOWER(TRIM(venue)) = 'home' THEN 1 ELSE 0 END
                AS INT) AS is_home
    FROM stripped
    """,
    doc="the M1 ingest-repair chain end-to-end on deterministically "
    "messied inputs: multi-format date normalization incl. the "
    "weekday-prefixed form "
    "(coalesce(try_to_date...) ≡ utils/data_utils.py:36-71), currency "
    "clean_number (:74-98), score split + venue swap "
    "(team_scraper.py:656-667), is_home flag (:669-681)",
)
def messy_ingest_cleaning(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    fmt = F.col("o_orderkey") % 4
    messy_date = (
        F.when(fmt == 0, F.date_format("o_orderdate", "dd/MM/yyyy"))
        .when(fmt == 1, F.date_format("o_orderdate", "MMM dd, yyyy"))
        .when(fmt == 2, F.date_format("o_orderdate", "EEEE, MMMM dd, yyyy"))
        .otherwise(F.date_format("o_orderdate", "yyyy.MM.dd"))
    )
    messy_price = F.concat(
        F.lit("$"),
        (F.col("o_orderkey") % 10000).cast("string"),
        F.lit("."),
        (F.col("o_custkey") % 90 + 10).cast("string"),
        F.lit(" USD"),
    )
    score = F.concat_ws(
        "-", (F.col("o_orderkey") % 7).cast("string"), (F.col("o_custkey") % 7).cast("string")
    )
    venue = F.when(F.col("o_orderkey") % 2 == 0, "Home").otherwise("Away")
    gf, ga = scalars.split_score(score, venue)
    return o.select(
        "o_orderkey",
        scalars.normalize_date(messy_date).alias("match_date"),
        scalars.clean_number(messy_price).alias("price"),
        gf.alias("goals_for"),
        ga.alias("goals_against"),
        scalars.is_home_flag(venue).alias("is_home"),
    )


@query(
    "derived_match_scalars",
    oracle="""
    WITH m AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
        CASE CAST(o_orderkey % 8 AS INT)
          WHEN 0 THEN 'Win' WHEN 1 THEN 'draw' WHEN 2 THEN 'LOSS' WHEN 3 THEN '1'
          WHEN 4 THEN '0.5' WHEN 5 THEN 'tie' WHEN 6 THEN ' lost ' ELSE '??' END AS raw_result,
        printf('Team %d', o_orderkey % 50) AS team,
        printf('Team %d', o_custkey % 50) AS opp,
        CAST(o_orderkey % 2 AS INT) AS is_home,
        CASE WHEN o_orderkey % 3 = 0 THEN printf('2025-05-%02d 16:30', o_orderkey % 28 + 1)
             WHEN o_orderkey % 3 = 1 THEN 'TBD'
             ELSE '  18:45 ' END AS kick_raw,
        o_orderkey % 86400 AS ep,
        CASE WHEN o_orderkey % 5 = 0 THEN NULL
             ELSE (o_orderkey % 100) / CAST(100.0 AS DOUBLE) END AS home_wr,
        CASE WHEN o_custkey % 7 = 0 THEN NULL
             ELSE (o_custkey % 100) / CAST(100.0 AS DOUBLE) END AS away_wr
      FROM orders
    ), s AS (
      SELECT *,
        CASE WHEN LOWER(TRIM(raw_result)) IN ('w','win','won','1','1.0') THEN 'W'
             WHEN LOWER(TRIM(raw_result)) IN ('d','draw','drawn','tie','0.5') THEN 'D'
             WHEN LOWER(TRIM(raw_result)) IN ('l','loss','lost','lose','0','0.0') THEN 'L'
             ELSE 'U' END AS result_std,
        REPLACE(LOWER(team), ' ', '') AS slug_t,
        REPLACE(LOWER(opp), ' ', '') AS slug_o,
        printf('%04d%02d%02d', YEAR(o_orderdate), MONTH(o_orderdate),
               DAY(o_orderdate)) AS d8
      FROM m
    )
    SELECT o_orderkey,
      result_std,
      CASE result_std WHEN 'W' THEN 1.0 WHEN 'D' THEN 0.5 WHEN 'L' THEN 0.0 END AS points,
      CASE WHEN RIGHT(TRIM(kick_raw), 5) LIKE '%:%'
           THEN RIGHT(TRIM(kick_raw), 5) END AS kickoff,
      printf('%02d:%02d', CAST(FLOOR(ep / 3600) AS INT),
             CAST(FLOOR((ep % 3600) / 60) AS INT)) AS start_hhmm,
      (COALESCE(home_wr, 0.5) + COALESCE(away_wr, 0.5)) / 2 AS quality,
      d8 || '_' || LEAST(slug_t, slug_o) || '_' || GREATEST(slug_t, slug_o) AS sym_id,
      CASE WHEN is_home = 1 THEN d8 || '_' || slug_t || '_' || slug_o
           ELSE d8 || '_' || slug_o || '_' || slug_t END AS cond_id
    FROM s
    """,
    doc="oracle gate for the remaining §2.7 scalar surface on "
    "deterministically generated inputs: standardize_result "
    "(data_processor.py:181-193), result_to_points "
    "(data_utils.py:281-285), clean_kickoff_time "
    "(data_processor.py:86-95), epoch→HH:mm "
    "(daily_match_scraper.py:486-492), match_quality "
    "(visualize_data.py:276-279), symmetric/conditional match ids "
    "(data_processor.py:221-241). quality is identical-op double "
    "arithmetic → bit-identical cross-engine, left unrounded",
)
def derived_match_scalars(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    raw_vals = ["Win", "draw", "LOSS", "1", "0.5", "tie", " lost ", "??"]
    raw_result = F.lit(raw_vals[-1])
    for i, v in reversed(list(enumerate(raw_vals[:-1]))):
        raw_result = F.when(k % 8 == i, F.lit(v)).otherwise(raw_result)
    team = F.format_string("Team %d", k % 50)
    opp = F.format_string("Team %d", c % 50)
    is_home = (k % 2).cast("int")
    kick_raw = (
        F.when(k % 3 == 0, F.format_string("2025-05-%02d 16:30", k % 28 + 1))
        .when(k % 3 == 1, F.lit("TBD"))
        .otherwise(F.lit("  18:45 "))
    )
    home_wr = F.when(k % 5 == 0, F.lit(None).cast("double")).otherwise(
        (k % 100) / F.lit(100.0)
    )
    away_wr = F.when(c % 7 == 0, F.lit(None).cast("double")).otherwise(
        (c % 100) / F.lit(100.0)
    )
    result_std = scalars.standardize_result(raw_result)
    return o.select(
        "o_orderkey",
        result_std.alias("result_std"),
        scalars.result_to_points(result_std).alias("points"),
        scalars.clean_kickoff_time(kick_raw).alias("kickoff"),
        scalars.epoch_to_hhmm(k % 86400).alias("start_hhmm"),
        scalars.match_quality(home_wr, away_wr).alias("quality"),
        scalars.symmetric_match_id(F.col("o_orderdate"), team, opp).alias("sym_id"),
        scalars.conditional_match_id(
            F.col("o_orderdate"), team, opp, is_home
        ).alias("cond_id"),
    )


@query(
    "grouped_zscore_spend",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN STDDEV_SAMP(o_totalprice) OVER w IS NULL
                     OR STDDEV_SAMP(o_totalprice) OVER w = 0
                THEN NULL
                ELSE ROUND((o_totalprice - AVG(o_totalprice) OVER w)
                           / STDDEV_SAMP(o_totalprice) OVER w, 6) END AS zscore
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey)
    """,
    doc="the grouped-map escape hatch (SURVEY §2.8): per-customer z-score "
    "via Arrow-batched applyInArrow (r12 — one Arrow table per group; the "
    "per-group math stays pandas mean/std, bit-identical to the prior "
    "applyInPandas form whose per-group DataFrame round-trip dominated) — "
    "the engine's generalization of the "
    "reference's per-group pandas loop (utils/data_utils.py:261-295). This "
    "computation deliberately HAS a window-function twin, which is what "
    "makes the escape hatch value-checkable against the SQL oracle",
)
def grouped_zscore_spend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    z = windows.grouped_zscore(o, ["o_custkey"], "o_totalprice")
    return z.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.round("zscore", 6).alias("zscore"),
    )


@query(
    "approx_distinct_users",
    oracle=None,
    doc="approx_count_distinct (HLL++) beside the exact count — the 100 TB "
    "cardinality path (SURVEY §2.4 'at scale also expose approx'); "
    "approximate by construction → rows-only driver check BY DESIGN, "
    "guarded instead by tests/test_operators.py::"
    "test_approx_count_distinct_within_documented_error (exact twin "
    "in-row + relative-error bound) AND the oracle-gated companion "
    "entry approx_distinct_error_bound (deterministic bounded-error "
    "verdict under the driver's hash gate)",
)
def approx_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@query(
    "hll_user_reach",
    oracle=None,
    doc="mergeable HLL sketch rollup (operators/sketches.py): one "
    "DataSketches HLL per (event_type, day) built in a single partial-"
    "combined pass, then 'distinct users per type over all time' "
    "answered by hll_union_agg over the per-day sketch table alone — "
    "the re-rollup never touches raw events again, which is the 100 TB "
    "pre-aggregation pattern approx_count_distinct's internal partials "
    "can't give you (sketches here are persistable binary columns). "
    "Estimate is algorithm-specific → rows-only driver check BY "
    "DESIGN, guarded instead by tests/test_operators.py::"
    "test_hll_sketch_rollup_bounds_and_mergeability (merged estimate "
    "within 2% of exact, and re-rollup == direct sketch) AND the "
    "oracle-gated companion entry hll_reach_error_bound",
)
def hll_user_reach(spark, sf_dir):
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events")
    daily = sketches.daily_hll_sketches(ev, "user_id", "event_type", "ts")
    return sketches.merge_hll(daily, by="grp")


@query(
    "approx_order_percentiles",
    oracle=None,
    doc="single-pass approximate per-group quantiles via approx_percentile "
    "(Greenwald-Khanna summary, map-side mergeable, bounded memory) — the "
    "t-digest role beside the exact `percentile` twin "
    "(percentile_order_value): at 100 TB the exact form full-sorts every "
    "group, the sketch form never shuffles raw values. Approximate by "
    "construction → rows-only driver check BY DESIGN, guarded instead "
    "by tests/test_operators.py::test_approx_percentiles_close_to_exact "
    "(sketch quantiles within documented accuracy of the exact sort) "
    "AND the oracle-gated companion entry approx_percentile_error_bound "
    "(rank-bracket certificate under the driver's hash gate)",
)
def approx_order_percentiles(spark, sf_dir):
    from ..operators import sketches

    o = _t(spark, sf_dir, "orders")
    return sketches.approx_group_percentiles(
        o, "o_totalprice", "o_orderpriority", quantiles=(0.5, 0.9, 0.99)
    )


# ===========================================================================
# Flagship: the minimum end-to-end slice (SURVEY §7.1)
# ===========================================================================


@query(
    "flagship_order_enrichment",
    oracle="""
    WITH rolled AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS r90_total_spend,
             ROUND(AVG(o_totalprice) OVER w, 6) AS r90_avg_spend,
             COUNT(*) OVER w AS r90_n_orders
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
           r90_total_spend, r90_avg_spend, r90_n_orders,
           c_mktsegment AS segment, n_name AS nation, r_name AS region
    FROM rolled
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
    doc="flagship (SURVEY §7.1): scan → 90-day range window per customer → "
    "broadcast dimension enrichment — the reference's team-form query shape "
    "(rolling metrics + as-of enrichment join) on the testdata star schema",
)
def flagship_order_enrichment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = windows.trailing_days_window(["o_custkey"], "o_orderdate", 90)
    rolled = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        (_sum_i64_checked(F.round(F.col("o_totalprice") * 100).cast("long"), "flagship_order_enrichment[r90_total_spend]", w) / 100.0)
        .alias("r90_total_spend"),
        F.round(F.avg("o_totalprice").over(w), 6).alias("r90_avg_spend"),
        F.count("*").over(w).alias("r90_n_orders"),
    )
    # customer scales with SF: leave it unhinted so AQE broadcasts it while
    # small and switches to a shuffle join at cluster scale; only the
    # fixed-cardinality nation (25) / region (5) dims carry hints.
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        rolled.join(c, rolled.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
            "r90_total_spend",
            "r90_avg_spend",
            "r90_n_orders",
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


# ===========================================================================
# Statistical aggregates, distribution analysis, densify+fill, temporal
# ===========================================================================


@query(
    "user_state_scd2",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM ch
    """,
    doc="SCD type-2 dimension build from a change-event log "
    "(operators/windows.scd2_intervals): collapse consecutive "
    "unchanged states via lag, close each surviving change's validity "
    "interval via lead — both windows share one (user_id, ts, "
    "event_id) spec, so the whole history build is a single exchange "
    "reused by two window operators (filter preserves partitioning "
    "AND ordering → no second shuffle, no re-sort). (ts, event_id) is "
    "a total order → deterministic cross-engine",
)
def user_state_scd2(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return windows.scd2_intervals(
        ev, ["user_id"], "ts", "event_type", tiebreak=["event_id"]
    )


@query(
    "lineitem_dispersion_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) AS stddev_price,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(AVG(l_extendedprice), 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="second-moment aggregates per group: sample stddev + Pearson "
    "correlation + mean in ONE partial-combined pass (both engines use "
    "single-pass stable moment accumulators — no per-group sort, no "
    "second scan). Rounding policy: corr is O(1)-scale → 6 dp; stddev "
    "is price-scale (~1e5) where cross-engine accumulation-order noise "
    "reaches ~1e-6 absolute → 2 dp",
)
def lineitem_dispersion_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
    )


@query(
    "order_price_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY 1
    """,
    doc="fixed-width value histogram (25k-wide price bins): bin id is a "
    "scan-level expression so the whole histogram is one map-side-"
    "combined aggregation — the cardinality-bounded way to profile a "
    "column's distribution at 100 TB (vs sort-based quantiles). FLOOR "
    "of an identical IEEE division is bit-identical cross-engine",
)
def order_price_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("long").alias("bin")
        ).agg(
            F.count("*").alias("n"),
            _dec_sum(F.col("o_totalprice"), "sum_price"),
        )
    )


@query(
    "order_percentrank_deciles",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority,
             PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS pr
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(LEAST(FLOOR(pr * 10), 9) AS INT) AS decile,
           COUNT(*) AS n
    FROM r
    GROUP BY 1, 2
    """,
    doc="percent_rank-based decile occupancy per group (rank-position "
    "distribution — the cume_dist/percent_rank window family): the "
    "(price, orderkey) ordering is total so ranks are deterministic; "
    "pr = (rank-1)/(n-1) is an exact rational double both engines "
    "compute from identical operands. One window shuffle + one agg",
)
def order_percentrank_deciles(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    r = o.select(
        "o_orderpriority",
        F.least(F.floor(F.percent_rank().over(w) * 10), F.lit(9))
        .cast("int")
        .alias("decile"),
    )
    return r.groupBy("o_orderpriority", "decile").agg(F.count("*").alias("n"))


@query(
    "gap_filled_daily_totals",
    oracle="""
    WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
    dig AS (SELECT 0 AS x UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3
            UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
            UNION ALL SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9),
    nums AS (SELECT d1.x * 1000 + d2.x * 100 + d3.x * 10 + d4.x AS n
             FROM dig d1 CROSS JOIN dig d2 CROSS JOIN dig d3 CROSS JOIN dig d4),
    spine AS (SELECT CAST(b.d0 + nums.n * INTERVAL 1 DAY AS DATE) AS day
              FROM b CROSS JOIN nums
              WHERE nums.n <= CAST(b.d1 - b.d0 AS BIGINT)),
    grid AS (SELECT t.event_type, spine.day
             FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM events) t),
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM events WHERE user_id % 997 = 0
      GROUP BY 1, 2
    ),
    g AS (
      SELECT grid.event_type AS event_type, grid.day AS day,
             COALESCE(daily.n, 0) AS n, daily.total AS total,
             COUNT(daily.total) OVER (PARTITION BY grid.event_type
               ORDER BY grid.day ROWS UNBOUNDED PRECEDING) AS grp
      FROM grid LEFT JOIN daily
        ON grid.event_type = daily.event_type AND grid.day = daily.day
    )
    SELECT event_type, day, n,
           MAX(total) OVER (PARTITION BY event_type, grp) AS filled_total
    FROM g
    """,
    doc="time-series densify + forward-fill: (type × day) grid from a "
    "date spine crossed with the broadcast-sized type dimension, "
    "left-joined to sparse daily totals (rare-user slice guarantees "
    "real gaps), then last-observation-carried-forward via "
    "last(IGNORE NULLS) over an unbounded-preceding row frame — one "
    "window shuffle on the (small) grid, never on raw events; days "
    "before the first observation stay null by design. The ORACLE "
    "(r10) spells both DuckDB-only pieces in the shared subset: the "
    "date spine as a 4-digit cross join (0..9999 days ~ 27 years, "
    "filtered to the observed span; DATE + n * INTERVAL 1 DAY is "
    "engine-shared arithmetic), and LOCF as the classic "
    "frame-counted group trick — grp = COUNT(total) OVER (... ROWS "
    "UNBOUNDED PRECEDING) increments only at observations (COUNT "
    "skips NULLs in both engines), so MAX(total) OVER (PARTITION BY "
    "type, grp) IS the carried-forward value, with no IGNORE NULLS "
    "placement dialect at all. Dual-green",
)
def gap_filled_daily_totals(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    daily = (
        ev.filter(F.col("user_id") % 997 == 0)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n"),
            _dec_sum(F.col("value"), "total", scale=4),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("total", ignorenulls=True).over(w).alias("filled_total"),
    )


@query(
    "boilerplate_chunk_stats",
    # r12 dual-SQL port: non-overlapping 4-token chunks via the
    # split_part fan-out — stride 4 is the (i-1) mod-4 = 0 filter, and
    # the partial TAIL chunk (toks[start:start+3] past the end) is
    # the bounds-checked concat; FILTER gains the WHERE keyword both
    # engines accept. perf_oracle keeps the native UNNEST text.
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    chunks AS (
      SELECT doc_id,
             MD5(SPLIT_PART(s, ' ', CAST(t.i AS INT))
                  || CASE WHEN t.i + 1 <= n THEN ' ' || SPLIT_PART(s, ' ', CAST(t.i + 1 AS INT)) ELSE '' END
                  || CASE WHEN t.i + 2 <= n THEN ' ' || SPLIT_PART(s, ' ', CAST(t.i + 2 AS INT)) ELSE '' END
                  || CASE WHEN t.i + 3 <= n THEN ' ' || SPLIT_PART(s, ' ', CAST(t.i + 3 AS INT)) ELSE '' END) AS h
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE n > 0 AND t.i <= GREATEST(n, 1) AND (t.i - 1) % 4 = 0
    ),
    df AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h)
    SELECT chunks.doc_id AS doc_id,
           COUNT(*) AS n_chunks,
           COUNT(*) FILTER (WHERE df.n_docs > 1) AS n_boilerplate,
           COUNT(*) FILTER (WHERE df.n_docs > 1) / COUNT(*) AS boilerplate_ratio
    FROM chunks JOIN df ON chunks.h = df.h
    GROUP BY chunks.doc_id
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    st AS (
      SELECT doc_id, toks, LEN(toks) AS n,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks), 1), 4)) AS start
      FROM toks_cte WHERE LEN(toks) > 0
    ),
    chunks AS (
      SELECT doc_id, MD5(ARRAY_TO_STRING(toks[start : start + 3], ' ')) AS h
      FROM st
    ),
    df AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h)
    SELECT chunks.doc_id AS doc_id,
           COUNT(*) AS n_chunks,
           COUNT(*) FILTER (df.n_docs > 1) AS n_boilerplate,
           COUNT(*) FILTER (df.n_docs > 1) / COUNT(*) AS boilerplate_ratio
    FROM chunks JOIN df ON chunks.h = df.h
    GROUP BY chunks.doc_id
    """,
    doc="cross-corpus boilerplate detection (the line/paragraph-dedup "
    "pass of LLM corpus prep, on 4-token windows since the synthetic "
    "docs have no newlines): non-overlapping chunks → md5 → chunk "
    "document-frequency → per-doc share of chunks repeated in other "
    "docs. Two hash aggregations + one equi-join on the md5 key — "
    "uniform 128-bit join key, no skew, no cross product; ratio is "
    "one int/int IEEE division (exact cross-engine)",
)
def boilerplate_chunk_stats(spark, sf_dir):
    from ..operators import corpus

    d = _t(spark, sf_dir, "documents")
    chunks = corpus.chunk_documents(d, chunk_tokens=4, overlap=0).select(
        "doc_id", F.md5(F.col("chunk_text").cast("binary")).alias("h")
    )
    df_counts = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (
        chunks.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(dup).alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_boilerplate",
            (F.col("n_boilerplate") / F.col("n_chunks")).alias("boilerplate_ratio"),
        )
    )


@query(
    "orders_column_profile",
    oracle="""
    WITH base AS (SELECT COUNT(*) AS n FROM orders)
    SELECT 'o_orderkey' AS col_name, base.n AS n_rows,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS n_nulls,
           (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS n_distinct,
           (SELECT CAST(MIN(o_orderkey) AS DOUBLE) FROM orders) AS min_value,
           (SELECT CAST(MAX(o_orderkey) AS DOUBLE) FROM orders) AS max_value
    FROM base
    UNION ALL
    SELECT 'o_custkey', base.n,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL),
           (SELECT COUNT(DISTINCT o_custkey) FROM orders),
           (SELECT CAST(MIN(o_custkey) AS DOUBLE) FROM orders),
           (SELECT CAST(MAX(o_custkey) AS DOUBLE) FROM orders)
    FROM base
    UNION ALL
    SELECT 'o_totalprice', base.n,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL),
           (SELECT COUNT(DISTINCT o_totalprice) FROM orders),
           (SELECT CAST(MIN(o_totalprice) AS DOUBLE) FROM orders),
           (SELECT CAST(MAX(o_totalprice) AS DOUBLE) FROM orders)
    FROM base
    """,
    doc="one-pass long-format column profile (aggregates.profile_columns): "
    "nulls / exact distincts / min / max for 3 numeric columns in a "
    "single aggregation — the scalable describe(): 100 TB profiling "
    "cannot rescan per column (the oracle's per-column subqueries are "
    "exactly the rescan shape this replaces). Exact multi-distinct "
    "plans through Expand; approx=True collapses it to HLL partials "
    "at cluster scale. min/max as doubles — no string-format ambiguity",
)
def orders_column_profile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return aggregates.profile_columns(o, ["o_orderkey", "o_custkey", "o_totalprice"])


@query(
    "order_rule_violations",
    oracle="""
    SELECT 'positive_price' AS rule,
           CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) / COUNT(*) AS violation_ratio
    FROM orders
    UNION ALL
    SELECT 'known_status',
           CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) / COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'date_present',
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) / COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'price_under_400k',
           CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice < 400000, FALSE) THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN NOT COALESCE(o_totalprice < 400000, FALSE) THEN 1 ELSE 0 END) / COUNT(*)
    FROM orders
    """,
    doc="declarative data-quality gate (aggregates.validate_rules): 4 "
    "expectation rules — including one that genuinely fires "
    "(price_under_400k) — each counted as predicate-false-OR-null so "
    "nulls never silently pass, ALL evaluated in one scan-level "
    "aggregation (the oracle's per-rule scans are the rescan shape "
    "this replaces). The assert-before-publish pattern of the "
    "reference's validation surface (utils/data_utils.py:194-235)",
)
def order_rule_violations(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return aggregates.validate_rules(
        o,
        {
            "positive_price": F.col("o_totalprice") > 0,
            "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
            "date_present": F.col("o_orderdate").isNotNull(),
            "price_under_400k": F.col("o_totalprice") < 400000,
        },
    )


@query(
    "lsh_recall_at_k",
    oracle=f"""
    WITH b0 AS (SELECT vec_id, embedding, ({_sql_lsh_bucket(8, 64, 42)}) AS bkt FROM embeddings),
    q0 AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM b0 WHERE vec_id < 8),
    lsh_scored AS (
      SELECT q0.query_id, b0.vec_id AS neighbor_id,
             {_sql_cosine('q0.qv', 'b0.embedding')} AS cs
      FROM q0 JOIN b0 ON q0.bkt = b0.bkt AND b0.vec_id <> q0.query_id
    ),
    lsh AS (
      SELECT query_id, neighbor_id FROM lsh_scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) <= 10
    ),
    ex_scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'e.embedding')} AS cs
      FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings e
      WHERE e.vec_id <> q.vec_id
    ),
    ex AS (
      SELECT query_id, neighbor_id FROM ex_scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) <= 10
    )
    SELECT ex.query_id AS query_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           SUM(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) AS recall
    FROM ex LEFT JOIN lsh
      ON ex.query_id = lsh.query_id AND ex.neighbor_id = lsh.neighbor_id
    GROUP BY ex.query_id
    """,
    doc="recall@10 of the single-band LSH ANN against the exact brute-"
    "force top-k — the quality gauge that tells you whether n_planes "
    "is set right BEFORE trusting the approximate path at scale (on "
    "this near-uniform synthetic corpus the honest answer is 0.0 at 8 "
    "planes — exactly the signal that sends you to the OR-amplified "
    "banded variant, see lsh_banded_recall). Both result "
    "sets are k-bounded per query, so the measurement join costs "
    "O(queries×k) regardless of corpus size; on a cluster you run it "
    "over a sampled query set. Deterministic end-to-end (seeded "
    "hyperplanes on both engines, total tiebreak orders); recall is "
    "one int/int IEEE division",
)
def lsh_recall_at_k(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(e, qset, k=10).select("query_id", "neighbor_id")
    lsh = (
        similarity.lsh_topk(e, qset, k=10, n_planes=8, dim=64, seed=42)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        # both sides are |Q|*k-bounded hit lists — broadcast the probe
        # side so the recall join never sort-merges
        exact.join(F.broadcast(lsh), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


def _sql_lsh_bands(n_bands: int = 4, r: int = 4, dim: int = 64, seed: int = 42) -> str:
    """Band bucket columns b0..b{n_bands-1}, band b seeded seed+b —
    the DuckDB twin of similarity.lsh_band_buckets."""
    return ",\n         ".join(
        f"({_sql_lsh_bucket(r, dim, seed + b)}) AS b{b}" for b in range(n_bands)
    )


# Tuned banding config: swept (B, r) over the sf0.01 corpus against
# exact brute-force top-10 —
#   B=4  r=4 → 0.41   B=8 r=3 → 0.84   B=16 r=3 → 0.99
#   B=16 r=4 → 0.94 with the MOST selective buckets (~7% of corpus
#   per band vs 13% at r=3) — deployable recall at the best candidate
#   pruning, so 16×4 is the registered default.
_LSH_B, _LSH_R = 16, 4

_BANDED_OR_JOIN = " OR ".join(f"bq.b{b} = c.b{b}" for b in range(_LSH_B))

_BANDED_TOPK_CTES = f"""
    bands AS (SELECT vec_id, embedding,
         {_sql_lsh_bands(_LSH_B, _LSH_R, 64, 42)}
      FROM embeddings),
    bq AS (SELECT * FROM bands WHERE vec_id < 8),
    bcand AS (
      SELECT DISTINCT bq.vec_id AS query_id, c.vec_id AS neighbor_id,
             bq.embedding AS qv, c.embedding AS cv
      FROM bq JOIN bands c
        ON ({_BANDED_OR_JOIN})
      WHERE c.vec_id <> bq.vec_id
    ),
    bscored AS (
      SELECT query_id, neighbor_id, {_sql_cosine('qv', 'cv')} AS cosine_sim
      FROM bcand
    ),
    btopk AS (
      SELECT query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
             cosine_sim
      FROM bscored
      QUALIFY rank <= 10
    )"""


@query(
    "lsh_banded_ann_topk",
    oracle=f"""
    WITH {_BANDED_TOPK_CTES}
    SELECT query_id, neighbor_id, rank, ROUND(cosine_sim, 6) AS cosine_sim
    FROM btopk
    """,
    doc="OR-amplified banded LSH ANN (similarity.lsh_topk_banded) at "
    "the TUNED config — 16 bands × 4 planes, picked by sweeping (B, r) "
    "against exact top-10: mean recall@10 = 0.94 with each band bucket "
    "holding only ~7% of the corpus (B=4×4's 0.41 recall was the "
    "honest-but-undeployable starting point). Candidate = shares ANY "
    "band bucket with the query — per-band match p composes to "
    "1-(1-p)^B, the standard banding construction that buys recall "
    "without growing any single bucket. One Arrow matmul per side "
    "computes ALL 64 plane signs, then posexplode to (band, bucket) "
    "and ONE equi-join (the MinHash-LSH banding join shape) — never a "
    "cross product. Oracle regenerates the same per-band seeded "
    "hyperplanes inline",
)
def lsh_banded_ann_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk_banded(
        e, e.filter(F.col("vec_id") < 8), k=10,
        n_bands=_LSH_B, planes_per_band=_LSH_R, dim=64, seed=42,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
    )


@query(
    "lsh_banded_recall",
    oracle=f"""
    WITH {_BANDED_TOPK_CTES},
    ex_scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'e.embedding')} AS cs
      FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings e
      WHERE e.vec_id <> q.vec_id
    ),
    ex AS (
      SELECT query_id, neighbor_id FROM ex_scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) <= 10
    )
    SELECT ex.query_id AS query_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN btopk.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           SUM(CASE WHEN btopk.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) AS recall
    FROM ex LEFT JOIN btopk
      ON ex.query_id = btopk.query_id AND ex.neighbor_id = btopk.neighbor_id
    GROUP BY ex.query_id
    """,
    doc="recall@10 of the banded LSH path against exact brute-force "
    "top-k — the companion gauge to lsh_recall_at_k (which measures "
    "the single-band 8-plane path at an honest 0.0 on this near-"
    "uniform corpus). At the tuned 16×4 banding this dashboard reads "
    "mean recall@10 = 0.94 (sweep: 4×4 → 0.41, 8×3 → 0.84, 16×3 → "
    "0.99 at 2× the bucket size) — the gauge a user consults before "
    "trusting the approximate path at a new scale. K-bounded join per "
    "query — O(queries×k) at any corpus size",
)
def lsh_banded_recall(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(e, qset, k=10).select("query_id", "neighbor_id")
    banded = (
        similarity.lsh_topk_banded(
            e, qset, k=10, n_bands=_LSH_B, planes_per_band=_LSH_R, dim=64, seed=42
        )
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        # both sides are |Q|*k-bounded hit lists — broadcast the probe
        # side so the recall join never sort-merges
        exact.join(F.broadcast(banded), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


@query(
    "customer_order_reconciliation",
    oracle="""
    WITH c AS (SELECT c_custkey FROM customer),
    o AS (SELECT DISTINCT o_custkey FROM orders)
    SELECT CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL THEN 'both'
                WHEN c.c_custkey IS NOT NULL THEN 'customer_only'
                ELSE 'order_only' END AS presence,
           COUNT(*) AS n
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
    doc="full-outer-join reconciliation report — the ETL referential-"
    "integrity audit (rows in either side only vs both): distinct-"
    "reduce the fact side FIRST so the full outer join runs key-to-key "
    "(never fact-cardinality), then categorize null patterns. "
    "'order_only' = 0 proves FK integrity; 'customer_only' counts "
    "orderless customers. One shuffle each side on the join key",
)
def customer_order_reconciliation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    joined = c.join(o, c["c_custkey"] == o["o_custkey"], "full_outer")
    presence = (
        F.when(c["c_custkey"].isNotNull() & o["o_custkey"].isNotNull(), "both")
        .when(c["c_custkey"].isNotNull(), "customer_only")
        .otherwise("order_only")
    )
    return joined.groupBy(presence.alias("presence")).agg(F.count("*").alias("n"))


@query(
    "lang_rate_mixture",
    oracle="""
    WITH kept AS (
      SELECT lang FROM documents
      WHERE CASE lang
              WHEN 'en' THEN SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 4) < '4000'
              WHEN 'de' THEN TRUE
              WHEN 'es' THEN SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 4) < '8000'
              WHEN 'fr' THEN SUBSTR(MD5(CAST(doc_id AS STRING)), 1, 4) < 'c000'
              WHEN 'zh' THEN TRUE
              ELSE FALSE END
    )
    SELECT lang, COUNT(*) AS n_sampled FROM kept GROUP BY lang
    """,
    doc="training-mixture composition (sampling.rate_mixture): keep a "
    "deterministic per-language fraction (en 25% / es 50% / fr 75% / "
    "de,zh 100%) — rebalancing an en-dominant corpus toward a target "
    "mix. Same md5-bucket machinery as hash_sample at 4 hex chars "
    "(65536 buckets ≈ 0.0015% rate granularity): reproducible, "
    "layout-independent, scan-level — mixing 100 TB costs zero "
    "shuffles; the count here is just the verification view",
)
def lang_rate_mixture(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    mixed = sampling.rate_mixture(
        d,
        "lang",
        {"en": 0.25, "de": 1.0, "es": 0.5, "fr": 0.75, "zh": 1.0},
        F.col("doc_id"),
    )
    return mixed.groupBy("lang").agg(F.count("*").alias("n_sampled"))


@query(
    "mn_fanout_enrichment",
    oracle="""
    WITH m AS (
      SELECT o_custkey AS custkey,
             CAST(YEAR(o_orderdate) AS STRING) || '-'
               || LPAD(CAST(MONTH(o_orderdate) AS STRING), 2, '0') AS month,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM orders GROUP BY 1, 2
    ),
    f AS (
      SELECT o_orderkey AS match_id, o_custkey AS home_cust,
             (o_custkey * 7) % 1500 + 1 AS away_cust
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT f.match_id, f.home_cust, f.away_cust,
           hm.month AS home_month, hm.n_orders AS home_n_orders,
           hm.spend AS home_spend,
           am.month AS away_month, am.n_orders AS away_n_orders,
           am.spend AS away_spend
    FROM f LEFT JOIN m hm ON f.home_cust = hm.custkey
           LEFT JOIN m am ON f.away_cust = am.custkey
    """,
    doc="the reference's FAITHFUL m:n two-sided enrichment "
    "(joins.enrich_home_away, /root/reference/utils/data_utils.py:"
    "144-186): a fact row joins EVERY per-(entity, month) metric row "
    "for its home entity × every row for its away entity — the "
    "deliberate fan-out the reference produces when metrics aren't "
    "pre-deduplicated (the as-of variant is the intended 1:1 form, "
    "driver-green as purchase_asof_login/flagship). The per-(customer, "
    "month) metric sides are SF-proportional, so they join UNHINTED — "
    "AQE broadcasts them at bench SF and shuffle-joins at 100 TB; "
    "left semantics keep fixtures whose derived away "
    "entity has no orders. Closes SURVEY §2.3's last pytest-only row "
    "under the exact oracle gate",
)
def mn_fanout_enrichment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    metrics = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        F.count("*").alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), "spend"),
    )
    fact = o.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("match_id"),
        F.col("o_custkey").alias("home_cust"),
        ((F.col("o_custkey") * 7) % 1500 + 1).alias("away_cust"),
    )
    out = joins.enrich_home_away(
        fact,
        metrics,
        home_key="home_cust",
        away_key="away_cust",
        metric_key="custkey",
    )
    return out.select(
        "match_id", "home_cust", "away_cust",
        "home_month", "home_n_orders", "home_spend",
        "away_month", "away_n_orders", "away_spend",
    )


@query(
    "date_window_filters",
    oracle="""
    SELECT 'past' AS bucket, COUNT(*) AS n,
           CAST(MIN(o_orderdate) AS DATE) AS first_date,
           CAST(MAX(o_orderdate) AS DATE) AS last_date
    FROM orders WHERE o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
    UNION ALL
    SELECT 'future' AS bucket, COUNT(*) AS n,
           CAST(MIN(o_orderdate) AS DATE) AS first_date,
           CAST(MAX(o_orderdate) AS DATE) AS last_date
    FROM orders WHERE o_orderdate >= TIMESTAMP '1996-12-31 00:00:00'
    """,
    doc="the reference's future-only / past-only date-integrity "
    "filters under the exact oracle gate (SURVEY §2.2, "
    "/root/reference/processors/data_processor.py:108-110,246-248 — "
    "string '>= today' comparisons; lexicographic-on-ISO ≡ date order, "
    "so real timestamp comparison preserves semantics): both filters "
    "run against a fixed pivot and summarize each side. The predicate "
    "reaches the parquet scan (PushedFilters) — at 100 TB this is the "
    "partition-pruning path",
)
def date_window_filters(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pivot = F.lit("1996-12-31 00:00:00").cast("timestamp")

    def side(df, bucket):
        return df.agg(
            F.count("*").alias("n"),
            F.min(F.col("o_orderdate").cast("date")).alias("first_date"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
        ).select(F.lit(bucket).alias("bucket"), "n", "first_date", "last_date")

    past = side(cleaning.past_only(o, "o_orderdate", pivot), "past")
    future = side(cleaning.future_only(o, "o_orderdate", pivot), "future")
    return past.unionAll(future)


@query(
    "messy_header_normalization",
    oracle="""
    SELECT p_partkey AS part_key,
           p_name AS part_name,
           CAST(p_retailprice AS DOUBLE) AS retail_pct,
           CAST(p_size AS DOUBLE) AS part_size,
           'scrape' AS source
    FROM part
    """,
    doc="scraped-table header repair chain under the exact oracle gate "
    "(SURVEY §2.7 header flatten + canonicalization, "
    "/root/reference/scrapers/team_scraper.py:374-376,624-631): a "
    "deliberately messy wide table ('  Part Key  ', 'Retail %' with "
    "%-suffixed strings, 'SIZE') goes through flatten_header (lower "
    "snake_case, % → pct) → canonicalize_columns (substring-matched "
    "renames, driver-side over column NAMES only) → "
    "add_missing_columns (source default) → coerce_numerics "
    "(clean_number %-strip + try_cast) — every step is metadata-only "
    "or whole-stage-codegen; the oracle recovers the expected values "
    "straight from the typed source columns",
)
def messy_header_normalization(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    messy = p.select(
        F.col("p_partkey").alias("  Part Key  "),
        F.col("p_name").alias("Part Name"),
        F.concat(F.col("p_retailprice").cast("string"), F.lit("%")).alias("Retail %"),
        F.col("p_size").cast("string").alias("SIZE"),
    )
    flat = cleaning.flatten_header(messy)  # part_key, part_name, retail_pct, size
    canon = cleaning.canonicalize_columns(
        flat, {"part_size": ["size"], "retail_pct": ["retail"]}
    )
    with_default = cleaning.add_missing_columns(canon, {"source": "scrape"})
    coerced = cleaning.coerce_numerics(with_default, ["retail_pct", "part_size"])
    return coerced.select("part_key", "part_name", "retail_pct", "part_size", "source")


@query(
    "csv_round_trip_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           ROUND(CAST(o_totalprice AS DOUBLE), 2) AS total_2dp
    FROM orders
    """,
    doc="CSV sink + declared-schema scan under the exact value gate "
    "(SURVEY §2.1 rows 1-2, the reference's fixed-field DictWriter "
    "contract at daily_match_scraper.py:543-548): write the projected "
    "orders table through sinks.write_csv (fixed column order, "
    "header), re-read through io.loader.read_csv with an explicit "
    "StructType (no inference), "
    "return the round-tripped rows. Doubles are 2dp-rounded before "
    "the write so text rendering is exact in both engines; a "
    "hash-equal result proves the sink/scan pair is lossless",
)
def csv_round_trip_orders(spark, sf_dir):
    # NOTE eager side effect: the sink write runs at plan-CONSTRUCTION
    # time (the returned plan only reads it back). A deterministic
    # per-process path (reused + overwritten on rebuild, cleaned up
    # with the process tempdir) instead of a fresh mkdtemp per call,
    # so repeated correctness/bench runs don't leak disk.
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..io import loader, sinks

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.round(F.col("o_totalprice").cast("double"), 2).alias("total_2dp"),
    )
    path = f"{tempfile.gettempdir()}/fes_csvrt_{os.getpid()}/orders_csv"
    sinks.write_csv(o, path, columns=("o_orderkey", "o_orderstatus", "o_orderpriority", "total_2dp"))
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("total_2dp", T.DoubleType()),
        ]
    )
    return loader.read_csv(spark, path, schema)


@query(
    "json_round_trip_documents",
    oracle="""
    SELECT doc_id, lang, length(text) AS text_chars, text
    FROM documents
    """,
    doc="JSON sink + declared-schema scan under the exact value gate "
    "(SURVEY §2.1 rows 4-5, the reference's per-team JSON cache at "
    "team_scraper.py:89-126): project documents (unicode text with "
    "newlines/quotes — the JSON escaping torture case), write through "
    "sinks.write_json, re-read through io.loader.read_json with an "
    "explicit StructType, return "
    "the round-tripped rows; hash-equal against the source proves "
    "the JSON escape/parse cycle is lossless",
)
def json_round_trip_documents(spark, sf_dir):
    # eager-write + deterministic temp path: see csv_round_trip_orders
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..io import loader, sinks

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("text_chars"), "text"
    )
    path = f"{tempfile.gettempdir()}/fes_jsonrt_{os.getpid()}/documents_json"
    sinks.write_json(d, path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text_chars", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return loader.read_json(spark, path, schema)


@query(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: filtered customer segment "
    "joined into orders (unhinted — the surviving orders side is "
    "SF-proportional, so AQE must choose: broadcast while small, "
    "shuffle at scale), orders⋈lineitem on the shared orderkey "
    "(the one shuffle a fact-fact join needs; both date filters push "
    "to the scans), decimal-exact revenue, TakeOrderedAndProject "
    "top-10 — the canonical 3-table analytic join the engine must "
    "plan well at any scale",
)
def shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o.join(c, o.o_custkey == c.c_custkey)
                 .select("o_orderkey", "o_orderdate", "o_orderpriority"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum(rev, "revenue", 4))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "partitioned_sink_pruned_read",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(YEAR(o_orderdate) AS BIGINT) AS order_year
    FROM orders WHERE YEAR(o_orderdate) = 1997
    """,
    doc="date-partitioned parquet sink + PARTITION-PRUNED re-read "
    "(§2.1 'one file per date' family at engine scale): orders "
    "written through sinks.write_parquet(partition_by=order_year), "
    "read back with an order_year predicate that must resolve at the "
    "FILE LISTING — the scan's PartitionFilters, not a data filter — "
    "so a 100 TB history reads exactly one year's files. "
    "tests/test_plans.py asserts the pruned scan; hash-equality "
    "proves the partitioned layout is lossless",
)
def partitioned_sink_pruned_read(spark, sf_dir):
    # eager-write + deterministic temp path: see csv_round_trip_orders
    import os
    import tempfile

    from ..io import sinks

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.year("o_orderdate").cast("long").alias("order_year"),
    )
    path = f"{tempfile.gettempdir()}/fes_partrt_{os.getpid()}/orders_by_year"
    sinks.write_parquet(o, path, partition_by=("order_year",))
    back = spark.read.parquet(path)
    return back.filter(F.col("order_year") == 1997).select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.col("order_year").cast("long").alias("order_year"),
    )


@query(
    "forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue_delta,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    doc="TPC-H Q6-shaped forecast-revenue-change: the pure "
    "filter+aggregate scan — every predicate (ship-date year, "
    "discount band, quantity cap) must push to the parquet scan and "
    "the whole query runs as one map-side partial agg + one "
    "single-row final agg, zero joins; the canonical 'is the fast "
    "path actually fast' probe at any scale",
)
def forecast_revenue_change(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta", 4),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "orc_round_trip_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    """,
    doc="ORC round trip (§2.1 source/sink family, third columnar "
    "format next to parquet and CSV/JSON): project lineitem, write "
    "through sinks.write_orc, re-read with io.loader.read_orc (ORC "
    "files carry their own schema + stripe min/max stats, so the "
    "re-read scan supports pushdown like parquet), return the "
    "round-tripped rows; hash-equal against the source table proves "
    "the binary-columnar write/scan cycle is lossless incl. "
    "timestamps (UTC-pinned session; same-session ORC ts round-trip "
    "is tz-stable by construction)",
)
def orc_round_trip_lineitem(spark, sf_dir):
    # eager-write + deterministic temp path: see csv_round_trip_orders
    import os
    import tempfile

    from ..io import loader, sinks

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    path = f"{tempfile.gettempdir()}/fes_orcrt_{os.getpid()}/lineitem_orc"
    sinks.write_orc(li, path)
    return loader.read_orc(spark, path)


def _sql_kmeans_assign(vtab: str, ctab: str) -> str:
    """DuckDB mirror of similarity.kmeans_assign over the long-form
    (vec_id, pos, x) / (cid, pos, c) views: squared-L2 per (vec, cid)
    via a pos-join SUM, nearest cid with ties toward the lower cid —
    the same ordering the Arrow kernel's first-minimum argmin gives."""
    return f"""
      SELECT vec_id, cid, d2 FROM (
        SELECT v.vec_id, c.cid, SUM((v.x - c.c) * (v.x - c.c)) AS d2
        FROM {vtab} v JOIN {ctab} c ON v.pos = c.pos
        GROUP BY v.vec_id, c.cid)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, cid ASC) = 1"""


def _kmeans_cent(spark: SparkSession, sf_dir: str) -> list:
    """Final 2-iteration Lloyd's centroids, cached per (session, sf):
    training runs two assignment+update passes (Spark jobs) the FIRST
    time a kmeans-family plan is built, then every rebuild reuses the
    K*D-float control plane — same rationale as _q8_rows."""

    def build() -> list:
        e = _t(spark, sf_dir, "embeddings")
        return similarity.kmeans_fit(e, _q8_rows(spark, sf_dir, e), n_iter=2)

    return session_memo(spark, (sf_dir, "__kmeans_cent"), build)


# The 2-iteration Lloyd's trajectory as a reusable CTE chain: c2 is
# the trained centroid table (long form), shared by the kmeans entry
# and the trained-IVF capstone below.
_SQL_KMEANS_CTES = f"""v AS (
      SELECT vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS x
      FROM embeddings, (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i)
    ),
    c0 AS (SELECT vec_id AS cid, pos, x AS c FROM v WHERE vec_id < 8),
    a0 AS ({_sql_kmeans_assign('v', 'c0')}),
    c1 AS (
      SELECT cid, pos, ROUND(AVG(x), 6) AS c
      FROM a0 JOIN v USING (vec_id) GROUP BY cid, pos
    ),
    a1 AS ({_sql_kmeans_assign('v', 'c1')}),
    c2 AS (
      SELECT cid, pos, ROUND(AVG(x), 6) AS c
      FROM a1 JOIN v USING (vec_id) GROUP BY cid, pos
    )"""


@query(
    "kmeans_embedding_clusters",
    oracle=f"""
    WITH {_SQL_KMEANS_CTES},
    fin AS ({_sql_kmeans_assign('v', 'c2')})
    SELECT vec_id, cid, ROUND(d2, 6) AS d2 FROM fin
    """,
    doc="K-MEANS clustering over the embedding corpus — deterministic "
    "2-iteration Lloyd's (operators/similarity.kmeans_fit): fixed "
    "first-8 init, centroids re-averaged via the (cid, pos) wide-key "
    "shuffle (D× parallelism, label_centroids' shape) and rounded to "
    "6dp each update so the trajectory reproduces across engines; "
    "final assignment is one map-only Arrow pass emitting "
    "(vec_id, cid, d2). The trained centroids feed ivf_topk's "
    "pluggable centroid table — this is the IVF training stage a "
    "production ANN index runs, expressed as 2 scans + 2 K*D-cell "
    "shuffles per iteration with only K*D floats ever on the driver",
)
def kmeans_embedding_clusters(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_assign(e, _kmeans_cent(spark, sf_dir))


@query(
    "ivf_trained_ann_topk",
    oracle=f"""
    WITH {_SQL_KMEANS_CTES},
    cent AS (SELECT cid, LIST(c ORDER BY pos) AS cv FROM c2 GROUP BY cid),
    assigned AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, cid
      FROM embeddings e, cent
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY {_sql_l2('e.embedding', 'cv')} ASC, cid ASC) = 1
    ),
    probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS qv, cid
      FROM embeddings q, cent
      WHERE q.vec_id < 8
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                 ORDER BY {_sql_l2('q.embedding', 'cv')} ASC, cid ASC) <= 2
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             {_sql_cosine('p.qv', 'a.cvec')} AS cosine_sim
      FROM probes p JOIN assigned a ON p.cid = a.cid AND a.neighbor_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
           ROUND(cosine_sim, 6) AS cosine_sim
    FROM scored
    QUALIFY rank <= 10
    """,
    doc="the ANN CAPSTONE composition — IVF serving over TRAINED "
    "centroids: kmeans_fit's 2-iteration Lloyd's output (not the "
    "first-k placeholder) becomes ivf_topk's pluggable centroid "
    "table, exactly the train-then-index lifecycle a production "
    "vector index runs. Same fused single-Arrow-kernel scan as "
    "ivf_ann_topk; the oracle replays the full trajectory "
    "(training CTE chain + assignment + probe + re-rank), so "
    "hash-equality certifies the END-TO-END train+serve pipeline "
    "across engines",
)
def ivf_trained_ann_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cent = _kmeans_cent(spark, sf_dir)
    out = similarity.ivf_topk(e, _q8_rows(spark, sf_dir, e), cent, k=10, n_probe=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        F.round("cosine_sim", 6).alias("cosine_sim"),
    )


@query(
    "semantic_dedup_docs",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                  FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id, e.embedding, cid
      FROM embeddings e, cent
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY {_sql_l2('e.embedding', 'cv')} ASC,
                                          cid ASC) = 1
    ),
    pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.35
    ),
    dropped AS (SELECT j, MIN(i) AS canonical_id FROM pairs GROUP BY j)
    SELECT a.vec_id, a.cid, d.j IS NULL AS kept, d.canonical_id
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.j
    """,
    doc="SemDeDup semantic deduplication (Abbas et al. 2023, arXiv:"
    "2303.09540) — the embedding-space near-dup pass a web-scale "
    "training pipeline runs AFTER lexical dedup: coarse-cluster the "
    "corpus (fixed first-8 centroid table, one map-only Arrow "
    "assignment), then find cosine>=0.35 duplicate pairs ONLY within "
    "a cell via ONE normalized matmul per cell (applyInPandas — the "
    "corpus crosses Arrow once as N*D floats, never as pair rows), "
    "mark each duplicate with its lowest-id canonical twin. "
    "(vec_id, cid, kept, canonical_id); kept=false rows are what the "
    "pipeline drops. Cluster-id equi-shuffle kills the d² all-pairs "
    "blowup the same way MinHash banding does "
    "(operators/similarity.semantic_dedup)",
)
def semantic_dedup_docs(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(e, _q8_rows(spark, sf_dir, e), threshold=0.35)


# ===========================================================================
# TPC-H-shaped analytic suite — the remaining canonical decision-
# support join/subquery shapes an engine must plan well (Q3/Q6 landed
# earlier as shipping_priority / forecast_revenue_change; these add the
# EXISTS semi-join, conditional-aggregate ratio, HAVING join-back,
# disjunctive-predicate join, and scalar-subquery + anti-join shapes).
# ===========================================================================


@query(
    "order_priority_backlog",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-shaped order-priority backlog: one quarter of "
    "orders, kept only where EXISTS a lineitem that shipped >30 days "
    "after the order date, counted per priority. The EXISTS becomes "
    "a LEFT SEMI join with an equi key (orderkey) plus a non-equi "
    "residual (shipdate > orderdate+30d) — the hash-dispatchable "
    "shape, never a nested-loop; the quarter filter pushes to the "
    "orders scan so only ~1/20 of the fact table reaches the semi "
    "join's shuffle. Fact-fact semi joins shuffle on the shared key "
    "at any scale — the plan to want at 100 TB",
)
def order_priority_backlog(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    return (
        o.join(li, (li.l_orderkey == o.o_orderkey) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_orders"))
    )


@query(
    "promo_revenue_ratio",
    oracle="""
    SELECT
      CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS promo_rev,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE) AS total_rev,
      100.0 * (CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE)) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    doc="TPC-H Q14-shaped promo revenue effect: one month of "
    "lineitem broadcast-joined to part, conditional decimal-exact "
    "revenue sums (promo vs all), ratio as ONE IEEE division of two "
    "cross-engine-identical doubles (the file-header exactness "
    "policy). The month filter pushes to the lineitem scan; part is "
    "SF-proportional so it carries no hint (AQE broadcasts the "
    "2-column projection while small); a single partial-agg scalar row "
    "leaves the executors — the minimal-traffic plan at any scale",
)
def promo_revenue_ratio(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    agg = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(_dec_sum(promo, "promo_rev", 4), _dec_sum(rev, "total_rev", 4))
    )
    return agg.select(
        "promo_rev",
        "total_rev",
        # parenthesization mirrors the oracle exactly — 100*(a/b), not
        # (100*a)/b — so the double result is bit-identical cross-engine
        (F.lit(100.0) * (F.col("promo_rev") / F.col("total_rev"))).alias("promo_pct"),
    )


@query(
    "large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 120
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18-shaped large-volume customers: aggregate lineitem "
    "per order (decimal-exact quantity sum), HAVING-filter to the "
    "rare big orders, join the survivors back to orders and "
    "customer. The one unavoidable shuffle is the lineitem groupBy "
    "(map-side partial combine); the HAVING survivor set is small but "
    "still SF-proportional, so neither enrichment join carries a "
    "forced hint — AQE broadcasts the survivor side while it fits "
    "and shuffle-joins past the threshold. The classic "
    "aggregate-subquery-join-back plan done scale-right",
)
def large_volume_customers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum(F.col("l_quantity"), "total_qty", 2))
        .filter(F.col("total_qty") > 120)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    enriched = o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
    )
    return c.join(enriched, c.c_custkey == F.col("o_custkey")).select(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
    )


@query(
    "disjunctive_part_revenue",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_lines,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#9'  AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19-shaped disjunctive-predicate revenue: lineitem ⋈ "
    "part (unhinted; AQE sizes the 3-column part projection) under "
    "an OR-of-ANDs mixing both sides' columns "
    "— the predicate cannot be split per side, but Catalyst derives "
    "the implied per-side prefilters (p_brand IN (…), l_quantity "
    "BETWEEN min..max) and pushes them to the scans, so the join "
    "probes only candidate rows and the full disjunction runs as a "
    "codegen'd residual on the join output. Decimal-exact revenue + "
    "line count in one partial-agg scalar row",
)
def disjunctive_part_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#13") & s.between(1, 15) & q.between(1, 21))
        | ((b == "Brand#23") & s.between(1, 25) & q.between(10, 30))
        | ((b == "Brand#9") & s.between(1, 35) & q.between(20, 40))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(F.count(F.lit(1)).alias("n_lines"), _dec_sum(rev, "revenue", 4))
    )


@query(
    "dormant_high_value_customers",
    oracle="""
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13) AND c_acctbal > 0
    ),
    thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS avg_bal
      FROM pool
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM pool, thr
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22-shaped dormant high-value customers: a scalar "
    "subquery (average positive balance over 7 nations — computed as "
    "decimal-exact sum / exact count so ONE division yields a "
    "bit-identical threshold on both engines, never an "
    "order-dependent AVG) filters customers above it, an anti-join "
    "against RECENT orders (the recency filter pushes to the orders "
    "scan) keeps only customers dormant since mid-2000, grouped per "
    "nation. The scalar crosses as a 1-row broadcast (the "
    "doc-count pattern); the anti-join shuffles on custkey with the "
    "orders side pre-projected to the single join column — the "
    "minimal fact-side traffic for a NOT EXISTS at 100 TB",
)
def dormant_high_value_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    pool = c.filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13) & (F.col("c_acctbal") > 0)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    thr = pool.agg(
        (
            (_sum_i64_checked(F.round(F.col("c_acctbal") * 100).cast("long"), "dormant_high_value_customers[avg_bal]") / F.lit(100.0))
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    o_keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        pool.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, pool.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum(F.col("c_acctbal"), "totacctbal", 2),
        )
    )


def _incremental_minhash_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable: bool = False,
) -> str:
    matches = _minhash_matches_expr(num_hashes)
    return f"""
    WITH {_minhash_prefix_cte(num_hashes, bands, portable)},
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    pairs AS (
      SELECT new_id, corpus_id,
             ({matches}) / CAST({num_hashes} AS DOUBLE) AS est_jaccard
      FROM cand
      JOIN mh ma ON ma.doc_id = cand.new_id
      JOIN mh mb ON mb.doc_id = cand.corpus_id
      WHERE ({matches}) / CAST({num_hashes} AS DOUBLE) >= {threshold}
    ),
    best AS (
      SELECT new_id, corpus_id AS best_match_id, est_jaccard AS best_jaccard,
             ROW_NUMBER() OVER (PARTITION BY new_id
                                ORDER BY est_jaccard DESC, corpus_id ASC) AS rn
      FROM pairs
    )
    SELECT d.doc_id AS new_id,
           b.best_match_id IS NOT NULL AS is_dup,
           b.best_match_id, b.best_jaccard
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id
    WHERE d.doc_id % 10 = 0
    """


@query(
    "incremental_corpus_dedup",
    # r12 dual-SQL port: rides the portable minhash prefix; the
    # asymmetric band probe / best-match ranking below was already
    # shared. perf_oracle keeps the native prefix.
    oracle=_incremental_minhash_oracle(16, 4, 0.5, portable=True),
    perf_oracle=_incremental_minhash_oracle(16, 4, 0.5),
    doc="incremental (day-2) corpus dedup: the incoming batch "
    "(doc_id % 10 = 0 — the synthetic daily increment) screened "
    "against the existing corpus (the rest) with an ASYMMETRIC "
    "banded MinHash join — incoming bands probe corpus band buckets, "
    "so candidate volume is proportional to the increment and no "
    "corpus self-pairs are ever generated; re-running all-pairs over "
    "corpus ∪ increment at 100 TB would redo settled corpus×corpus "
    "work every day. One verdict row per incoming doc: is_dup + best "
    "match (highest estimated Jaccard ≥ 0.5, ties to lowest corpus "
    "id), novel docs keep NULL match columns "
    "(operators/dedup.incremental_minhash_dedup)",
)
def incremental_corpus_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.incremental_minhash_dedup(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        num_hashes=16,
        bands=4,
        shingle_n=3,
        threshold=0.5,
    )


@query(
    "event_key_skew_profile",
    oracle="""
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM counts
    )
    SELECT event_type, n,
           (100.0 * n) / total AS share_pct,
           n > 1.5 * (CAST(total AS DOUBLE) / n_keys) AS is_hot
    FROM counts, tot
    ORDER BY n DESC, event_type ASC
    LIMIT 10
    """,
    doc="join-key skew diagnostic over the event_type key that feeds "
    "the dictionary lookup join (event_category_lookup): per-key "
    "counts, share of the relation, and a hot flag for keys above "
    "1.5x the mean per-key load — the measurement that decides "
    "between AQE's skew split and an explicit salt "
    "(operators/scale.salted_join) BEFORE a 100 TB shuffle is "
    "launched. One count shuffle + a 1-row totals broadcast + "
    "TakeOrderedAndProject; every derived number is a single IEEE "
    "division of exact longs (operators/scale.key_skew_profile)",
)
def event_key_skew_profile(spark, sf_dir):
    from ..operators.scale import key_skew_profile

    e = _t(spark, sf_dir, "events")
    return key_skew_profile(e, "event_type", top_n=10, hot_factor=1.5)


@query(
    "winsorized_priority_spend",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    bounded AS (
      SELECT o_orderpriority, o_totalprice,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
                      THEN o_totalprice END)
               OVER (PARTITION BY o_orderpriority) AS p_lo,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                      THEN o_totalprice END)
               OVER (PARTITION BY o_orderpriority) AS p_hi
      FROM ranked
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(p_lo) AS p_lo,
           MIN(p_hi) AS p_hi,
           (CAST(SUM(CAST(ROUND(GREATEST(p_lo, LEAST(p_hi, o_totalprice)) * 100, 0)
                          AS BIGINT)) AS DOUBLE) / 100.0) / COUNT(*)
             AS winsorized_mean
    FROM bounded
    GROUP BY o_orderpriority
    """,
    doc="outlier-robust winsorized mean of order value per priority: "
    "values clamped to the group's rank-based [P5, P95] order "
    "statistics (actual data values at row ceil(q*n) of the "
    "ascending sort — NOT interpolated quantiles, which differ in "
    "the last bit across engines) before a decimal-exact average. "
    "ONE exchange on the group key serves both window passes AND the "
    "final aggregate (its distribution is already satisfied — "
    "plan-asserted), no join-back "
    "(operators/windows.winsorized_stats)",
)
def winsorized_priority_spend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return windows.winsorized_stats(o, "o_orderpriority", "o_totalprice")


@query(
    "customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    doc="TPC-H Q13-shaped customer order-count distribution: LEFT "
    "join customer→orders with the priority filter INSIDE the join "
    "(zero-order customers must survive with count 0 — a WHERE would "
    "silently drop them, the classic outer-join-filter bug), "
    "COUNT(o_orderkey) ignores the null-extended rows, then a second "
    "aggregation folds per-customer counts into the distribution "
    "histogram. Two partial-combined aggregations; the orders side "
    "is pre-filtered before the join so only surviving rows shuffle",
)
def customer_order_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "top_revenue_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    doc="TPC-H Q15-shaped top supplier by quarterly revenue — the "
    "argmax-via-scalar-subquery shape: aggregate revenue per "
    "supplier (decimal-exact, so the equality against MAX is "
    "deterministic cross-engine — argmax on float-accumulated sums "
    "is the classic nondeterminism trap), broadcast the 1-row MAX "
    "back over the aggregate, keep the row(s) that attain it, "
    "enrich from the supplier dim. One fact shuffle (suppkey "
    "groupBy); everything after operates on supplier-cardinality "
    "data",
)
def top_revenue_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_rev", 4)
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    top = (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .select("l_suppkey", "total_rev")
    )
    # top is unhinted: the argmax filter leaves ~1 row in practice but
    # its only PROVABLE bound is supplier cardinality (all-tie case),
    # and top sits downstream of the suppkey exchange, so AQE sees its
    # exact size and broadcasts it unforced at any SF (r10 hint-gate
    # structural tightening).
    return s.join(top, s.s_suppkey == F.col("l_suppkey")).select(
        "s_suppkey", "s_name", "total_rev"
    )


@query(
    "nation_profit_trend",
    oracle="""
    SELECT n_name,
           CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - l_quantity * p_retailprice * 0.1
                         AS DECIMAL(18,4))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, YEAR(o_orderdate)
    """,
    doc="TPC-H Q9-shaped profit star-join: lineitem at the center of "
    "a 5-table join — part (name-filtered, broadcast), supplier + "
    "nation (broadcast dim chain), orders (the one FACT-fact join, "
    "shuffled on the shared orderkey) — profit = revenue minus a "
    "retail-price cost surrogate (the reference schema has no "
    "partsupp), decimal-exact, grouped by nation and order year. "
    "The shape that exposes join-ORDER planning: the small sides must "
    "join into the fact scan before the fact-fact shuffle, never "
    "after. part/supplier are SF-proportional so they carry no hints "
    "— AQE broadcasts their pruned projections while small; only the "
    "fixed 25-row nation is force-broadcast",
)
def nation_profit_trend(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "l_quantity"
    ) * F.col("p_retailprice") * 0.1
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(_dec_sum(profit, "profit", 4))
    )


@query(
    "sole_blame_late_suppliers",
    oracle="""
    SELECT s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
    doc="TPC-H Q21-shaped sole-blame late suppliers: for multi-"
    "supplier orders, find the supplier whose line shipped >60 days "
    "after the order date while EVERY other supplier's lines were on "
    "time, counted per supplier. The ORACLE keeps Q21's literal "
    "double-correlated EXISTS + NOT-EXISTS (three scans of lineitem "
    "correlated through orders); the Spark plan REWRITES it into ONE "
    "grouped pass over the orderkey-co-partitioned join — per order: "
    "distinct suppliers, distinct LATE suppliers, and (when exactly "
    "one) that supplier — then filters n_supp>=2 AND n_late=1. "
    "Hash-equality between the two formulations certifies the "
    "rewrite; at 100 TB the rewrite replaces two extra correlated "
    "fact scans+joins with aggregate state per order",
)
def sole_blame_late_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # Two cascaded aggs instead of groupBy(order).agg(countDistinct x2):
    # dual countDistinct plans an Expand that TRIPLES the fact rows
    # before the shuffle (measured 2.3s vs 0.9s at sf0.1). The manual
    # repartition on l_orderkey satisfies BOTH aggs' distribution
    # (orderkey ⊆ (orderkey, suppkey)), so the whole chain runs on one
    # exchange of un-expanded rows.
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("was_late"))
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("was_late").alias("n_late"),
            F.max(F.when(F.col("was_late") == 1, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        per_order.groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("late_supp") == s.s_suppkey)
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
        .select("s_name", "numwait")
    )


_BM25_QUERIES = (
    (0, ("spark", "window", "stream")),
    (1, ("join", "merge", "sort")),
    (2, ("filter", "customer", "data")),
)
_BM25_TERMS = sorted({t for _, ts in _BM25_QUERIES for t in ts})

# The BM25 scoring CTE chain, shared verbatim by bm25_topk_docs and
# hybrid_rrf_topk's sparse leg (r11 VERDICT ask #3) — ends at ``agg``
# (query_id, doc_id, s: the 1e-9-scaled BIGINT score).
# DuckDB-NATIVE twin of _SQL_BM25_AGG below (UNNEST expansion instead
# of the split_part fan-out) — feeds the perf_oracle of bm25_topk_docs
# and hybrid_rrf_topk; result-equality with the portable fragment is
# gated in tests/test_round12_wave.py.
_SQL_BM25_AGG_DUCK = f"""toks_cte AS ({_SQL_TOKS}),
    dld AS (SELECT doc_id, LEN(toks) AS dl, toks FROM toks_cte),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dld),
    probe AS (SELECT doc_id, dl, UNNEST(toks) AS term FROM dld),
    tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM probe
           WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
           GROUP BY doc_id, dl, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    qmap(query_id, term) AS (VALUES
      {", ".join(f"({q}, '{t}')" for q, ts in _BM25_QUERIES for t in ts)}),
    scored AS (
      SELECT q.query_id, t.doc_id,
             CAST(ROUND(((n_docs - df + 0.5) / (df + 0.5))
                  * ((tf * 2.2)
                     / (tf + 1.2 * ((1 - 0.75)
                        + 0.75 * (dl / (CAST(total_dl AS DOUBLE) / n_docs)))))
                  * 1000000000.0, 0) AS BIGINT) AS s
      FROM tf t JOIN dfreq USING (term) JOIN qmap q USING (term), stats
    ),
    agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS s
            FROM scored GROUP BY query_id, doc_id)"""

_SQL_BM25_AGG = f"""cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    dld AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS dl FROM cl),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dld),
    probe AS (SELECT doc_id, dl, SPLIT_PART(s, ' ', CAST(t.i AS INT)) AS term
              FROM dld CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
              WHERE t.i <= dl),
    tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM probe
           WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
           GROUP BY doc_id, dl, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    qmap AS (SELECT * FROM (VALUES
      {", ".join(f"({q}, '{t}')" for q, ts in _BM25_QUERIES for t in ts)})
      v(query_id, term)),
    scored AS (
      SELECT q.query_id, t.doc_id,
             CAST(ROUND(((n_docs - df + 0.5) / (df + 0.5))
                  * ((tf * 2.2)
                     / (tf + 1.2 * ((1 - 0.75)
                        + 0.75 * (dl / (CAST(total_dl AS DOUBLE) / n_docs)))))
                  * 1000000000.0, 0) AS BIGINT) AS s
      FROM tf t JOIN dfreq USING (term) JOIN qmap q USING (term), stats
    ),
    agg AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS s
            FROM scored GROUP BY query_id, doc_id)"""


@query(
    "bm25_topk_docs",
    # r12 dual-SQL port: the shared _SQL_BM25_AGG fragment moved to
    # the split_part fan-out, and the final QUALIFY became a rank
    # subquery — the oracle now runs unmodified on Spark SQL.
    oracle=f"""
    WITH {_SQL_BM25_AGG},
    r AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rank,
             CAST(s AS DOUBLE) / 1000000000.0 AS score
      FROM agg
    )
    SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
    """,
    perf_oracle=f"""
    WITH {_SQL_BM25_AGG_DUCK}
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rank,
           CAST(s AS DOUBLE) / 1000000000.0 AS score
    FROM agg
    QUALIFY rank <= 5
    """,
    doc="BM25 lexical retrieval top-5 per query — the sparse "
    "counterpart of retrieval_topk_docs' dense path: tokenize once, "
    "probe ONLY the 9 query-vocabulary terms at the exploded-token "
    "stream (the inverted-index probe — at 100 TB the groupBy "
    "aggregates query-term postings, never the whole vocabulary), "
    "per-term BM25 with k1=1.2, b=0.75 and a RATIONAL idf "
    "((N-df+0.5)/(df+0.5), log-free) so every factor is an IEEE op "
    "on identical operands — bit-identical cross-engine with no "
    "libm-log 1-ulp pact; per-term scores are 1e-9-scaled to longs "
    "before the per-doc SUM, making the float accumulation "
    "order-independent. Production swaps ln-idf in, accepting "
    "last-bit noise. Doc-frequency comes from a count window over "
    "the term-partitioned postings (a separate groupBy relation "
    "would re-run the whole tokenize subtree as the join build "
    "side); corpus stats (N, total tokens) are the one extra "
    "reduced scan — maintained incrementally in production. Query "
    "table broadcasts; rank ties break on doc_id",
)
def bm25_topk_docs(spark, sf_dir):
    agg = _bm25_agg(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "doc_id",
            "rank",
            (F.col("s").cast("double") / F.lit(1000000000.0)).alias("score"),
        )
    )


def _bm25_agg(spark, sf_dir) -> DataFrame:
    """The BM25 per-(query, doc) scored relation shared by
    bm25_topk_docs and hybrid_rrf_topk — (query_id, doc_id, s) with s
    the 1e-9-scaled BIGINT score (order-independent accumulation)."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", text.tokens("text").alias("toks")
    ).select("doc_id", F.size("toks").alias("dl"), "toks")
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    probe = base.select("doc_id", "dl", F.explode("toks").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = probe.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df via a count-over-term window on the postings themselves — a
    # separate groupBy('term') relation would make Catalyst RE-RUN the
    # whole tokenize+explode+tf subtree for the join's build side (no
    # cross-DAG subtree sharing without materialization): one extra
    # term-partitioned exchange here replaces a full corpus re-scan.
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    qmap = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(q).cast("long").alias("query_id"),
                            F.lit(t).alias("term"),
                        )
                        for q, ts in _BM25_QUERIES
                        for t in ts
                    ]
                )
            ).alias("s")
        )
        .select("s.query_id", "s.term")
    )
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    norm = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2) * ((F.lit(1.0) - F.lit(0.75)) + F.lit(0.75) * (F.col("dl") / avgdl))
    )
    s = F.round(idf * norm * F.lit(1000000000.0)).cast("long")
    return (
        tf.join(F.broadcast(qmap), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(s).alias("s"))
    )


# Reciprocal-rank fusion constants (hybrid_rrf_topk): k=60 (the
# Cormack/Clarke/Buettcher RRF constant), per-retriever depth 10.
# 1/(60+r) terms are made INTEGER-exact by scaling with the common
# denominator D = lcm(61..70): every contribution D/(60+r) is a whole
# number, the fused score is a BIGINT sum (order-independent, no
# float-tie cross-engine hazard), and D < 2^53 keeps the display
# double s/D exact-identical on both engines.
_RRF_K = 60
_RRF_DEPTH = 10
_RRF_D = 142813628717760  # == math.lcm(61..70), asserted in tests
_RRF_CONTRIB = {r: _RRF_D // (_RRF_K + r) for r in range(1, _RRF_DEPTH + 1)}


def _rrf_case_sql(rank_col: str) -> str:
    arms = " ".join(
        f"WHEN {r} THEN {c}" for r, c in _RRF_CONTRIB.items()
    )
    return f"COALESCE(CASE {rank_col} {arms} END, 0)"


def _rrf_case_col(rank_col: str):
    expr = F.lit(None).cast("long")
    for r, c in _RRF_CONTRIB.items():
        expr = F.when(F.col(rank_col) == r, F.lit(c)).otherwise(expr)
    return F.coalesce(expr, F.lit(0).cast("long"))


def _hybrid_rrf_oracle(bm25_fragment: str) -> str:
    """One RRF oracle template, two BM25 subtrees: the portable
    split-part fragment (correctness/dual text) and the DuckDB-native
    UNNEST fragment (perf_oracle timing twin)."""
    return f"""
    WITH {bm25_fragment},
    sparse AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, doc_id ASC) AS BIGINT) AS srank
      FROM agg QUALIFY srank <= {_RRF_DEPTH}
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id IN ({", ".join(str(q) for q, _ in _BM25_QUERIES)})),
    dscored AS (
      SELECT q.query_id, e.vec_id AS doc_id,
             {_sql_cosine('q.qv', 'e.embedding')} AS cs
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ),
    dense AS (
      SELECT query_id, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, doc_id ASC) AS BIGINT) AS drank
      FROM dscored QUALIFY drank <= {_RRF_DEPTH}
    ),
    fused AS (
      SELECT query_id, doc_id,
             {_rrf_case_sql('srank')} + {_rrf_case_sql('drank')} AS sc
      FROM sparse FULL JOIN dense USING (query_id, doc_id)
    )
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sc DESC, doc_id ASC) AS BIGINT) AS rrf_rank,
           CAST(sc AS BIGINT) AS rrf_score_scaled,
           CAST(sc AS DOUBLE) / {_RRF_D}.0 AS rrf_score
    FROM fused
    QUALIFY rrf_rank <= {_RRF_DEPTH}
    """


@query(
    "hybrid_rrf_topk",
    oracle=_hybrid_rrf_oracle(_SQL_BM25_AGG),
    perf_oracle=_hybrid_rrf_oracle(_SQL_BM25_AGG_DUCK),
    doc="hybrid retrieval fusion (r11 VERDICT ask #3) — reciprocal-"
    "rank fusion (k=60) of the engine's two retrievers over the SAME "
    "query set: BM25 lexical top-10 (the shared _bm25_agg subtree, "
    "scored per _BM25_QUERIES' terms) and exact-cosine dense top-10 "
    "(the query embedding borrowed from vec_id==query_id under the "
    "testdata's 1:1 vec_id↔doc_id contract; production synthesizes "
    "it from the query text). Each rank r contributes 1/(60+r) — "
    "held EXACT as the integer D/(60+r) with D = lcm(61..70), so the "
    "fused score is a BIGINT and cross-engine ties break identically "
    "(no float-sum hazard); ties then break on doc_id. The fusion "
    "itself is a full-outer join of two |Q|x10-row TakeOrdered "
    "outputs — control-plane sized at ANY corpus scale; the corpus "
    "is scanned exactly once per retriever (documents by the BM25 "
    "tokenize, embeddings by the cosine leg)",
)
def hybrid_rrf_topk(spark, sf_dir):
    qids = [q for q, _ in _BM25_QUERIES]
    wq = Window.partitionBy("query_id")
    sparse = (
        _bm25_agg(spark, sf_dir)
        .withColumn(
            "srank",
            F.row_number()
            .over(wq.orderBy(F.desc("s"), F.asc("doc_id")))
            .cast("long"),
        )
        .filter(F.col("srank") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "srank")
    )
    e = _t(spark, sf_dir, "embeddings")
    dense = (
        similarity.cosine_topk(
            e, e.filter(F.col("vec_id").isin(qids)), k=_RRF_DEPTH
        )
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("long").alias("drank"),
        )
    )
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (_rrf_case_col("srank") + _rrf_case_col("drank")).alias("sc"),
    )
    return (
        fused.withColumn(
            "rrf_rank",
            F.row_number()
            .over(wq.orderBy(F.desc("sc"), F.asc("doc_id")))
            .cast("long"),
        )
        .filter(F.col("rrf_rank") <= _RRF_DEPTH)
        .select(
            "query_id",
            "doc_id",
            "rrf_rank",
            F.col("sc").alias("rrf_score_scaled"),
            (F.col("sc").cast("double") / F.lit(float(_RRF_D))).alias(
                "rrf_score"
            ),
        )
    )


@query(
    "variant_event_facts",
    oracle=r"""
    WITH payloads AS (
      SELECT printf('{"meta":{"uid":%d,"kind":"%s"},"ids":[%d,%d],"odd":%s}',
                    user_id, event_type, event_id, user_id,
                    CASE WHEN event_id % 2 = 1 THEN 'true' ELSE 'false' END)
               AS payload
      FROM events
    ),
    extracted AS (
      SELECT regexp_extract(payload, '"kind":"([^"]+)"', 1) AS kind,
             TRY_CAST(regexp_extract(payload, '"uid":([0-9]+)', 1)
                      AS BIGINT) AS uid,
             TRY_CAST(regexp_extract(payload, '"ids":\[([0-9]+)', 1)
                      AS BIGINT) AS first_id,
             regexp_extract(payload, '"odd":(true|false)', 1) = 'true' AS odd
      FROM payloads
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(uid) AS BIGINT) AS sum_uid,
           CAST(SUM(CASE WHEN odd THEN 1 ELSE 0 END) AS BIGINT) AS n_odd,
           CAST(SUM(first_id) AS BIGINT) AS sum_first_id
    FROM extracted GROUP BY kind
    """,
    doc="semi-structured ingestion through Spark 4's VARIANT type — "
    "the LATE-BINDING twin of nested_event_flatten's declared-schema "
    "from_json: a nested JSON payload (object, array, boolean) built "
    "JVM-side per event, parsed ONCE into a variant with parse_json, "
    "then typed-path access via try_variant_get ($.meta.uid as long, "
    "$.ids[0] by array index, $.odd as boolean) and a grouped "
    "aggregate over the extracted facts. Variant keeps the parsed "
    "binary form through the plan — re-extracting N paths does not "
    "re-parse N times, the exact trap the from_json entry needed an "
    "observe() boundary for. Spark parses the string with its real "
    "variant JSON machinery; the oracle regex-scrapes the SAME string, "
    "relying on the deterministic printf field layout above (a "
    "double-quote or negative id in a generated field would break the "
    "scrape — the generator emits neither). The regex port exists "
    "because this oracle also serves the unmodified dual-SQL surface",
)
def variant_event_facts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    payload = F.format_string(
        '{"meta":{"uid":%d,"kind":"%s"},"ids":[%d,%d],"odd":%s}',
        F.col("user_id"),
        F.col("event_type"),
        F.col("event_id"),
        F.col("user_id"),
        F.when(F.col("event_id") % 2 == 1, F.lit("true")).otherwise(F.lit("false")),
    )
    v = F.parse_json(payload)
    ext = ev.select(
        F.try_variant_get(v, "$.meta.kind", "string").alias("kind"),
        F.try_variant_get(v, "$.meta.uid", "long").alias("uid"),
        F.try_variant_get(v, "$.ids[0]", "long").alias("first_id"),
        F.try_variant_get(v, "$.odd", "boolean").alias("odd"),
    )
    return ext.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        # id sums grow as (id domain)x(group rows) — unlike indicator
        # counts these have no intrinsic int64 headroom, so they ride
        # the checked-sum contract (r12 overflow-class sweep)
        _sum_i64_checked(F.col("uid"), "variant_event_facts[sum_uid]").alias(
            "sum_uid"
        ),
        F.sum(F.when(F.col("odd"), 1).otherwise(0)).alias("n_odd"),
        _sum_i64_checked(
            F.col("first_id"), "variant_event_facts[sum_first_id]"
        ).alias("sum_first_id"),
    )


@query(
    "except_dormant_segment",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    """,
    doc="EXCEPT set difference (§2.6 completes the set-op trio with "
    "union and intersect): BUILDING-segment customers minus everyone "
    "who ordered since mid-2000 — the recency filter pushes to the "
    "orders scan and the subtrahend side carries only the join "
    "column. Catalyst plans EXCEPT as a left-anti join over "
    "distinct rows — the same shape the engine already proves "
    "scale-right for NOT EXISTS",
)
def except_dormant_segment(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return building.subtract(recent)  # EXCEPT (distinct) semantics


@query(
    "returned_item_losses",
    oracle="""
    SELECT c_custkey, c_name, n_name, c_acctbal,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10-shaped returned-item losses: revenue lost to "
    "returns per customer in a quarter, top-20. Both scan filters "
    "(quarter, returnflag='R') push to parquet; the quarter-filtered "
    "orders slice and the customer-bounded per-custkey aggregate are "
    "both SF-proportional, so neither carries a forced hint — AQE "
    "broadcasts them while small and shuffle-joins at cluster scale; "
    "only the 25-row nation dim keeps its hint — finishing in "
    "TakeOrderedAndProject",
)
def returned_item_losses(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(_dec_sum(rev, "revenue", 4))
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(per_cust, c.c_custkey == F.col("o_custkey"))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
    )


@query(
    "major_revenue_parts",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS part_rev
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
      SELECT CAST(SUM(CAST(ROUND(part_rev * 10000, 0) AS BIGINT)) AS BIGINT)
               AS total_scaled
      FROM per_part
    )
    SELECT l_partkey, part_rev,
           part_rev / (total_scaled / 10000.0) AS rev_share
    FROM per_part, tot
    WHERE part_rev > 0.0005 * (total_scaled / 10000.0)
    """,
    doc="TPC-H Q11-shaped share-of-global-total filter: per-part "
    "revenue kept only when it exceeds a fraction of TOTAL revenue — "
    "the HAVING-against-a-scalar-subquery shape. The total re-"
    "aggregates the per-part sums as 1e-4-scaled longs (part_rev "
    "values are exact 4dp multiples, so the long re-sum is exact and "
    "ORDER-INDEPENDENT — a double re-sum would be the classic "
    "nondeterminism trap), crosses back as a 1-row broadcast, and "
    "the share/threshold are single IEEE ops on identical operands. "
    "One fact shuffle; everything after is part-cardinality",
)
def major_revenue_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(_dec_sum(rev, "part_rev", 4))
    tot = per_part.agg(
        _sum_i64_checked(F.round(F.col("part_rev") * 10000).cast("long"), "major_revenue_parts[total_scaled]").alias("total_scaled")
    )
    total = F.col("total_scaled") / F.lit(10000.0)
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.col("part_rev") > F.lit(0.0005) * total)
        .select(
            "l_partkey",
            "part_rev",
            (F.col("part_rev") / total).alias("rev_share"),
        )
    )


@query(
    "small_quantity_part_revenue",
    oracle="""
    WITH avg_qty AS (
      SELECT l_partkey,
             SUM(l_quantity) / COUNT(*) AS part_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_lines,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        AS avg_yearly
    FROM lineitem
    JOIN part    ON p_partkey = l_partkey
    JOIN avg_qty ON avg_qty.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < 0.2 * part_avg_qty
    """,
    doc="TPC-H Q17-shaped small-quantity revenue: lines whose "
    "quantity is below 20% of their part's average quantity — the "
    "correlated per-group scalar subquery, decorrelated into an "
    "aggregate join-back (the rewrite every optimizer must make; "
    "Spark's DataFrame form IS the rewrite). The per-part average is "
    "exact cross-engine because quantities are integral doubles "
    "(exact sum in any order) divided once by an exact count; the "
    "brand filter pushes to the part scan and the per-part averages "
    "join back via the partkey equi-join. At 100 TB both the avg "
    "build and the probe are partkey-local — one co-keyed shuffle "
    "pair, no correlated re-scan per row",
)
def small_quantity_part_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("part_avg_qty")
    ).withColumnRenamed("l_partkey", "ap_partkey")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("part_avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                (_sum_i64_checked(F.round(F.col("l_extendedprice") * 100).cast("long"), "small_quantity_part_revenue[avg_yearly]") / F.lit(100.0))
                / F.lit(7.0)
            ).alias("avg_yearly"),
        )
    )


@query(
    "nation_pair_trade_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE ((cn.n_name = 'NATION_19' AND sn.n_name = 'NATION_18')
        OR (cn.n_name = 'NATION_18' AND sn.n_name = 'NATION_19'))
    GROUP BY cn.n_name, sn.n_name, YEAR(l_shipdate)
    """,
    doc="TPC-H Q7-shaped bilateral trade volume: revenue shipped "
    "between a PAIR of nations in either direction, per year — the "
    "symmetric cross-side disjunction ((c=A AND s=B) OR (c=B AND "
    "s=A)) cannot anchor either side alone, but Catalyst derives the "
    "implied per-side IN-pair prefilters so both nation dims arrive "
    "pre-filtered; orders⋈lineitem is the one fact-fact shuffle. "
    "Only the two fixed 25-row nation dims carry hints — orders/"
    "customer/supplier are SF-proportional, so AQE sizes them at "
    "runtime (BHJ while small, shuffle at 100 TB) and the residual "
    "pair predicate runs on the joined rows. Six-table join planned "
    "scale-right",
)
def nation_pair_trade_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("cust_nation") == "NATION_19") & (F.col("supp_nation") == "NATION_18")
    ) | ((F.col("cust_nation") == "NATION_18") & (F.col("supp_nation") == "NATION_19"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o.join(c, o.o_custkey == c.c_custkey)
                 .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
                 .select("o_orderkey", "cust_nation"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(pair)
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_dec_sum(rev, "volume", 4))
    )


@query(
    "nation_market_share",
    oracle="""
    WITH yearly AS (
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_3'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
               AS nation_rev,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      JOIN part     ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY YEAR(o_orderdate)
    )
    SELECT o_year, nation_rev, total_rev,
           nation_rev / total_rev AS mkt_share
    FROM yearly
    """,
    doc="TPC-H Q8-shaped national market share: one nation's slice of "
    "PROMO-part revenue per order year — numerator and denominator "
    "as two conditional decimal-exact sums in the SAME aggregation "
    "pass (no second scan, no self-join), share as one IEEE division "
    "of identical operands. Part filter pushes to its scan and "
    "prunes the fact rows through the (AQE-sized, unhinted — part "
    "and supplier scale with SF) joins before the fact-fact "
    "shuffle; only the 25-row nation dim keeps a hint",
)
def nation_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat = F.when(F.col("n_name") == "NATION_3", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(_dec_sum(nat, "nation_rev", 4), _dec_sum(rev, "total_rev", 4))
        .select(
            "o_year",
            "nation_rev",
            "total_rev",
            (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"),
        )
    )


# The reference schema has no partsupp table; the three remaining
# TPC-H shapes that need one (Q2/Q16/Q20) run over a DERIVED
# part-supplier relation: the distinct (partkey, suppkey) pairs that
# actually traded, with unit_cost = MIN(extendedprice/quantity) —
# row-local division then MIN, so it is exact cross-engine with no
# accumulation-order pact — and availqty = 10·(number of trades),
# an exact integer. Both engines derive it from lineitem with the
# same expressions (the `ps` CTE below mirrors _derived_partsupp).
_SQL_PARTSUPP = """
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(l_extendedprice / l_quantity) AS ps_unit_cost,
             CAST(10 * COUNT(*) AS BIGINT) AS ps_availqty
      FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def _derived_partsupp(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_unit_cost"),
        (F.lit(10) * F.count(F.lit(1))).cast("long").alias("ps_availqty"),
    )


@query(
    "cheapest_supplier_per_part",
    oracle=f"""
    WITH ps AS ({_SQL_PARTSUPP}),
    best AS (
      SELECT ps_partkey, MIN(ps_unit_cost) AS min_cost
      FROM ps GROUP BY ps_partkey
    )
    SELECT p_partkey, p_brand, s_suppkey, s_name, ps_unit_cost
    FROM ps
    JOIN best     ON best.ps_partkey = ps.ps_partkey
                 AND ps_unit_cost = min_cost
    JOIN part     ON p_partkey = ps.ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    WHERE p_size <= 10
    """,
    doc="TPC-H Q2-shaped cheapest supplier per part: the correlated "
    "'cost = (SELECT MIN(cost) … WHERE same part)' subquery as "
    "per-group ARGMIN — the ORACLE keeps the aggregate "
    "equality-rejoin form; the engine attaches the per-part MIN as a "
    "WINDOW over the pair aggregation on ONE shared partkey exchange "
    "(a separate `best` relation re-ran the whole partsupp "
    "derivation as the join build side — measured 2x). Equality "
    "against the window min keeps every tied best supplier, exactly "
    "Q2's semantics, and is exact cross-engine because the MIN is "
    "over row-local divisions. Dims broadcast; the size filter "
    "pushes to the part scan. Runs over the derived partsupp "
    "relation (see _SQL_PARTSUPP)",
)
def cheapest_supplier_per_part(spark, sf_dir):
    # per-part MIN via a window over the pair aggregation instead of a
    # separate `best` relation: the aggregate-rejoin form made
    # Catalyst RE-RUN the whole partsupp derivation as the join's
    # build side (two lineitem aggregations — measured 1.23s vs 0.66s
    # at sf0.1); the partkey repartition ahead of the pair groupBy
    # lets the groupBy AND the window share ONE exchange (the Q21 /
    # winsorized pattern). Same per-group-argmin semantics: equality
    # against the window min keeps every tied best supplier.
    li = _t(spark, sf_dir, "lineitem")
    ps = (
        li.repartition(F.col("l_partkey"))
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_unit_cost"))
    )
    w = Window.partitionBy("ps_partkey")
    best = ps.withColumn("min_cost", F.min("ps_unit_cost").over(w)).filter(
        F.col("ps_unit_cost") == F.col("min_cost")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_brand")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(p, best.ps_partkey == p.p_partkey)
        .join(s, best.ps_suppkey == s.s_suppkey)
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "ps_unit_cost")
    )


@query(
    "supplier_count_by_part_attrs",
    oracle=f"""
    WITH ps AS ({_SQL_PARTSUPP})
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_name LIKE '%000000003%')
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16-shaped supplier diversity per part attribute: "
    "count distinct suppliers per (brand, type, size) bucket, "
    "excluding a complained-about supplier set via NOT IN — the "
    "null-free key makes NOT IN ≡ anti-join (with nullable keys "
    "Spark would need a null-aware anti join; the doc records the "
    "distinction); the excluded set is supplier-derived (SF-scaled) "
    "so it carries no hint — AQE broadcasts it while small. Negated "
    "predicates (<>, NOT LIKE) still push to the part scan; the "
    "count-distinct groups on the already-distinct derived pairs",
)
def supplier_count_by_part_attrs(spark, sf_dir):
    ps = _derived_partsupp(spark, sf_dir)
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & ~F.col("p_type").like("PROMO%")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%000000003%"))
        .select("s_suppkey")
    )
    return (
        ps.join(bad, ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(p, ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@query(
    "excess_stock_suppliers",
    oracle=f"""
    WITH ps AS ({_SQL_PARTSUPP}),
    shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_1997
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT ps_suppkey FROM ps
      JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE ps_partkey IN (SELECT p_partkey FROM part
                           WHERE p_name LIKE '%bolt%')
        AND ps_availqty > 0.5 * qty_1997
    )
    """,
    doc="TPC-H Q20-shaped excess-stock suppliers: suppliers holding "
    "more than half a year's shipped quantity of any bolt part — "
    "the NESTED-IN chain (suppkey IN (… partkey IN (…) AND "
    "correlated-agg threshold)). Both INs compile to semi-joins "
    "(name-filtered part keys semi-join the derived pairs and the "
    "qualifying pair set semi-joins supplier — both SF-scaled, both "
    "unhinted so AQE sizes them); the per-pair 1997 "
    "quantity is a decimal-exact aggregate equi-joined on the pair "
    "key, and the threshold compare is one IEEE op on exact values. "
    "No correlated re-execution anywhere — the whole chain is three "
    "aggregates and three hash joins",
)
def excess_stock_suppliers(spark, sf_dir):
    ps = _derived_partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(_dec_sum(F.col("l_quantity"), "qty_1997", 2))
    )
    bolts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    qualifying = (
        ps.join(bolts, ps.ps_partkey == bolts.p_partkey, "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > F.lit(0.5) * F.col("qty_1997"))
        .select("ps_suppkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(qualifying, s.s_suppkey == F.col("ps_suppkey"), "left_semi")


@query(
    "conversion_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
                     AND e.ts > t1 AND e.ts <= t1 + INTERVAL 1 HOUR
      WHERE e.event_type = 'view' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
                     AND e.ts > t2 AND e.ts <= t2 + INTERVAL 1 HOUR
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_view_after,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchase_after,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
             / NULLIF(CAST((SELECT COUNT(*) FROM s1) AS BIGINT), 0) AS view_rate,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
             / NULLIF(CAST((SELECT COUNT(*) FROM s2) AS BIGINT), 0) AS purchase_rate
    """,
    doc="ordered conversion funnel (signup → view within 1h → "
    "purchase within 1h of that view, per user): the ORACLE is the textbook 3-stage "
    "aggregate-join cascade (each stage re-probes events against the "
    "previous stage's min-timestamp); the Spark plan computes the "
    "SAME stage times in ONE scan with cascaded conditional-min "
    "windows over a single user_id exchange — stage k's window "
    "expression references stage k-1's window column, so all three "
    "resolve in consecutive Window operators on one partitioning, "
    "then a global count/rate row. Hash-equality certifies the "
    "single-pass rewrite; at 100 TB it replaces three event-table "
    "scans + three shuffles with one of each. Rates are exact "
    "int/int divisions",
)
def conversion_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    staged = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "view")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 1 HOUR")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t3", t3)
    # per-user rollup BEFORE the global count: the stage times are
    # constant within a user, so max() collapses each user to one row
    # on the window's existing partitioning (no new exchange), and the
    # global stage counts become plain flag sums — three
    # count_distinct's here would plant an Expand tripling the event
    # rows before the shuffle (the same trap Q21's rewrite removes)
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    n1 = F.sum(F.col("t1").isNotNull().cast("long"))
    n2 = F.sum(F.col("t2").isNotNull().cast("long"))
    n3 = F.sum(F.col("t3").isNotNull().cast("long"))
    # empty-stage guard: Spark's non-ANSI x/0 yields NULL but DuckDB's
    # IEEE double division yields inf/NaN — gating the denominator the
    # same way on both sides (when>0 here, NULLIF in the oracle) keeps
    # the engines hash-equal on funnels with an empty stage
    return per_user.agg(
        n1.alias("n_signup"),
        n2.alias("n_view_after"),
        n3.alias("n_purchase_after"),
        F.when(n1 > 0, n2 / n1).alias("view_rate"),
        F.when(n2 > 0, n3 / n2).alias("purchase_rate"),
    )


@query(
    "schema_evolution_read",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(NULL AS STRING) AS o_orderstatus,
           CAST(1 AS INT) AS batch
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus, CAST(2 AS INT) AS batch
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    doc="schema evolution across ingest batches (§2.1 at 100 TB "
    "reality: yesterday's files lack the column added today): batch 1 "
    "is written WITHOUT o_orderstatus, batch 2 WITH it, into a "
    "batch-partitioned layout; one mergeSchema read unifies them — "
    "old rows surface the new column as NULL, the batch partition "
    "column comes from directory discovery, and per-file projection "
    "still reads only each file's own columns. Hash-equality against "
    "the expected unified relation (derived from the source VIEW, "
    "not the temp files) proves the widened read is lossless",
)
def schema_evolution_read(spark, sf_dir):
    # eager-write via the shared scratch-root helper: keyed by
    # pid + application id + sf_dir (two sessions, or two scale
    # factors in one session, can never overwrite each other's
    # landed layout mid-read), wiped at construction, removed at
    # process exit.
    o = _t(spark, sf_dir, "orders")
    root = f"{_fresh_tmp_root(spark, 'evo', sf_dir)}/orders_evo"
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(f"{root}/batch=1")
    v2.write.mode("overwrite").parquet(f"{root}/batch=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(root)
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "batch")
    )


# ===========================================================================
# §2.9 streaming machinery + custom DataSource + sketch certificates,
# all under the driver's exact-value gate (the partitioned_sink_pruned_
# read pattern: eager side effects at plan construction, the returned
# plan reads the landed table, hash-equality against a plain oracle)
# ===========================================================================


def _fresh_tmp_root(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """Per-(process, session, sf) scratch root for entries with eager
    sink/stream side effects: wiped at construction so streaming
    checkpoints start fresh (a stale checkpoint would skip the
    rewritten feed), keyed by application id so concurrent sessions
    never race on each other's layout, removed at process exit."""
    import atexit
    import os
    import re
    import shutil
    import tempfile

    app = application_id(spark)
    sft = re.sub(r"\W+", "_", sf_dir.rstrip("/"))
    root = f"{tempfile.gettempdir()}/fes_{tag}_{os.getpid()}_{app}_{sft}"
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


@query(
    "streaming_bronze_ingest",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM events
    """,
    doc="exactly-once streaming bronze ingest under the exact value "
    "gate (SURVEY §2.9; reference: per-day CSV appends at "
    "daily_match_scraper.py:587-628): events written to a multi-file "
    "parquet feed, re-read as a FILE-SOURCE STREAM "
    "(maxFilesPerTrigger=1 → one micro-batch per file), landed in a "
    "bronze table by Spark's parquet file sink, exactly-once through "
    "the checkpoint and the sink's _spark_metadata log (streaming/"
    "incremental.incremental_parquet_sink), then the landed table is "
    "returned through that log. Hash-equality "
    "against the plain source SELECT proves the whole checkpointed "
    "micro-batch path is lossless and exactly-once — the previously "
    "pytest-only streaming surface under the driver's hard gate",
)
def streaming_bronze_ingest(spark, sf_dir):
    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    root = _fresh_tmp_root(spark, "sbi", sf_dir)
    feed = f"{root}/feed"
    ev.repartition(4).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    incremental.incremental_parquet_sink(stream, f"{root}/bronze", f"{root}/ckpt")
    return spark.read.parquet(f"{root}/bronze").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


@query(
    "streaming_silver_upsert",
    oracle="""
    SELECT o.o_custkey,
           o.o_orderkey AS last_orderkey,
           o.o_totalprice AS last_totalprice,
           o.o_orderstatus AS last_status
    FROM orders o
    JOIN (SELECT o_custkey, MAX(o_orderkey) AS mk
          FROM orders GROUP BY o_custkey) m
      ON o.o_custkey = m.o_custkey AND o.o_orderkey = m.mk
    """,
    doc="streaming MERGE-upsert silver table under the exact value "
    "gate (SURVEY §2.9): orders re-cast as a 3-shard CDC feed (key "
    "o_custkey, version o_orderkey — globally unique, so last-writer-"
    "wins is deterministic regardless of batch arrival order), "
    "streamed one shard per micro-batch through foreachBatch + "
    "versioned keyed upsert (streaming/incremental.incremental_"
    "silver_sink: each batch merges the previous committed snapshot "
    "with its rows and writes v=batch_id — replay-idempotent), then "
    "the final committed snapshot is returned. Hash-equality against "
    "the latest-order-per-customer oracle certifies the upsert "
    "semantics end to end",
)
def streaming_silver_upsert(spark, sf_dir):
    from ..streaming import incremental

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    root = _fresh_tmp_root(spark, "ssu", sf_dir)
    feed = f"{root}/feed"
    (
        o.withColumn("shard", (F.col("o_orderkey") % 3).cast("int"))
        .repartition("shard")  # one task per shard → one file per dir
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(feed)
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(
            "o_custkey long, o_orderkey long, o_totalprice double, "
            "o_orderstatus string, shard int"
        )
        .option("maxFilesPerTrigger", 1)
        .load(feed)
        .drop("shard")
    )
    incremental.incremental_silver_sink(
        stream,
        f"{root}/silver",
        f"{root}/ckpt",
        keys=("o_custkey",),
        order_col="o_orderkey",
    )
    return incremental.read_silver(spark, f"{root}/silver").select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_totalprice"),
        F.col("o_orderstatus").alias("last_status"),
    )


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="watermarked streaming aggregation DRIVEN AS A STREAM under "
    "the exact value gate: the events feed re-read as a 3-file "
    "file-source stream, aggregated by the SAME windowed_event_counts "
    "expression tumbling_event_windows gates in batch, executed with "
    "availableNow catch-up into a memory sink (complete mode) — this "
    "entry actually runs the streaming engine (micro-batches, "
    "watermark, state store), not the batch twin. The watermark is "
    "set beyond the feed's disorder horizon (a historical backfill's "
    "files arrive in arbitrary order, so nothing may be dropped as "
    "late; complete mode additionally retains all window state). "
    "Hash-equality against the batch oracle certifies stream/batch "
    "semantic parity",
)
def streaming_tumbling_counts(spark, sf_dir):
    import os
    import re

    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    root = _fresh_tmp_root(spark, "stc", sf_dir)
    feed = f"{root}/feed"
    ev.repartition(3).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    agg = incremental.windowed_event_counts(
        stream, ts_col="ts", window="1 day", watermark="36500 days"
    )
    name = "fes_stc_" + re.sub(r"\W+", "_", f"{os.getpid()}_{sf_dir.rstrip('/')}")
    tbl = incremental.run_available_now(agg, name, f"{root}/ckpt")
    return tbl.select(
        F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
    )


# The three dump payloads for raw_dump_ingest: well-formed captures in
# the reference's debug-dump format (daily_match_scraper.py response
# dumps), exercising every candidate-path fallback the flattener
# implements, plus one truncated capture that must degrade to zero
# rows. Fixed literals so the expected relation is a VALUES oracle.
_RAW_DUMPS = {
    "2025-05-23": (
        "Status: 200\n"
        "Headers: {'Content-Type': 'application/json'}\n"
        'Content: {"events": ['
        '{"id": 9001, "homeTeam": {"name": "Arsenal"}, '
        '"awayTeam": {"name": "Chelsea"}, '
        '"tournament": {"name": "Premier League", "category": {"name": "England"}}, '
        '"startTimestamp": 1748010600, '
        '"status": {"description": "Not started"}, '
        '"venue": {"name": "Emirates Stadium"}, '
        '"roundInfo": {"round": 37}}, '
        '{"id": 9002, "home": {"name": "Valencia"}, '
        '"away": {"name": "Sevilla"}, '
        '"category": {"name": "Spain"}, '
        '"status": "Ended", "venue": "Camp Nou"}]}'
    ),
    "2025-05-24": (
        "Status: 200\n"
        "Headers: {'Content-Type': 'application/json'}\n"
        'Content: {"events": ['
        '{"id": 9003, "homeTeam": {"name": "Inter Miami"}, '
        '"awayTeam": {"name": "LA Galaxy"}, '
        '"league": {"name": "MLS"}, '
        '"startTimestamp": 1748077500, '
        '"status": {"description": "Scheduled"}, '
        '"roundInfo": {"round": 12}}, '
        '{"id": 9004, "homeTeam": {"name": "Orphan FC"}}]}'
    ),
    # truncated mid-payload: try_parse_json → null → zero rows
    "2025-05-25": (
        "Status: 500\n"
        "Headers: {}\n"
        'Content: {"events": [{"id": 9005, "homeTeam": {"na'
    ),
}


@query(
    "raw_dump_ingest",
    oracle="""
    SELECT * FROM (VALUES
      ('9001', 'Arsenal', 'Chelsea', 'Premier League', 'England',
       CAST(1748010600 AS BIGINT), '14:30', 'Not started',
       'Emirates Stadium', '37', 'api'),
      ('9002', 'Valencia', 'Sevilla', 'Spain', 'Spain',
       CAST(NULL AS BIGINT), 'Unknown', 'Ended',
       'Camp Nou', CAST(NULL AS STRING), 'api'),
      ('9003', 'Inter Miami', 'LA Galaxy', 'MLS', 'International',
       CAST(1748077500 AS BIGINT), '09:05', 'Scheduled',
       CAST(NULL AS STRING), '12', 'api')
    ) AS t(id, home_team, away_team, league, country, start_timestamp,
           start_time, status, venue, round, source)
    """,
    doc="the full Spark-native ingest chain under the exact value "
    "gate: committed raw debug dumps (one per day, the reference's "
    "capture format) written to a feed directory, read through the "
    "CUSTOM PYTHON DATASOURCE (io/dump_source.RawDumpDataSource — one "
    "InputPartition per capture file), wrapper peeled "
    "(ingest.extract_dump_content), envelope exploded via VARIANT "
    "(ingest.explode_api_envelope — the truncated 3rd capture "
    "degrades to zero rows), events flattened with candidate-path "
    "fallbacks (ingest.flatten_api_events, utc=True for engine-"
    "portable times; the away-less 4th event is dropped by the "
    "required-field rule). The package zip rides addPyFile "
    "(session.ship_package) so the by-reference-pickled DataSource "
    "class imports on workers under the driver's foreign-cwd plain "
    "session. Hash-equality against the expected VALUES relation "
    "replaces the previously pytest-only coverage",
)
def raw_dump_ingest(spark, sf_dir):
    import os

    from ..io.dump_source import RawDumpDataSource
    from ..operators import ingest
    from ..session import ship_package

    ship_package(spark)
    root = _fresh_tmp_root(spark, "rdi", sf_dir)
    dumps = f"{root}/dumps"
    os.makedirs(dumps, exist_ok=True)
    for date, content in _RAW_DUMPS.items():
        with open(f"{dumps}/api_response_{date}.txt", "w", encoding="utf-8") as fh:
            fh.write(content)
    spark.dataSource.register(RawDumpDataSource)
    raw = spark.read.format("raw_api_dumps").option("path", dumps).load()
    content = raw.select(ingest.extract_dump_content("raw").alias("content"))
    events = ingest.explode_api_envelope(content, "content")
    return ingest.flatten_api_events(events, utc=True)


@query(
    "raw_dump_stream_ingest",
    oracle="""
    SELECT * FROM (VALUES
      ('9001', 'Arsenal', 'Chelsea', 'Premier League', 'England',
       CAST(1748010600 AS BIGINT), '14:30', 'Not started',
       'Emirates Stadium', '37', 'api'),
      ('9002', 'Valencia', 'Sevilla', 'Spain', 'Spain',
       CAST(NULL AS BIGINT), 'Unknown', 'Ended',
       'Camp Nou', CAST(NULL AS STRING), 'api'),
      ('9003', 'Inter Miami', 'LA Galaxy', 'MLS', 'International',
       CAST(1748077500 AS BIGINT), '09:05', 'Scheduled',
       CAST(NULL AS STRING), '12', 'api')
    ) AS t(id, home_team, away_team, league, country, start_timestamp,
           start_time, status, venue, round, source)
    """,
    doc="the custom Python DataSource driven as a STREAM (Spark 4 "
    "SimpleDataSourceStreamReader — io/dump_source."
    "RawDumpStreamReader): the offset is the count of capture files "
    "consumed in sorted order, read() picks up newly-appended daily "
    "dumps, readBetweenOffsets() replays a committed range "
    "deterministically (the exactly-once checkpoint-replay "
    "contract). The same parse chain as the batch raw_dump_ingest "
    "runs ON the stream (extract wrapper -> VARIANT envelope "
    "explode -> candidate-path flatten), driven with availableNow "
    "into a memory sink, and must hash-match the identical expected "
    "VALUES relation — certifying batch == stream for the whole "
    "Python-source ingest path. At scale the offset points at an "
    "object-store listing or log position; the contract proved here "
    "(monotone offsets, deterministic range replay) is unchanged",
)
def raw_dump_stream_ingest(spark, sf_dir):
    import os
    import re

    from ..io.dump_source import make_streaming_dump_source
    from ..operators import ingest
    from ..session import ship_package

    ship_package(spark)
    root = _fresh_tmp_root(spark, "rds", sf_dir)
    dumps = f"{root}/dumps"
    os.makedirs(dumps, exist_ok=True)
    for date, content in _RAW_DUMPS.items():
        with open(f"{dumps}/api_response_{date}.txt", "w", encoding="utf-8") as fh:
            fh.write(content)
    # by-value-picklable class: the streaming source runner process
    # does not see addPyFile, so the by-reference batch class cannot
    # be used here (see make_streaming_dump_source)
    spark.dataSource.register(make_streaming_dump_source())
    raw = (
        spark.readStream.format("raw_api_dumps_stream")
        .option("path", dumps)
        .load()
    )
    content = raw.select(ingest.extract_dump_content("raw").alias("content"))
    events = ingest.explode_api_envelope(content, "content")
    flat = ingest.flatten_api_events(events, utc=True)
    from ..streaming import incremental

    name = "fes_rds_" + re.sub(r"\W+", "_", f"{os.getpid()}_{sf_dir.rstrip('/')}")
    return incremental.run_available_now(
        flat, name, f"{root}/ckpt", mode="append"
    )


@query(
    "approx_distinct_error_bound",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
    doc="deterministic error certificate for approx_count_distinct "
    "(companion to the rows-only approx_distinct_users entry, whose "
    "HLL++ estimate can never hash-match cross-engine BY DESIGN): "
    "emits the exact distinct count plus the BOUNDED-ERROR VERDICT "
    "|approx − exact| ≤ 10%·exact as a boolean the oracle replicates "
    "as TRUE — at rsd=0.02 the 10% bound is 5 standard deviations, so "
    "the verdict is deterministic in any realizable run and the "
    "sketch's accuracy contract sits under the driver's hard gate",
)
def approx_distinct_error_bound(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("__approx"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.10)
        ).alias("within_bound"),
    )


@query(
    "hll_reach_error_bound",
    oracle="""
    SELECT event_type AS grp,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_merged,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
    doc="deterministic certificate for the DataSketches HLL "
    "build+union rollup (companion to the rows-only hll_user_reach "
    "entry): the per-(type, day) sketch table is built and union-"
    "merged exactly as in the rows-only entry, then the result is "
    "reduced to oracle-checkable facts — days_merged (the sketch-"
    "table row count per group, exactly COUNT(DISTINCT day)) and the "
    "bounded-error verdict |estimate − exact| ≤ 5%·exact (lgK=14 → "
    "~0.8% typical error; 5% is >6 sigma). Certifies both the sketch "
    "pipeline's SHAPE and its accuracy under the driver's hard gate",
)
def hll_reach_error_bound(spark, sf_dir):
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events")
    daily = sketches.daily_hll_sketches(ev, "user_id", "event_type", "ts")
    merged = sketches.merge_hll(daily, by="grp")
    exact = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return merged.join(exact, "grp").select(
        "grp",
        "exact_users",
        "days_merged",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        ).alias("within_bound"),
    )


@query(
    "approx_percentile_error_bound",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS p50_within_bound,
           TRUE AS p90_within_bound,
           TRUE AS p99_within_bound
    FROM orders GROUP BY o_orderpriority
    """,
    doc="deterministic rank-bracket certificate for approx_percentile "
    "(companion to the rows-only approx_order_percentiles entry): the "
    "Greenwald-Khanna guarantee is that the returned value's exact "
    "rank is within n/accuracy of the target rank, so for each "
    "quantile the entry computes the exact order-statistic values at "
    "ranks (q ± 1/accuracy)·n ∓ 1 (one window pass — the same single-"
    "exchange rank technique as winsorized_stats) and verifies the "
    "sketch value lies inside that bracket; TRUE is then a theorem, "
    "not an empirical accident, and the oracle replicates it. Puts "
    "the sketch's documented accuracy contract under the driver's "
    "hard gate",
)
def approx_percentile_error_bound(spark, sf_dir):
    from ..operators import sketches

    accuracy = 1000
    eps = 1.0 / accuracy
    o = _t(spark, sf_dir, "orders")
    approx = sketches.approx_group_percentiles(
        o, "o_totalprice", "o_orderpriority", quantiles=(0.5, 0.9, 0.99),
        accuracy=accuracy,
    )
    w_sort = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc()
    )
    w_all = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w_sort).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )

    def lo_k(q):
        return F.greatest(
            F.lit(1).cast("long"),
            F.floor((F.lit(q) - eps) * F.col("__n")).cast("long") - 1,
        )

    def hi_k(q):
        return F.least(
            F.col("__n"),
            F.ceil((F.lit(q) + eps) * F.col("__n")).cast("long") + 1,
        )

    quantiles = ((0.5, "50", "p_5"), (0.9, "90", "p_9"), (0.99, "99", "p_99"))
    aggs = [F.count(F.lit(1)).alias("n")]
    for q, tag, _ in quantiles:
        v = F.col("o_totalprice")
        aggs.append(F.max(F.when(F.col("__rn") == lo_k(q), v)).alias(f"__lo{tag}"))
        aggs.append(F.max(F.when(F.col("__rn") == hi_k(q), v)).alias(f"__hi{tag}"))
    brackets = ranked.groupBy(F.col("o_orderpriority").alias("grp")).agg(*aggs)
    j = brackets.join(approx, "grp")
    cols = [F.col("grp"), F.col("n")]
    for _, tag, pcol in quantiles:
        cols.append(
            (
                (F.col(pcol) >= F.col(f"__lo{tag}"))
                & (F.col(pcol) <= F.col(f"__hi{tag}"))
            ).alias(f"p{tag}_within_bound")
        )
    return j.select(*cols)


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= DATE '1996-01-01'
      AND l_shipdate <  DATE '1998-01-01'
    GROUP BY l_returnflag
    """,
    doc="TPC-H Q12-shaped priority-by-ship-class count: the last "
    "unimplemented TPC-H shape — the reference's merge layer "
    "(data_utils.py:145-186) composed with its conditional result "
    "mapping (data_utils.py:279-284), as one fact-fact join feeding "
    "CASE-sum counters. Mapped onto the driver schema (lineitem has "
    "no l_shipmode/l_commitdate): "
    "l_returnflag IN ('A','R') plays the shipmode IN-list, 'shipped "
    ">30 days after order' plays commitdate<receiptdate, a 2-year "
    "l_shipdate window plays the receipt-year slice. Conditional "
    "counts stay one CASE-sum pair inside a single aggregate. At "
    "scale: both IN-list + date filters reach the lineitem scan "
    "(pushdown) BEFORE the orderkey shuffle join, and the residual "
    "late-by-30-days theta predicate evaluates post-join without a "
    "second exchange; the groupBy reuses partial map-side aggregation "
    "on a 2-value key",
)
def q12_priority_shipping(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    filtered = li.filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = filtered.join(o, filtered.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return joined.groupBy(F.col("l_returnflag").alias("ship_class")).agg(
        F.sum(high.cast("long")).alias("high_line_count"),
        F.sum((~high).cast("long")).alias("low_line_count"),
    )


@query(
    "cms_frequency_error_bound",
    oracle="""
    WITH g AS (SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows
               FROM events GROUP BY 1),
    e AS (SELECT event_type AS grp, user_id AS key,
                 CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM events WHERE user_id IN (1, 2, 3, 5, 8) GROUP BY 1, 2),
    p(key) AS (VALUES (CAST(1 AS BIGINT)), (2), (3), (5), (8))
    SELECT g.grp, p.key, COALESCE(e.exact_count, 0) AS exact_count,
           g.n_rows, TRUE AS within_bound
    FROM g CROSS JOIN p LEFT JOIN e ON e.grp = g.grp AND e.key = p.key
    """,
    doc="deterministic bounded-error certificate for the Count-Min "
    "frequency rollup (operators/sketches.py daily_cms_sketches + "
    "cms_merge_and_probe): per-(type, day) CMS sketches are built "
    "executor-side (partial-combined count_min_sketch aggregate — the "
    "shuffle carries counters, never raw keys), union-merged per "
    "group, and probed for five fixed user keys; the entry joins the "
    "estimates to the exact counts and emits the CMS contract as a "
    "verdict the oracle replicates as TRUE: exact <= est <= exact + "
    "eps*n_rows (eps=0.001 -> thousands of counters vs <=1500 distinct "
    "keys at sf0.1, so the one-sided overcount bound holds with "
    "enormous margin and the fixed seed makes the run-to-run value a "
    "constant of the data). Probes missing from a group certify as "
    "exact_count=0 via the same cross-join shape the sketch probe "
    "emits",
)
def cms_frequency_error_bound(spark, sf_dir):
    from ..operators import sketches

    probes = [1, 2, 3, 5, 8]
    ev = _t(spark, sf_dir, "events")
    daily = sketches.daily_cms_sketches(
        ev, "user_id", "event_type", "ts", eps=0.001, confidence=0.99, seed=17
    )
    probed = sketches.cms_merge_and_probe(spark, daily, probes, by="grp")
    exact = (
        ev.filter(F.col("user_id").isin(probes))
        .groupBy(F.col("event_type").alias("grp"), F.col("user_id").alias("key"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    slack = F.ceil(F.col("n_rows") * F.lit(0.001)).cast("long")
    exact_c = F.coalesce(F.col("exact_count"), F.lit(0).cast("long"))
    return probed.join(exact, ["grp", "key"], "left").select(
        "grp",
        "key",
        exact_c.alias("exact_count"),
        "n_rows",
        (
            (F.col("est_count") >= exact_c)
            & (F.col("est_count") <= exact_c + slack)
        ).alias("within_bound"),
    )


@query(
    "approx_topk_exactness_certificate",
    oracle="""
    WITH c AS (SELECT event_type AS grp, user_id AS key, COUNT(*) AS exact_count
               FROM events GROUP BY 1, 2),
    r AS (SELECT grp, exact_count,
                 ROW_NUMBER() OVER (PARTITION BY grp
                                    ORDER BY exact_count DESC) AS rn
          FROM c)
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n_returned,
           CAST(SUM(exact_count) AS BIGINT) AS topk_count_sum,
           TRUE AS all_counts_exact
    FROM r WHERE rn <= 5 GROUP BY grp
    """,
    doc="exact-within-budget certificate for the space-saving heavy-"
    "hitters rollup (operators/sketches.py approx_top_keys / the "
    "built-in approx_top_k aggregate): with max_items_tracked=10000 "
    "counters and <=1500 distinct users per group at sf0.1, nothing "
    "is ever evicted, so every returned count is EXACT and the "
    "returned set is a true top-k. Tie-safe by construction: top-5 "
    "membership is ambiguous under the data's heavy count ties, so "
    "the certificate emits only tie-invariant facts — n_returned, the "
    "SUM of the top-5 counts (identical for any tie resolution), and "
    "the all-counts-exact verdict from joining each returned key back "
    "to its exact count. The oracle reproduces all three from a plain "
    "ranked groupBy. At 100 TB the shuffle carries 10k counters per "
    "group instead of raw keys",
)
def approx_topk_exactness_certificate(spark, sf_dir):
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events")
    tk = sketches.approx_top_keys(
        ev, "user_id", "event_type", k=5, max_items_tracked=10000
    )
    exact = ev.groupBy(
        F.col("event_type").alias("grp"), F.col("user_id").alias("key")
    ).agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        tk.join(exact, ["grp", "key"], "left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum("est_count").alias("topk_count_sum"),
            F.min(F.col("est_count") == F.col("exact_count")).alias(
                "all_counts_exact"
            ),
        )
    )


def _sql_pq_assign(btab: str) -> str:
    """Per-(vector, subspace) nearest-codeword assignment against the
    codebook CTE ``btab`` (columns s, code, j, c) — the SQL twin of
    the Arrow argmin kernel in similarity._pq_codes_col (ties to the
    lowest code, matching np.argmin). d2 is rounded to 6dp BEFORE the
    argmin on both engines so a summation-order last-bit divergence on
    a near-tie cannot flip the assignment cross-engine — below 6dp
    resolution both sides see an exact tie and both break it code
    ASC."""
    return f"""
      SELECT vec_id, s, code FROM (
        SELECT sv.vec_id, sv.s, b.code,
               ROUND(SUM((sv.x - b.c) * (sv.x - b.c)), 6) AS d2
        FROM sv JOIN {btab} b ON b.s = sv.s AND b.j = sv.j
        GROUP BY sv.vec_id, sv.s, b.code
        QUALIFY ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s
                                   ORDER BY d2 ASC, code ASC) = 1
      )"""


def _sql_pq_update(atab: str, btab: str) -> str:
    """Codebook update from assignment ``atab``: per-(s, code, j)
    rounded mean, COALESCE-backfilled from ``btab`` so a codeword that
    loses all members keeps its previous value (pq_train's dense-codes
    contract)."""
    return f"""
      SELECT {btab}.s, {btab}.code, {btab}.j, COALESCE(u.c, {btab}.c) AS c
      FROM {btab} LEFT JOIN (
        SELECT a.s, a.code, sv.j, ROUND(AVG(sv.x), 6) AS c
        FROM {atab} a JOIN sv ON sv.vec_id = a.vec_id AND sv.s = a.s
        GROUP BY a.s, a.code, sv.j
      ) u ON u.s = {btab}.s AND u.code = {btab}.code AND u.j = {btab}.j"""


_SQL_PQ_CTES = f"""sv AS (
      SELECT vec_id, i // 8 AS s, i % 8 AS j,
             CAST(embedding[i + 1] AS DOUBLE) AS x
      FROM embeddings, (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS i)
    ),
    b0 AS (SELECT s, vec_id AS code, j, x AS c FROM sv WHERE vec_id < 16),
    a0 AS ({_sql_pq_assign('b0')}),
    b1 AS ({_sql_pq_update('a0', 'b0')}),
    a1 AS ({_sql_pq_assign('b1')}),
    b2 AS ({_sql_pq_update('a1', 'b1')}),
    codes AS ({_sql_pq_assign('b2')})"""


@query(
    "pq_adc_ann_topk",
    oracle=f"""
    WITH {_SQL_PQ_CTES},
    lut AS (
      SELECT qsv.vec_id AS query_id, b.s, b.code,
             SUM((qsv.x - b.c) * (qsv.x - b.c)) AS pd
      FROM sv qsv JOIN b2 b ON b.s = qsv.s AND b.j = qsv.j
      WHERE qsv.vec_id < 8
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT l.query_id, codes.vec_id, ROUND(SUM(l.pd), 6) AS adc_d2
      FROM codes JOIN lut l ON l.s = codes.s AND l.code = codes.code
      GROUP BY 1, 2
    )
    SELECT query_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, vec_id ASC)
                AS BIGINT) AS rank,
           vec_id, adc_d2
    FROM adc
    QUALIFY rank <= 10
    """,
    doc="PRODUCT-QUANTIZATION serving pipeline (Jegou et al. 2011, "
    "TPAMI — the compression tier of every large-scale ANN index): "
    "pq_train's deterministic per-subspace Lloyd's (m=8 subspaces, "
    "k=16 codewords, 2 iterations, first-16-by-id init, codebooks "
    "rounded to 6dp each update so the trajectory reproduces across "
    "engines), pq_encode's one-Arrow-pass 64-float -> 8-code "
    "compression, then pq_adc_topk's asymmetric-distance top-10: per "
    "query an m x k lookup table of partial squared distances turns "
    "each corpus distance into 8 table lookups + a sum over the CODES "
    "alone — the float vectors are never re-read at serve time, the "
    "~32x footprint drop that keeps a 100 TB corpus's index "
    "in memory. The oracle replays the ENTIRE trajectory (init, 2 "
    "assign/update rounds, final encode, LUT, ADC re-rank) in SQL; "
    "hash-equality certifies train+encode+serve end-to-end. Ranks on "
    "6dp-rounded distances with vec_id tie-break, deterministic on "
    "both engines",
)
def pq_adc_ann_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    books = session_memo(
        spark,
        (sf_dir, "__pq_books"),
        lambda: similarity.pq_train(e, m=8, k=16, n_iter=2),
    )
    codes = similarity.pq_encode(e, books)
    return similarity.pq_adc_topk(
        codes, books, _q8_rows(spark, sf_dir, e), k_top=10
    )


@query(
    "zorder_sink_pruned_read",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_partkey BETWEEN 2 AND 60
      AND l_suppkey BETWEEN 1 AND 4
    """,
    doc="Z-ORDER clustered sink + multi-dimension selective re-read "
    "(io/sinks.write_zordered): lineitem rewritten range-clustered on "
    "the Morton interleave of (l_partkey, l_suppkey) — pure JVM "
    "bitwise expressions, one shuffle — then read back with a "
    "rectangle predicate on BOTH dimensions. Hash-equality against "
    "the plain-table oracle proves the z-layout is lossless and the "
    "re-read filters exactly; the companion pytest "
    "(tests/test_io.py) verifies the parquet FOOTER stats actually "
    "prune most files on either axis, which a 1-D sort cannot do for "
    "its trailing column. At 100 TB this is the lakehouse ZORDER BY "
    "layout that serves selective two-axis scans from a fraction of "
    "the files. The rectangle (partkey 2-60, suppkey 1-4) sits "
    "inside the key range of EVERY test SF — non-empty at sf0.001 "
    "through sf0.1 (734/78/5 rows) and more selective as keys "
    "widen, so the entry can never go vacuously green",
)
def zorder_sink_pruned_read(spark, sf_dir):
    from ..io import sinks

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = f"{_fresh_tmp_root(spark, 'zord', sf_dir)}/lineitem_z"
    sinks.write_zordered(li, path, cols=("l_partkey", "l_suppkey"), n_files=16)
    back = spark.read.parquet(path)
    return back.filter(
        F.col("l_partkey").between(2, 60) & F.col("l_suppkey").between(1, 4)
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")


@query(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(COALESCE(SUM(value), 0), 6) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="CUSTOM STATEFUL STREAMING OPERATOR under the exact value "
    "gate (streaming/incremental.stateful_user_totals, "
    "applyInPandasWithState with processing-time TTL — the streaming "
    "twin of the reference's per-team cache with freshness eviction, "
    "team_scraper.py:89-126): the events feed re-read as a 2-file "
    "stream at one file per micro-batch, per-user (count, total) "
    "state accumulated ACROSS batches, update-mode rows landed in a "
    "memory sink (one row per touched key per batch), reduced to "
    "latest-per-key by the monotone n_events. Hash-equality against "
    "the batch groupBy oracle certifies that cross-batch state "
    "accumulation reproduces the batch aggregate exactly (totals "
    "rounded to 6dp both sides — state adds doubles in arrival "
    "order, the oracle in scan order). Runs NoTimeout: registered "
    "processing-time timers would hold the availableNow query open "
    "until expiry — TTL is a production-configuration path (timer "
    "firing is engine behavior this finite catch-up cannot observe); "
    "in production the TTL bounds state by live keys at 100 TB, not "
    "history",
)
def streaming_stateful_user_totals(spark, sf_dir):
    import os
    import re

    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    root = _fresh_tmp_root(spark, "sst", sf_dir)
    feed = f"{root}/feed"
    # 2 files -> 2 micro-batches: proves cross-batch carry-over without
    # paying N stateful-Python micro-batch spin-ups per construction
    ev.repartition(2).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    totals = incremental.stateful_user_totals(
        stream, key_col="user_id", value_col="value", state_ttl_minutes=None
    )
    name = "fes_sst_" + re.sub(r"\W+", "_", f"{os.getpid()}_{sf_dir.rstrip('/')}")
    tbl = incremental.run_available_now(totals, name, f"{root}/ckpt", mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        tbl.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 6).alias("total_value"),
        )
    )


@query(
    "fuzzy_name_matches",
    oracle="""
    WITH d AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
    FROM d a JOIN d b
      ON a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    doc="ENTITY-RESOLUTION fuzzy join under the exact gate "
    "(operators/dedup.fuzzy_join_edit_distance): all distinct part-"
    "name pairs within levenshtein distance 2 — the reference's "
    "manual team-name remap table (data_utils.py:61-95 normalization "
    "pairs) generalized to an automatic similarity join. The Spark "
    "plan is PassJoin segment blocking (Li et al., VLDB 2012): "
    "pigeonhole says an <=2-edit pair shares one of 3 segments "
    "verbatim within a +-2 shift, so candidates come from an EQUI-"
    "join on (length, segment-slot, segment-text) keys — one content-"
    "distributed shuffle, constant ~(2d+1)^2(d+1) fan-out per string "
    "— and the exact levenshtein filter finishes. The ORACLE is the "
    "brute-force n-squared theta join; hash-equality certifies the "
    "blocking lossless on real data (the property test certifies it "
    "on adversarial random strings). At 100 TB the theta join is "
    "unrunnable and THIS is the plan that replaces it",
)
def fuzzy_name_matches(spark, sf_dir):
    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    pairs = dedup.fuzzy_join_edit_distance(
        a, b, "name_a", "name_a", "name_b", "name_b", max_dist=2
    )
    return pairs.filter(F.col("name_a") < F.col("name_b")).select(
        "name_a", "name_b", "edit_distance"
    )


@query(
    "streaming_sliding_counts",
    oracle="""
    WITH offs AS (SELECT 0 AS o UNION ALL SELECT 1),
    w AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)
               - o * INTERVAL 1 DAY AS win_start,
             event_type, value
      FROM events CROSS JOIN offs
    )
    SELECT win_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM w GROUP BY 1, 2
    """,
    doc="SLIDING (hopping) event-time windows driven as a real stream "
    "(streaming_tumbling_counts' overlapping twin): 2-day windows "
    "hopping by 1 day, so every event lands in exactly TWO windows — "
    "the overlap-assignment semantics F.window(slide=...) implements "
    "in one expression, executed with availableNow catch-up, "
    "watermark beyond the backfill's disorder horizon, complete-mode "
    "memory sink. The oracle derives each row's two window starts "
    "arithmetically and re-aggregates; hash-equality certifies the "
    "engine's window assignment + overlapping-state accounting "
    "against first principles. At 100 TB state is (windows per slide "
    "x live keys), watermark-evicted",
)
def streaming_sliding_counts(spark, sf_dir):
    import os
    import re

    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    root = _fresh_tmp_root(spark, "ssc", sf_dir)
    feed = f"{root}/feed"
    ev.repartition(3).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    agg = incremental.windowed_event_counts(
        stream, ts_col="ts", window="2 days", slide="1 day", watermark="36500 days"
    )
    name = "fes_ssc_" + re.sub(r"\W+", "_", f"{os.getpid()}_{sf_dir.rstrip('/')}")
    tbl = incremental.run_available_now(agg, name, f"{root}/ckpt")
    return tbl.select(
        F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
    )


@query(
    "streaming_session_counts",
    oracle="""
    WITH flagged AS (
      SELECT user_id, value, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS longest_session,
           CAST(SUM(CAST(total_value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM per_session GROUP BY user_id
    """,
    doc="native session windows driven as a REAL STREAM — the missing "
    "member of the streaming-windows family (tumbling and sliding are "
    "driver-green, stateful/interval/dedup staged): the events feed "
    "re-read as a file-source stream, F.session_window(gap=30min) "
    "with watermark through streaming/incremental."
    "session_window_totals, availableNow catch-up into a complete-"
    "mode memory sink, then the same per-user rollup as the batch "
    "twin. The oracle is IDENTICAL to session_window_stats' (the "
    "driver-green batch entry), so hash-equality certifies "
    "stream == batch for session semantics — merge-on-touch "
    "boundaries, strict-gap splits, overlapping-session coalescing — "
    "through the real checkpointed engine. At 100 TB state is one "
    "open session per active key, watermark-evicted",
)
def streaming_session_counts(spark, sf_dir):
    import os
    import re

    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    root = _fresh_tmp_root(spark, "ssw", sf_dir)
    feed = f"{root}/feed"
    ev.repartition(3).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    per_session = incremental.session_window_totals(
        stream, gap="30 minutes", watermark="36500 days"
    )
    name = "fes_ssw_" + re.sub(r"\W+", "_", f"{os.getpid()}_{sf_dir.rstrip('/')}")
    tbl = incremental.run_available_now(per_session, name, f"{root}/ckpt")
    return tbl.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").cast("long").alias("longest_session"),
        (_sum_i64_checked(F.round(F.col("total_value") * 100).cast("long"), "streaming_session_counts[total_value]") / 100.0).alias(
            "total_value"
        ),
    )


@query(
    "streaming_interval_join_counts",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, CAST(COUNT(*) - 1 AS BIGINT) AS n_prior_events
    FROM p JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts <= p.ts
    GROUP BY p.event_id, p.user_id
    """,
    doc="STREAM-STREAM interval join under the exact gate — the "
    "streaming twin of purchase_prior_hour_activity (IDENTICAL "
    "oracle, so the pair certifies stream==batch for the interval-"
    "join family): purchases and the full event feed run as two "
    "file-source streams, inner-joined on user with the trailing-"
    "hour event-time band (incremental.stream_interval_join — "
    "watermarks on both sides plus the two-sided time bound are what "
    "let the engine evict buffered state at the match horizon), "
    "matched pairs landed append-mode in a memory sink, then counted "
    "per purchase in batch (self-pair subtracted). Two physical feed "
    "copies sidestep stream-self-join restrictions. At 100 TB state "
    "is rate x (window + watermark slack) per side, co-partitioned "
    "on the join key exactly like the batch bucketized rewrite",
)
def streaming_interval_join_counts(spark, sf_dir):
    import os
    import re

    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    root = _fresh_tmp_root(spark, "sij", sf_dir)
    p_feed, e_feed = f"{root}/purchases", f"{root}/events"
    ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    ).repartition(2).write.mode("overwrite").parquet(p_feed)
    ev.select(
        F.col("event_id").alias("e_event_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
    ).repartition(2).write.mode("overwrite").parquet(e_feed)

    ls = incremental.read_event_stream(
        spark, p_feed, spark.read.parquet(p_feed).schema
    )
    rs = incremental.read_event_stream(
        spark, e_feed, spark.read.parquet(e_feed).schema
    )
    joined = incremental.stream_interval_join(
        ls, rs,
        left_key="p_user_id", right_key="e_user_id",
        left_ts="p_ts", right_ts="e_ts",
        lower_s=-3600, upper_s=0,
        watermark="36500 days",
    ).select("p_event_id", "p_user_id")
    name = "fes_sij_" + re.sub(r"\W+", "_", f"{os.getpid()}_{sf_dir.rstrip('/')}")
    pairs = incremental.run_available_now(joined, name, f"{root}/ckpt", mode="append")
    return pairs.groupBy(
        F.col("p_event_id").alias("event_id"),
        F.col("p_user_id").alias("user_id"),
    ).agg((F.count(F.lit(1)) - 1).cast("long").alias("n_prior_events"))


@query(
    "silver_time_travel_read",
    oracle="""
    WITH l1 AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate < DATE '1998-01-01'
      ) r1 WHERE rn = 1
    ),
    l2 AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders
      ) r2 WHERE rn = 1
    )
    SELECT 'day1' AS snapshot, o_custkey,
           o_orderkey AS last_orderkey, o_totalprice AS last_totalprice,
           o_orderstatus AS last_status
    FROM l1
    UNION ALL
    SELECT 'latest' AS snapshot, o_custkey,
           o_orderkey AS last_orderkey, o_totalprice AS last_totalprice,
           o_orderstatus AS last_status
    FROM l2
    """,
    doc="SNAPSHOT TIME TRAVEL over the versioned silver table "
    "(streaming_silver_upsert's v=N history put to work): the pre-"
    "1998 orders land first and the sink runs to completion — that "
    "committed version IS the deterministic 'day 1' state (the final "
    "version of a completed catch-up is the full upsert of its feed, "
    "independent of intra-run file order) — then the remaining "
    "orders are appended to the feed and the SAME CHECKPOINT resumes, "
    "processing only the new files (incremental catch-up). The entry "
    "reads BOTH the day-1 version (read_silver(version=...)) and the "
    "latest, tagged; the oracle recomputes both latest-per-key states "
    "from the raw table. Certifies version retention, time-travel "
    "reads, and checkpoint-resumed incremental ingest in one hash — "
    "the Delta/Iceberg snapshot-read contract on plain parquet",
)
def silver_time_travel_read(spark, sf_dir):
    from ..streaming import incremental

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"
    )
    root = _fresh_tmp_root(spark, "stt", sf_dir)
    feed, silver, ckpt = f"{root}/feed", f"{root}/silver", f"{root}/ckpt"
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cols = ["o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus"]
    schema = (
        "o_custkey long, o_orderkey long, o_totalprice double, o_orderstatus string"
    )
    o.filter(F.col("o_orderdate") < cutoff).select(*cols).repartition(2).write.mode(
        "overwrite"
    ).parquet(feed)

    def catch_up():
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(feed)
        )
        incremental.incremental_silver_sink(
            stream, silver, ckpt, keys=("o_custkey",), order_col="o_orderkey"
        )

    catch_up()
    v_day1 = incremental.latest_silver_version(silver)
    o.filter(~(F.col("o_orderdate") < cutoff)).select(*cols).repartition(2).write.mode(
        "append"
    ).parquet(feed)
    catch_up()

    def tagged(df, tag):
        return df.select(
            F.lit(tag).alias("snapshot"),
            "o_custkey",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_totalprice").alias("last_totalprice"),
            F.col("o_orderstatus").alias("last_status"),
        )

    day1 = incremental.read_silver(spark, silver, version=v_day1)
    latest = incremental.read_silver(spark, silver)
    return tagged(day1, "day1").unionByName(tagged(latest, "latest"))


_Q88_BANDS = [
    ("b1", 1, 10, 0.00, 0.03),
    ("b2", 1, 10, 0.03, 0.07),
    ("b3", 11, 20, 0.00, 0.03),
    ("b4", 11, 20, 0.03, 0.07),
    ("b5", 21, 30, 0.00, 0.03),
    ("b6", 21, 30, 0.03, 0.07),
    ("b7", 31, 40, 0.00, 0.03),
    ("b8", 31, 40, 0.03, 0.07),
]


@query(
    "multi_band_scan_counts",
    oracle="""
    SELECT """
    + ",\n           ".join(
        f"CAST(SUM(CASE WHEN l_quantity BETWEEN {ql} AND {qh}"
        f" AND l_discount >= {dl} AND l_discount < {dh}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS {name}"
        for name, ql, qh, dl, dh in _Q88_BANDS
    )
    + """
    FROM lineitem
    WHERE l_returnflag = 'N'
    """,
    doc="TPC-DS Q88-shaped multi-band counting: eight "
    "(quantity-band x discount-band) segment counts that a naive "
    "translation runs as EIGHT separate filtered scans (Q88's "
    "literal form is an 8-way cross join of single-count subqueries) "
    "— here one conditional-aggregate pass: a single scan, every "
    "band a CASE-sum, partial-combined map-side into a 1-row result. "
    "The oracle keeps the same single-pass form (the 8-scan cross "
    "join is hash-equal by construction, and sole_blame/funnel "
    "already certify scan-collapse rewrites cross-engine); what this "
    "entry pins is the band arithmetic and the shared-scan plan the "
    "plan test asserts. At 100 TB the rewrite is 8x less IO verbatim",
)
def multi_band_scan_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "N")
    aggs = [
        F.sum(
            (
                F.col("l_quantity").between(ql, qh)
                & (F.col("l_discount") >= dl)
                & (F.col("l_discount") < dh)
            ).cast("long")
        ).alias(name)
        for name, ql, qh, dl, dh in _Q88_BANDS
    ]
    return li.agg(*aggs)


@query(
    "point_in_time_state_join",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type),
    iv AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM ch
    ),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           iv.state AS state_at_purchase,
           iv.valid_from AS state_since
    FROM p JOIN iv
      ON iv.user_id = p.user_id
     AND iv.valid_from <= p.ts
     AND (iv.valid_to IS NULL OR p.ts < iv.valid_to)
    """,
    doc="POINT-IN-TIME dimension lookup against the SCD2 history "
    "(user_state_scd2's intervals put to work — the classic "
    "warehouse 'fact joined to dimension-as-of-event-time'): each "
    "purchase matched to the one validity interval containing its "
    "timestamp via an equi-join on the key with the half-open range "
    "residual [valid_from, valid_to). Zero-width intervals (two "
    "state changes at one timestamp) are excluded by the strict "
    "upper bound, so exactly one interval matches per fact — "
    "deterministic cross-engine under the (ts, event_id) total "
    "order. At 100 TB both sides shuffle once on the key and the "
    "range stays a residual — never a per-fact scan of the history; "
    "the SCD2 build itself remains the single-exchange two-window "
    "plan its own entry certifies",
)
def point_in_time_state_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    scd = windows.scd2_intervals(
        ev, ["user_id"], "ts", "event_type", tiebreak=["event_id"]
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("__peid"),
        F.col("user_id").alias("__puid"),
        F.col("ts").alias("__pts"),
    )
    j = p.join(
        scd,
        (p["__puid"] == scd["user_id"])
        & (scd["valid_from"] <= p["__pts"])
        & (scd["valid_to"].isNull() | (p["__pts"] < scd["valid_to"])),
    )
    return j.select(
        F.col("__peid").alias("event_id"),
        F.col("__puid").alias("user_id"),
        F.col("event_type").alias("state_at_purchase"),
        F.col("valid_from").alias("state_since"),
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders GROUP BY o_custkey
    """,
    doc="INCREMENTAL VIEW MAINTENANCE under the exact gate "
    "(incremental.incremental_agg_sink): the orders feed streams in "
    "one file per micro-batch and a versioned per-customer aggregate "
    "table is maintained ADDITIVELY — each batch reduces to its own "
    "key-sized partial aggregate, then a full-outer coalescing merge "
    "adds (count, scaled-long sum) into the previous snapshot — the "
    "new_state = old_state + delta identity behind every streaming "
    "materialized view, with the silver sink's strictly-below-batch "
    "version discipline making replays rewrite instead of double-"
    "count. Count and scaled-long sum are associative+commutative, "
    "so the final table is EXACTLY the batch groupBy regardless of "
    "how the feed split into batches — which is precisely what the "
    "hash against the plain-aggregate oracle certifies. At 100 TB "
    "deltas stay key-cardinality-sized and history is never "
    "re-scanned",
)
def incremental_agg_maintenance(spark, sf_dir):
    from ..streaming import incremental

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    root = _fresh_tmp_root(spark, "iam", sf_dir)
    feed = f"{root}/feed"
    scale = 2  # one constant drives the sink's accumulator AND the read-back divisor
    o.repartition(3).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, o.schema)
    incremental.incremental_agg_sink(
        stream, f"{root}/agg", f"{root}/ckpt",
        keys=("o_custkey",), value_col="o_totalprice", scale=scale,
    )
    tbl = incremental.read_silver(spark, f"{root}/agg")
    return tbl.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        (F.col("s") / F.lit(float(10**scale))).alias("total_spend"),
    )


@query(
    "robust_outlier_flags",
    oracle="""
    WITH m AS (
      SELECT event_type AS grp,
             ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value), 6) AS med
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT m.grp, e.value, m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN m ON e.event_type = m.grp
    ),
    md AS (
      SELECT grp,
             ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY adev), 6) AS mad
      FROM d GROUP BY grp
    )
    SELECT d.grp, COUNT(*) AS n,
           MAX(d.med) AS median_value,
           MAX(md.mad) AS mad,
           CAST(SUM(CASE WHEN ABS(d.value - d.med) > 3 * 1.4826 * md.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN md USING (grp)
    GROUP BY d.grp
    """,
    doc="MAD-based robust outlier detection per group — the median/"
    "median-absolute-deviation screen a data-quality pipeline runs "
    "where mean/stddev would be dragged by the very outliers it "
    "hunts: med and MAD via exact interpolated percentiles (Spark "
    "percentile == PERCENTILE_CONT), each QUANTIZED to 6dp before "
    "reuse so every downstream comparison operates on bit-identical "
    "operands cross-engine (the |x-med| > 3*1.4826*MAD knife edge is "
    "then deterministic — same doubles, same IEEE ops, same verdict; "
    "interpolation's last-bit formula freedom is absorbed at the "
    "round). Two grouped percentile passes chained through broadcast "
    "joins of ~5-row stats tables; NULL values drop from percentiles "
    "and never flag. At 100 TB swap the exact percentiles for "
    "approx_percentile and keep the screen identical",
)
def robust_outlier_flags(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    d = ev.join(F.broadcast(med), ev.event_type == med.grp).select(
        "grp", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = d.groupBy("grp").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    j = d.join(F.broadcast(mad), "grp")
    is_out = F.abs(F.col("value") - F.col("med")) > (
        F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    )
    return j.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("med").alias("median_value"),
        F.max("mad").alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
    )


_PRICE_BANDS = [
    ("small", 0.0, 50000.0),
    ("mid", 50000.0, 150000.0),
    ("large", 150000.0, 320000.0),
    ("jumbo", 320000.0, 1000000.0),
]


@query(
    "price_band_lookup",
    oracle="""
    WITH bands(band, lo, hi) AS (VALUES """
    + ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _PRICE_BANDS)
    + """)
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders JOIN bands
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    doc="broadcast INTERVAL-DIMENSION lookup (the IP-to-geo / rate-"
    "card / IRREGULAR-band pattern — bands too uneven for width_"
    "bucket arithmetic): a literal half-open band table joins the "
    "fact side on a pure range condition. The dim is a JVM literal "
    "relation (no Python worker) and is explicitly broadcast, so the "
    "plan is the sanctioned bounded BroadcastNestedLoopJoin — each "
    "fact row tests 4 intervals map-side, the fact table never "
    "shuffles for the lookup, and the groupBy partial-aggregates "
    "into 4 rows. Half-open edges make band membership exact on "
    "both engines (no interpolation, no ties). This is the "
    "at-scale answer whenever the lookup table is interval-keyed "
    "rather than equi-keyed",
)
def price_band_lookup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    bands = similarity._literal_rows_df(
        spark,
        [{"band": b, "lo": lo, "hi": hi} for b, lo, hi in _PRICE_BANDS],
        "band: string, lo: double, hi: double",
    )
    j = o.join(
        F.broadcast(bands),
        (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
    )
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("o_totalprice"), "sum_price"),
    )


@query(
    "cdc_merge_apply",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice + 1000
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey % 10 <> 0
    """,
    doc="batch CDC MERGE (operators/joins.apply_cdc_changes — the "
    "Delta/Iceberg MERGE INTO contract as two anti-joins + a union): "
    "a deterministic change set derived from orders (keys %10=0 "
    "delete, %4=1 update with +1000, %4=3 insert the rows the base "
    "never had; the residue classes are disjoint by construction) is "
    "applied to the 3/4 base slice. The ORACLE is the first-"
    "principles end state — every order except the deletes, updates "
    "repriced — so hash-equality proves the delete/update/insert "
    "legs compose to exactly the declarative answer. All three legs "
    "hash-join on the one key, so a single co-partitioning serves "
    "the whole merge at 100 TB; a table format swaps the rewrite for "
    "merge-on-read with the identical join shape",
)
def cdc_merge_apply(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    key = F.col("o_orderkey")
    base = o.filter(key % 4 != 3)
    dels = o.filter(key % 10 == 0).withColumn("op", F.lit("D"))
    ups = (
        o.filter(key % 4 == 1)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("op", F.lit("U"))
    )
    ins = o.filter(key % 4 == 3).withColumn("op", F.lit("I"))
    changes = dels.unionByName(ups).unionByName(ins)
    return joins.apply_cdc_changes(base, changes, ["o_orderkey"])


@query(
    "bucketed_join_revenue",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="SORT-MERGE-BUCKET join through the catalog under the exact "
    "gate (io/sinks.write_bucketed — previously pytest-only): orders "
    "and customer rewritten as external tables bucketed+sorted on "
    "the join key, re-read via spark.table, joined and aggregated "
    "per market segment. Hash-equality against the plain-table "
    "oracle proves the bucketed physical layout is lossless and the "
    "catalog round trip exact; the ZERO-EXCHANGE property of "
    "bucket-aligned joins is plan-asserted in "
    "tests/test_scale.py (with auto-broadcast disabled — at this SF "
    "the optimizer rightly broadcasts the small side instead). At "
    "100 TB write-time co-location is what turns the daily fact-"
    "fact join on the same key into a shuffle-free map-side merge",
)
def bucketed_join_revenue(spark, sf_dir):
    import re

    from ..io import sinks

    root = _fresh_tmp_root(spark, "bkt", sf_dir)
    # full sf_dir path in the tag (like _fresh_tmp_root): two sf_dirs
    # sharing a basename must not collide on catalog table names
    tag = re.sub(r"\W+", "_", sf_dir.rstrip("/"))
    app = re.sub(r"\W+", "_", application_id(spark))
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .withColumnRenamed("o_custkey", "custkey")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "custkey")
    )
    t_o, t_c = f"b_orders_{tag}_{app}", f"b_cust_{tag}_{app}"
    sinks.write_bucketed(o, t_o, ["custkey"], 8, f"{root}/orders_b")
    sinks.write_bucketed(c, t_c, ["custkey"], 8, f"{root}/cust_b")
    j = spark.table(t_o).join(spark.table(t_c), "custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("o_totalprice"), "revenue"),
    )


@query(
    "observed_sink_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS null_status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    """,
    doc="WRITE-AUDIT-PUBLISH under the exact gate (io/sinks."
    "write_parquet_observed — previously pytest-only): orders land "
    "through a sink instrumented with Spark's observe() API, which "
    "collects the audit aggregates DURING the write job itself — "
    "zero extra passes over the data, vs the count-then-write double "
    "scan. The returned metrics (row count, null count, scaled-long "
    "exact sum) become a 1-row relation hash-matched against the "
    "oracle recomputing them from the table — certifying that the "
    "observed stream sees every row the sink writes, exactly once. "
    "At 100 TB this is the quality gate a promotion pipeline asserts "
    "on before publishing a partition, at the cost of zero scans",
)
def observed_sink_audit(spark, sf_dir):
    from ..io import sinks

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderstatus"
    )
    root = _fresh_tmp_root(spark, "obs", sf_dir)
    got = sinks.write_parquet_observed(
        o,
        f"{root}/orders_audited",
        metrics={
            "n_rows": F.count(F.lit(1)),
            "null_status": F.count(F.lit(1)) - F.count("o_orderstatus"),
            "sum_price": F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ),
        },
    )
    return spark.createDataFrame(
        [
            (
                int(got["n_rows"]),
                int(got["null_status"]),
                float(got["sum_price"]) / 100.0,
            )
        ],
        "n_rows long, null_status long, sum_price double",
    )


_TEAM_NAME_CASES = [
    ("  Man United FC ", "Manchester United"),
    ("Man Utd", "Manchester United"),
    ("Spurs FC", "Tottenham Hotspur"),
    ("Wolves", "Wolverhampton Wanderers"),
    ("Newcastle AFC", "Newcastle United"),
    ("Arsenal FC", "Arsenal"),
    ("Real Madrid CF", "Real Madrid"),
    ("FC Barcelona", "FC Barcelona"),  # leading FC is NOT a suffix
    ("Ajax", "Ajax"),
    ("  Chelsea  ", "Chelsea"),
]


@query(
    "team_name_normalization",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{raw}', '{want}')" for raw, want in _TEAM_NAME_CASES)
    + ") AS t(raw_name, normalized)",
    doc="the reference's flagship cleaning scalar under the exact "
    "gate (functions/scalars.normalize_team_name == "
    "utils/data_utils.py:14-33 + config.py:40-76 — trim, FC/CF/AFC "
    "suffix strip, literal-map remap, pass-through otherwise): ten "
    "representative messy inputs — alias remaps, suffix+alias "
    "combos, a leading 'FC' that must NOT strip, whitespace-only "
    "cleanups, untouched pass-throughs — normalized by the Spark "
    "expression and hash-matched against the expected VALUES "
    "relation (the raw_dump_ingest pattern: fixed inputs, expected "
    "relation as the oracle). Complements the byte-for-byte golden "
    "parity test, which proves the same function over the "
    "reference's full committed dataset. The expression is a "
    "constant-folded literal map — zero joins, zero Python at scale",
)
def team_name_normalization(spark, sf_dir):
    rows = similarity._literal_rows_df(
        spark, [{"raw_name": r} for r, _ in _TEAM_NAME_CASES], "raw_name: string"
    )
    return rows.select(
        "raw_name", scalars.normalize_team_name("raw_name").alias("normalized")
    )


@query(
    "top_orders_with_ties",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC) AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    """,
    doc="per-group top-k WITH TIES (RANK, the SQL-standard FETCH "
    "FIRST k ROWS WITH TIES semantics) — the tie-keeping sibling of "
    "the registered row_number top-3 (top3_orders_per_customer): "
    "equal-priced orders at the boundary ALL survive, so the result "
    "is a deterministic SET without any tie-break column — which is "
    "exactly why this variant is the safe default when the ordering "
    "key is not unique. Same single window exchange on the group "
    "key; output size is k plus ties rather than exactly k",
)
def top_orders_with_ties(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        o.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ===========================================================================
# Round-6 wave
# ===========================================================================


@query(
    "temperature_resampled_corpus",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    r AS (
      SELECT lang,
             ROUND(POWER(n / CAST((SELECT SUM(n) FROM c) AS DOUBLE), -0.5)
                   / MAX(POWER(n / CAST((SELECT SUM(n) FROM c) AS DOUBLE), -0.5))
                     OVER (), 6) AS rate
      FROM c
    )
    SELECT d.doc_id, d.lang, r.rate
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE SUBSTR(MD5(CAST(d.doc_id AS STRING)), 1, 4)
          < LPAD(LOWER(HEX(CAST(LEAST(FLOOR(r.rate * 65536), 65535)
                                AS BIGINT))), 4, '0')
    """,
    doc="temperature-based multilingual rebalancing with DATA-DERIVED "
    "rates (operators/sampling.temperature_resample — the p^alpha "
    "exponential-smoothing recipe of mBERT/XLM-R, alpha=0.5): "
    "acceptance rate a_l = p_l^(alpha-1)/max_m p_m^(alpha-1), so the "
    "rarest language keeps everything and the dominant one is thinned "
    "toward the tempered mix, realized by the same deterministic "
    "md5-vs-weight hex filter as quality_weighted_sample. Plan: one "
    "strata-sized count, rates on that tiny relation, broadcast probe "
    "+ scan-level filter — resampling 100 TB costs one count job and "
    "zero corpus shuffles. Rates rounded to 6dp pre-threshold for "
    "cross-engine reproducibility; oracle replays count->rate->filter "
    "end to end",
)
def temperature_resampled_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return sampling.temperature_resample(
        d, "lang", F.col("doc_id"), alpha=0.5, rate_col="rate"
    ).select("doc_id", "lang", "rate")


@query(
    "unigram_logprob_scores",
    # r12 dual-SQL port: split_part fan-out replaces UNNEST; the LM /
    # scoring / left-join text below is byte-unchanged.
    oracle=f"""
    WITH {_sql_tok_expand()},
    lm AS (
      SELECT term,
             ROUND(LN(CAST(COUNT(*) AS DOUBLE)
                      / (SELECT CAST(COUNT(*) AS DOUBLE) FROM tok)), 6) AS lp
      FROM tok GROUP BY term
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(lm.lp AS DECIMAL(28,6))) AS DOUBLE) AS logprob
      FROM tok t JOIN lm ON t.term = lm.term
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           s.logprob,
           ROUND(s.logprob / s.n_tokens, 6) AS mean_logprob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    tok AS (
      SELECT doc_id, UNNEST(toks) AS term FROM toks_cte
    ),
    lm AS (
      SELECT term,
             ROUND(LN(CAST(COUNT(*) AS DOUBLE)
                      / (SELECT CAST(COUNT(*) AS DOUBLE) FROM tok)), 6) AS lp
      FROM tok GROUP BY term
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(lm.lp AS DECIMAL(28,6))) AS DOUBLE) AS logprob
      FROM tok t JOIN lm ON t.term = lm.term
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_tokens, 0) AS n_tokens,
           s.logprob,
           ROUND(s.logprob / s.n_tokens, 6) AS mean_logprob
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
    doc="perplexity-proxy quality scoring with a SELF-TRAINED unigram "
    "LM (operators/corpus.unigram_logprob_scores — the cheap LM filter "
    "of CCNet/Gopher-style pipelines, here with the corpus as its own "
    "LM): logp(doc) = sum ln(tf_t/T) over its tokens plus the length-"
    "normalized mean. One explode, one vocabulary-sized term groupBy, "
    "one term equi-join back, one doc groupBy — two shuffles total, LM "
    "relation is vocabulary-sized not corpus-sized. Per-token logprobs "
    "rounded to 6dp then summed as DECIMAL(28,6): the total is exact "
    "and partition-order-independent, so the hash gate certifies the "
    "full tokenize->train->score pipeline cross-engine",
)
def unigram_logprob_scores(spark, sf_dir):
    from ..operators import corpus

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return corpus.unigram_logprob_scores(d)


@query(
    "cascade_delete_users",
    oracle="""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0
    ),
    del_orders AS (
      SELECT o.o_orderkey FROM orders o
      JOIN del ON o.o_custkey = del.c_custkey
    ),
    tagged AS (
      SELECT 'customer' AS entity,
             CASE WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END AS is_del
      FROM customer
      UNION ALL
      SELECT 'orders' AS entity,
             CASE WHEN del.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_del
      FROM orders o LEFT JOIN del ON o.o_custkey = del.c_custkey
      UNION ALL
      SELECT 'lineitem' AS entity,
             CASE WHEN d2.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS is_del
      FROM lineitem l LEFT JOIN del_orders d2 ON l.l_orderkey = d2.o_orderkey
    )
    SELECT entity,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(SUM(is_del) AS BIGINT) AS rows_deleted,
           CAST(COUNT(*) - SUM(is_del) AS BIGINT) AS rows_after
    FROM tagged GROUP BY entity
    """,
    doc="GDPR-style right-to-be-forgotten cascade: a deletion set of "
    "customers propagates through the referential chain customer -> "
    "orders -> lineitem (deleted orders pull their line items), and "
    "the audit reports rows_before / rows_deleted / rows_after per "
    "entity — the compliance evidence a purge job must emit. Plan: the "
    "deletion set (1/13 of customer — SF-proportional, so no forced "
    "hint; AQE broadcasts it while small and shuffle-joins at 100 TB) "
    "and its order closure flow in, each fact table takes ONE left join + "
    "flag, and a single union + groupBy produces the audit — no "
    "cartesians, no second pass per table; the actual purge is the "
    "same joins as anti-joins (operators/joins.anti_join). At 100 TB "
    "table formats turn the anti-join into file-level delete vectors; "
    "the join shape (and this audit) is identical",
)
def cascade_delete_users(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dels = c.filter(F.col("c_custkey") % 13 == 0).select("c_custkey")
    del_orders = o.join(dels, o.o_custkey == dels.c_custkey, "left_semi").select(
        "o_orderkey"
    )
    tagged = (
        c.select(
            F.lit("customer").alias("entity"),
            (F.col("c_custkey") % 13 == 0).cast("int").alias("is_del"),
        )
        .unionByName(
            o.join(dels, o.o_custkey == dels.c_custkey, "left")
            .select(
                F.lit("orders").alias("entity"),
                F.col("c_custkey").isNotNull().cast("int").alias("is_del"),
            )
        )
        .unionByName(
            li.join(
                del_orders,
                li.l_orderkey == del_orders.o_orderkey,
                "left",
            ).select(
                F.lit("lineitem").alias("entity"),
                F.col("o_orderkey").isNotNull().cast("int").alias("is_del"),
            )
        )
    )
    return tagged.groupBy("entity").agg(
        F.count(F.lit(1)).cast("long").alias("rows_before"),
        F.sum("is_del").cast("long").alias("rows_deleted"),
        (F.count(F.lit(1)) - F.sum("is_del")).cast("long").alias("rows_after"),
    )


@query(
    "purchase_asof_tolerance",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT p.event_id, c.event_id AS click_event_id, c.ts AS click_ts,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.ts <= p.ts
        AND c.ts >= p.ts - INTERVAL 1800 SECONDS
    )
    SELECT p.event_id, p.user_id, p.ts,
           CAST(m.click_event_id AS DOUBLE) AS click_event_id, m.click_ts
    FROM p LEFT JOIN (SELECT event_id, click_event_id, click_ts
                      FROM cand WHERE rn = 1) m
      ON p.event_id = m.event_id
    """,
    doc="as-of join WITH TOLERANCE (pandas merge_asof's tolerance, "
    "kdb aj within a window): each purchase takes the latest same-"
    "user click at most 30 minutes old, else NULL — staleness-bounded "
    "enrichment, the variant that matters when 'latest known state' "
    "must also be RECENT (feature freshness). Same single-exchange "
    "union + last_value carry as asof_join (operators/joins.asof_join "
    "tolerance_sec): the carried match timestamp rides along and "
    "stale matches are nulled AFTER the window — zero fan-out even "
    "against dense right sides, unlike the oracle's candidate join "
    "which pays one row per click in the window. Tie order matches "
    "the asof contract: latest ts, then highest event_id",
)
def purchase_asof_tolerance(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = joins.asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["event_id", "ts"],
        prefix="click_",
        right_tiebreak="event_id",
        tolerance_sec=1800,
    )
    # nullable match id as DOUBLE on both engines — see
    # attribution_first_touch's note on sampled-prefix dtype flips
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("click_event_id").cast("double").alias("click_event_id"),
        "click_ts",
    )


@query(
    "attribution_first_touch",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    cand AS (
      SELECT p.event_id, c.event_id AS touch_event_id, c.ts AS touch_ts,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts ASC, c.event_id ASC) AS rn
      FROM p JOIN c ON c.user_id = p.user_id
        AND c.ts <= p.ts
        AND c.ts >= p.ts - INTERVAL 604800 SECONDS
    )
    SELECT p.event_id, p.user_id, p.ts,
           CAST(m.touch_event_id AS DOUBLE) AS touch_event_id, m.touch_ts
    FROM p LEFT JOIN (SELECT event_id, touch_event_id, touch_ts
                      FROM cand WHERE rn = 1) m
      ON p.event_id = m.event_id
    """,
    doc="first-touch attribution: each purchase credited to the "
    "user's EARLIEST view inside a 7-day lookback — the other end of "
    "the as-of family (first-in-window instead of last-before). "
    "Spark plan: the bucketized interval join (operators/joins."
    "range_join — bounded 2-bucket fan-out per purchase regardless of "
    "view density) generates the in-window candidates, a per-purchase "
    "rank window keeps the earliest, and a left join restores "
    "unattributed purchases. All three steps key on user_id/event_id "
    "hash partitions; no cartesian, no unbounded state. The oracle "
    "spells the same semantics as a theta join + QUALIFY-free ranked "
    "subquery, portable to both engines",
)
def attribution_first_touch(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    cand = joins.range_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        lower_s=-604800,
        upper_s=0,
        right_prefix="touch_",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.asc("touch_ts"), F.asc("touch_event_id")
    )
    first = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_id", "touch_event_id", "touch_ts")
    )
    # the nullable match id goes out as DOUBLE on both engines: a
    # nullable int column canonicalizes to float only when the sampled
    # prefix happens to contain a NULL, so int-vs-float could diverge
    # between engines on a 100-row schema probe — a fixed double cannot
    return purchases.join(first, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.col("touch_event_id").cast("double").alias("touch_event_id"),
        "touch_ts",
    )


@query(
    "equi_depth_histogram",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority, o_totalprice,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS bin
      FROM orders
    )
    SELECT o_orderpriority, bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 6) AS lo,
           ROUND(MAX(o_totalprice), 6) AS hi
    FROM b GROUP BY o_orderpriority, bin
    """,
    doc="equi-depth (equi-height) histogram per group: NTILE(4) over "
    "(priority, price) assigns equal-population bins, then one groupBy "
    "emits each bin's population and [lo, hi] value bounds — the "
    "optimizer-statistics histogram build, per group. The window "
    "partitions by o_orderpriority so bin assignment parallelizes "
    "per group; o_orderkey tiebreak makes the equal-value bin "
    "boundary deterministic cross-engine. SCALE CAVEAT (measured, "
    "BENCH_NOTES x100): parallelism is capped at the GROUP COUNT — "
    "exact equal-population binning sorts each group through one "
    "reducer, so 5 priorities = 5 tasks however large the table. The "
    "scale form would take approx_percentile bin EDGES (mergeable GK "
    "partials) + an exact map-side bucket count, both passes "
    "parallelizing with the data; the entry keeps the exact form "
    "because it is what "
    "the oracle gate certifies bit-for-bit. Portable SQL — runs "
    "unmodified on both engines",
)
def equi_depth_histogram(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("bin"),
        )
        .groupBy("o_orderpriority", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
    )


@query(
    "small_file_compaction",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    """,
    doc="lakehouse small-file compaction (io/sinks.compact_parquet — "
    "the OPTIMIZE / rewrite_data_files maintenance job): orders are "
    "first written as a worst-case 64-file micro-batch layout, "
    "compacted into the byte-budgeted file count (sizing reads file "
    "METADATA only, the rewrite is one round-robin repartition, the "
    "swap is rename-based), and the compacted table is read back. "
    "Hash-equality against the plain source SELECT certifies the "
    "maintenance job is lossless; the pytest twin asserts the "
    "file-count collapse and partitioned-layout preservation. At "
    "100 TB this is the job that keeps per-file open/footer overhead "
    "from dominating streaming-ingested tables",
)
def small_file_compaction(spark, sf_dir):
    from ..io import sinks

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    root = _fresh_tmp_root(spark, "cmp", sf_dir)
    d = f"{root}/orders_small"
    o.repartition(64).write.mode("overwrite").parquet(d)
    sinks.compact_parquet(spark, d, target_file_bytes=1 << 30)
    return spark.read.parquet(d).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


@query(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM events
    """,
    doc="streaming ingest dedup under the exact value gate "
    "(streaming/incremental.streaming_dedup -> "
    "dropDuplicatesWithinWatermark): the events feed is written TWICE "
    "(an exactly-duplicated replay, the at-least-once delivery case), "
    "re-read as a file-source stream, deduplicated on event_id with "
    "watermark-bounded state (key state evicts once the watermark "
    "passes it — state is proportional to the dedup horizon, not "
    "stream history), driven to completion with availableNow into a "
    "memory sink. Hash-equality against the plain single-copy SELECT "
    "proves every duplicate died and every original survived the "
    "checkpointed streaming path. The duplicates are byte-identical "
    "rows, so first-arrival-wins semantics cannot leak a different "
    "payload",
)
def streaming_dedup_within_watermark(spark, sf_dir):
    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    root = _fresh_tmp_root(spark, "sdw", sf_dir)
    feed = f"{root}/feed"
    # the replayed feed: two byte-identical copies of every event
    ev.repartition(1).write.mode("overwrite").parquet(feed)
    ev.repartition(1).write.mode("append").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    deduped = incremental.streaming_dedup(
        stream, keys=("event_id",), ts_col="ts", watermark="1 day"
    )
    name = f"sdw_{application_id(spark).replace('-', '_')}"
    out = incremental.run_available_now(
        deduped, name, f"{root}/ckpt", mode="append"
    )
    return out.select("event_id", "user_id", "event_type", "ts", "value")


# ===========================================================================
# Round-7 wave
# ===========================================================================


@query(
    "cohort_retention",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT))
               AS cohort_d
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT e.user_id, f.cohort_d,
             CAST(CAST(e.ts AS DATE) - DATE '1970-01-01' AS BIGINT)
               - f.cohort_d AS period
      FROM events e JOIN f ON e.user_id = f.user_id
    )
    SELECT CAST(cohort_d AS INTEGER) AS cohort_d,
           CAST(period AS INTEGER) AS period,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a WHERE period <= 6
    GROUP BY cohort_d, period
    """,
    doc="cohort retention matrix — the canonical product-analytics "
    "query: each user is assigned to the DAY of their first event "
    "(the cohort), every later active day becomes a (cohort, "
    "days-since-cohort) cell, and the matrix counts distinct users "
    "per cell for periods 0-6. Daily grain because the synthetic "
    "events feed spans exactly one calendar month at every SF — a "
    "monthly matrix would be a degenerate single cell, a vacuously "
    "thin hash gate; days give a real ~30×7 matrix. Day arithmetic "
    "is pure integer (days since epoch: unix_date / date_diff) on "
    "both engines. Plan: ONE wide exchange total. When the feed span "
    "fits 64 days (this feed: ~30), the per-user day set is a long "
    "BITMASK — bit_or+min partials are codegen long aggs, the "
    "exchange carries 16-byte pairs (6x fewer bytes than the "
    "collect_set arrays), and bits rel0..rel0+6 decode periods 0-6 "
    "map-side; wider spans fall back to the collect_set fusion. "
    "Measured lineage at x1000: r7 post-join-distinct 13.4s -> r8 "
    "collect_set 5.85s -> r9 bitmask 5.2s vs DuckDB 0.9s. ACCEPTED "
    "residual (r8 verdict's option b): the plan is provably minimal "
    "— one exchange of 1.5M 16-byte pairs plus two 0.44s scans — "
    "and three shapes (two-level agg, repartition+single-mode, "
    "codegen distinct+join: 12.7-13.1s) measured WORSE; the gap is "
    "DuckDB's in-process radix hash-agg vs Spark's ser/de exchange "
    "on 1.5M groups, an engine constant local mode cannot remove "
    "and a cluster amortizes (the exchange is exactly what "
    "parallelizes at 100 TB). At 100 TB per-user state is 8 bytes, "
    "no skew hotspot — power users cap at one long",
)
def cohort_retention(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_date(F.col("ts").cast("date")).alias("d")
    )
    # Fast path (r9): when the feed's day span fits one 64-bit word,
    # the per-user active-day SET is a long BITMASK — bit_or + min are
    # both plain codegen long aggregations, so the one wide exchange
    # carries 16-byte (mask, min) pairs instead of serialized arrays
    # (6x fewer shuffle bytes) and no ObjectHashAggregate ever runs.
    # Period extraction tests only bits rel0..rel0+6 (periods 0-6) —
    # the rel0+p<=63 guard excludes Java's mod-64 shift wraparound.
    # Cost: one extra map-only min/max pre-scan (0.44s of the 5.2s
    # x1000 total — the control-plane 1-row collect pattern). The
    # span>63 fallback is the collect_set form, correct at any width.
    bounds = ev.agg(F.min("d").alias("g"), F.max("d").alias("mx")).collect()[0]
    if bounds["g"] is not None and bounds["mx"] - bounds["g"] <= 63:
        gmin = int(bounds["g"])
        bm = (
            ev.groupBy("user_id")
            .agg(
                F.bit_or(
                    F.expr(f"shiftleft(1L, cast(d - {gmin} as int))")
                ).alias("mask"),
                F.min("d").alias("c"),
            )
            .withColumn("rel0", (F.col("c") - F.lit(gmin)).cast("int"))
            .withColumn(
                "ps",
                F.expr(
                    "filter(sequence(0, 6), p -> rel0 + p <= 63 "
                    "AND ((mask >> (rel0 + p)) & 1) = 1)"
                ),
            )
        )
        return (
            bm.select(
                F.col("c").cast("int").alias("cohort_d"),
                F.explode("ps").alias("p"),
            )
            .select("cohort_d", F.col("p").cast("int").alias("period"))
            .groupBy("cohort_d", "period")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )
    per_user = ev.groupBy("user_id").agg(F.collect_set("d").alias("ds"))
    return (
        per_user.select(
            F.array_min("ds").alias("c"), F.explode("ds").alias("d")
        )
        .select(
            F.col("c").cast("int").alias("cohort_d"),
            (F.col("d") - F.col("c")).cast("int").alias("period"),
        )
        .filter(F.col("period") <= 6)
        .groupBy("cohort_d", "period")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "rfm_segments",
    oracle="""
    WITH m AS (
      SELECT o_custkey, c_mktsegment,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS freq,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY o_custkey, c_mktsegment
    ),
    s AS (
      SELECT c_mktsegment, monetary,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY last_order, o_custkey) AS r,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY freq, o_custkey) AS f,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY monetary, o_custkey) AS mq
      FROM m
    )
    SELECT c_mktsegment,
           CAST(r * 100 + f * 10 + mq AS INTEGER) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) / COUNT(*) AS avg_monetary
    FROM s GROUP BY c_mktsegment, segment
    """,
    doc="RFM customer segmentation (recency / frequency / monetary "
    "quartile coding, the classic CRM scoring scheme): one pass "
    "builds per-customer last-order date, order count, and exact "
    "DECIMAL spend; three NTILE(4) windows — all PARTITIONed BY "
    "market segment so quartile assignment parallelizes per segment "
    "instead of funneling the table through one sorter — assign the "
    "R/F/M quartiles with o_custkey tie-breaks making equal-value "
    "boundaries deterministic cross-engine; the digit-coded segment "
    "(e.g. 431) is then rolled up to (segment, population, average "
    "spend). avg_monetary is an exact decimal sum divided once — "
    "bit-identical on both engines without rounding. At 100 TB the "
    "base aggregate is customer-sized and each window sorts only its "
    "segment's slice; the true full-scale variant swaps NTILE for "
    "approx_percentile edges (the equi_depth_histogram scale path)",
)
def rfm_segments(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # customer scales WITH the data (not a bounded dimension):
    # no broadcast hint — AQE broadcasts it at bench SF and
    # shuffle-joins it at 100 TB, both correctly
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey", "c_mktsegment")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            # r12: LONG-cents accumulator for the 150M-row agg (the
            # codegen fast path, ~3x the decimal agg), converted to
            # the oracle's DECIMAL(18,2) after — exact under the 2dp
            # per-row contract (weekday_seasonality's argument)
            _sum_i64_checked(
                F.round(F.col("o_totalprice") * 100).cast("long"),
                "rfm_segments[monetary]",
            ).alias("mc"),
        )
        .select(
            "o_custkey",
            "c_mktsegment",
            "last_order",
            "freq",
            (F.col("mc").cast("decimal(20,0)") / 100)
            .cast("decimal(18,2)")
            .alias("monetary"),
        )
    )
    seg = Window.partitionBy("c_mktsegment")
    s = m.select(
        "c_mktsegment",
        "monetary",
        F.ntile(4).over(seg.orderBy("last_order", "o_custkey")).alias("r"),
        F.ntile(4).over(seg.orderBy("freq", "o_custkey")).alias("f"),
        F.ntile(4).over(seg.orderBy("monetary", "o_custkey")).alias("mq"),
    )
    return (
        s.withColumn(
            "segment",
            (F.col("r") * 100 + F.col("f") * 10 + F.col("mq")).cast("int"),
        )
        .groupBy("c_mktsegment", "segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("monetary").cast("double") / F.count(F.lit(1))).alias(
                "avg_monetary"
            ),
        )
    )


@query(
    "basket_item_pairs_lift",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
          FROM op),
    op2 AS (
      SELECT l_orderkey, l_partkey,
             COUNT(*) OVER (PARTITION BY l_partkey) AS part_orders
      FROM op
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             a.part_orders AS pa_orders, b.part_orders AS pb_orders,
             COUNT(*) AS co_orders
      FROM op2 a JOIN op2 b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2, 3, 4
    )
    SELECT part_a, part_b,
           CAST(co_orders AS BIGINT) AS co_orders,
           ROUND(co_orders / n.n_orders, 6) AS support,
           ROUND(co_orders / CAST(pa_orders AS DOUBLE), 6)
             AS confidence,
           ROUND(co_orders * n.n_orders
                 / (pa_orders * CAST(pb_orders AS DOUBLE)), 6)
             AS lift
    FROM pairs CROSS JOIN n
    WHERE co_orders >= 2
    """,
    doc="market-basket association mining — pairwise co-occurrence "
    "with support / confidence / lift, the Apriori first round: "
    "distinct (order, part) pairs self-join WITHIN each order "
    "(a.part < b.part halves the pair space and kills self-pairs), "
    "co-occurrence counts filter at min-support 2, and lift "
    "normalizes by both parts' independent order frequencies. The "
    "self-join is an equi-join on l_orderkey, so pair generation is "
    "co-partitioned — the blowup is sum(k_i^2)/2 bounded by basket "
    "size k (TPC-H baskets are <=7 lines), NEVER all-pairs across "
    "orders; part frequencies broadcast to the lift join. All three "
    "ratios are single IEEE divisions of identical integer-valued "
    "operands, rounded 6dp. At 100 TB: per-basket quadratic cost is "
    "the algorithm's intrinsic floor, the shuffle keys (orderkey, "
    "then the pair) are high-cardinality and unskewed, and min-"
    "support pre-filtering at the pair aggregate keeps the output "
    "a tail-cut of the pair space. The ORACLE carries each part's "
    "order frequency on the op rows via a window (rather than "
    "joining a frequency relation twice): measured at x10, DuckDB's "
    "join-order optimizer cross-producted the two frequency "
    "relations (20k x 20k rows) behind a misestimated pair "
    "cardinality — 25+ minutes single-threaded; the window form "
    "pins a linear plan on both engines. The Spark implementation "
    "keeps the broadcast frequency joins — explicit broadcast hints "
    "make the join order non-negotiable there",
)
def basket_item_pairs_lift(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.select(
        F.countDistinct("l_orderkey").cast("double").alias("n_orders")
    )
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("part_orders"))
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_orders"))
        .filter(F.col("co_orders") >= 2)
    )
    return (
        # part frequencies scale with the catalog — measured at
        # x1000, force-broadcasting the 2M-row pc relation stalled
        # executor GC; hint-free, AQE broadcasts while it fits and
        # shuffle-joins beyond
        pairs.join(
            pc.withColumnRenamed("part_orders", "pa_orders"),
            pairs.part_a == F.col("l_partkey"),
        )
        .drop("l_partkey")
        .join(
            pc.withColumnRenamed("part_orders", "pb_orders"),
            F.col("part_b") == F.col("l_partkey"),
        )
        .drop("l_partkey")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("co_orders").cast("long").alias("co_orders"),
            F.round(F.col("co_orders") / F.col("n_orders"), 6).alias("support"),
            F.round(
                F.col("co_orders") / F.col("pa_orders").cast("double"), 6
            ).alias("confidence"),
            F.round(
                F.col("co_orders")
                * F.col("n_orders")
                / (F.col("pa_orders") * F.col("pb_orders").cast("double")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "ewma_daily_revenue",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT a.day,
           (CAST(SUM(b.rev_cents
                     * CAST(POWER(2, 20 - CAST(a.day - b.day AS BIGINT))
                            AS BIGINT)) AS DOUBLE)
            / CAST(SUM(CAST(POWER(2, 20 - CAST(a.day - b.day AS BIGINT))
                            AS BIGINT)) AS DOUBLE)) / 100.0 AS ewma_rev
    FROM d a JOIN d b
      ON b.day BETWEEN a.day - INTERVAL 20 DAY AND a.day
    GROUP BY a.day
    """,
    doc="exponentially weighted moving average of daily revenue "
    "(alpha=0.5, normalized pandas ewm(adjust=True) semantics, "
    "horizon truncated at 21 days where the weight has decayed to "
    "2^-20 ~ 1e-6): the EWMA is computed in EXACT integer "
    "arithmetic — revenue in cents times the power-of-two weight "
    "2^(20-lag) sums as BIGINT with zero float rounding, and the "
    "single num/den double division at the end is bit-identical "
    "cross-engine, so the result ships UNROUNDED where a naive "
    "float POWER(0.5,k) formulation would be at the mercy of libm "
    "pow and summation order. The 21-day banded self-join over the "
    "days relation (dates-sized, not orders-sized) is the standard "
    "bounded-interval join; Spark executes it as a broadcast range "
    "join on the tiny spine. At 100 TB the daily rollup is the only "
    "full scan; headroom is explicit — max daily cents * 2^20 * 21 "
    "must fit BIGINT, true through ~400x the sf1 revenue density",
)
def ewma_daily_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            _sum_i64_checked(F.round(F.col("o_totalprice") * 100).cast("long"), "ewma_daily_revenue[rev_cents]")
            .cast("long")
            .alias("rev_cents")
        )
    )
    a = d.alias("a")
    b = d.alias("b")
    lag = F.datediff(F.col("a.day"), F.col("b.day"))
    w = F.pow(F.lit(2.0), F.lit(20) - lag).cast("long")
    return (
        a.join(
            F.broadcast(b),
            (F.col("b.day") >= F.date_sub(F.col("a.day"), 20))
            & (F.col("b.day") <= F.col("a.day")),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            (
                (
                    # DECIMAL weighted sum (r12 overflow-class sweep):
                    # day_cents*2^20 wraps int64 near 9e12 day-cents
                    # — the per-row PRODUCT, which try_sum cannot
                    # catch; decimal(18)*long -> decimal(38,0) keeps
                    # both product and sum exact to 1e38, and the
                    # final double cast is value-identical below 2^53
                    F.sum(F.col("b.rev_cents").cast("decimal(18,0)") * w).cast("double")
                    / F.sum(w).cast("double")
                )
                / F.lit(100.0)
            ).alias("ewma_rev")
        )
    )


@query(
    "running_balance_resets",
    oracle="""
    WITH seg AS (
      SELECT user_id, value, event_type,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM events
    )
    SELECT user_id,
           CAST(seg_id AS INTEGER) AS seg_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(COALESCE(SUM(CASE WHEN event_type <> 'purchase'
                                   THEN value END), 0), 6) AS balance
    FROM seg GROUP BY user_id, seg_id
    """,
    doc="conditional cumulative sum with resets — the running-"
    "balance / counter-reset pattern (inventory drawdowns, session "
    "budgets, billing cycles): a cumulative count of 'purchase' "
    "marker rows over (user, ts, event_id) order assigns each event "
    "to a reset segment (the classic gaps-and-islands segment-id "
    "trick, same machinery as sessionization but keyed on a "
    "PREDICATE rather than a time gap — the marker row closes its "
    "own segment), then one groupBy emits each segment's event "
    "count and accumulated non-marker balance. One window exchange "
    "on user_id, one aggregate on (user, seg) — both hash-partition "
    "on user_id so AQE coalesces them into one effective shuffle. "
    "At 100 TB the window partitions by user (millions of "
    "independent sorts) and state per user is a single counter; "
    "output is markers-sized, not events-sized",
)
def running_balance_resets(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = ev.withColumn(
        "seg_id",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(w),
    )
    return (
        seg.groupBy("user_id", F.col("seg_id").cast("int").alias("seg_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(F.col("event_type") != "purchase", F.col("value"))
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("balance"),
        )
    )


@query(
    "sliding_distinct_users",
    oracle="""
    WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    ue AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
    SELECT a.day, CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS users_7d
    FROM d a JOIN ue b
      ON b.day BETWEEN a.day - INTERVAL 6 DAY AND a.day
    GROUP BY a.day
    """,
    doc="exact sliding-window distinct count — trailing-7-day active "
    "users per day, the metric sliding windows can't fold because "
    "COUNT(DISTINCT) is not subtractable. The oracle states it as a "
    "range self-join; the Spark plan is a SWEEP LINE: each user's "
    "active days merge into islands (gaps <=6 days — whose 7-day "
    "coverages are provably contiguous, and islands >6 apart cover "
    "disjoint ranges, so per-user coverage needs zero dedup), every "
    "island emits +1/-1 boundary deltas, and one prefix sum over "
    "the CALENDAR-bounded day spine reads off the answer. Three "
    "data-sized equi-shuffles + a thousands-of-rows ordered window; "
    "no fan-out, no countDistinct. Measured (BENCH_NOTES x1000): "
    "the first-cut explode-x7 + countDistinct form shuffled 700M "
    "fanned rows (113s); the sweep line runs 12s — ahead of "
    "DuckDB's IEJoin (14.6s) at the deepest decade. The HLL-sketch "
    "variant (hll_user_reach) is the approximate cousin; this one "
    "is the exact bar",
)
def sliding_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    ue = ev.distinct()
    days = ev.select("day").distinct()
    # sweep-line plan (measured x1000: the naive explode-x7 +
    # countDistinct form shuffled 700M fanned rows, 113s vs DuckDB's
    # 15s IEJoin; this form is 3 data-sized shuffles + one
    # calendar-bounded prefix sum):
    # 1. merge each user's active days into islands — consecutive
    #    days <=6 apart — because a user active on days a..b with all
    #    gaps <=6 covers report days [a, b+6] CONTIGUOUSLY, and
    #    islands >6 apart cover disjoint ranges, so per-user coverage
    #    needs no dedup at all;
    w = Window.partitionBy("user_id").orderBy("day")
    islands = (
        ue.withColumn(
            "new_island",
            F.when(
                F.datediff(F.col("day"), F.lag("day").over(w)) > 6, 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "island")
        .agg(F.min("day").alias("a"), F.max("day").alias("b"))
    )
    # 2. each island becomes two sweep deltas: +1 when its coverage
    #    starts, -1 the day after it ends;
    deltas = islands.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("day"), F.lit(1).alias("d")),
                F.struct(
                    F.date_add(F.col("b"), 7).alias("day"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("x")
    ).select("x.day", "x.d")
    # 3. prefix-sum the per-day delta totals over the day spine
    #    (calendar-bounded — thousands of rows at ANY data scale, so
    #    the single-partition ordered window is safe), carrying the
    #    observed days along at delta 0 so the running count is
    #    evaluated at every report day.
    daily = (
        deltas.unionByName(
            days.select("day", F.lit(0).alias("d"))
        )
        .groupBy("day")
        .agg(F.sum("d").alias("d"))
    )
    cum = daily.withColumn(
        "users_7d",
        F.sum("d")
        .over(
            Window.partitionBy(F.lit(1))
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long"),
    )
    return cum.join(days, "day", "left_semi").select("day", "users_7d")


@query(
    "segment_spend_correlation",
    oracle="""
    WITH s AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS spend
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_mktsegment, c_acctbal
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CORR(c_acctbal, spend), 6) AS corr_bal_spend,
           ROUND(COVAR_SAMP(c_acctbal, spend) / 1000000.0, 6)
             AS covar_bal_spend_m,
           ROUND(COVAR_POP(c_acctbal, spend) / VAR_POP(c_acctbal), 6)
             AS slope_spend_per_bal
    FROM s GROUP BY c_mktsegment
    """,
    doc="grouped bivariate statistics — Pearson correlation, sample "
    "covariance, and the OLS regression slope (stated as "
    "covar_pop/var_pop, the portable regr_slope) of customer spend "
    "against account balance per market segment. Spark's CORR / "
    "COVAR_SAMP / VAR_POP are single-pass mergeable co-moment "
    "aggregates (Welford-style partials combined associatively), so "
    "the whole statistic is one partial-aggregate shuffle of 5 "
    "groups x 6 moments — the textbook map-side-combine shape that "
    "is flat in executor count at 100 TB. Cross-engine the co-"
    "moment accumulation order differs, so all three statistics "
    "round 6dp per the float policy — the covariance additionally "
    "reports in MILLIONS because its raw ~1e9 magnitude leaves "
    "fewer absolute digits than double noise under a fixed-decimal "
    "round (measured: last-microdigit flips at 6dp unscaled); the "
    "per-customer spend input is an exact DECIMAL sum cast once to "
    "double",
)
def segment_spend_correlation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    # customer is data-scaled — hint-free join, AQE decides
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        )
    )
    return s.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.corr("c_acctbal", "spend"), 6).alias("corr_bal_spend"),
        F.round(F.covar_samp("c_acctbal", "spend") / 1e6, 6).alias(
            "covar_bal_spend_m"
        ),
        F.round(
            F.covar_pop("c_acctbal", "spend") / F.var_pop("c_acctbal"), 6
        ).alias("slope_spend_per_bal"),
    )


@query(
    "ratio_to_parent_revenue",
    oracle="""
    WITH nr AS (
      SELECT r_name, n_name,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE)
             AS share_of_region,
           CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE)
             / CAST(SUM(rev) OVER () AS DOUBLE)
             AS region_share_of_total
    FROM nr
    """,
    doc="ratio-to-parent reporting — each nation's revenue share of "
    "its region and each region's share of the grand total, the "
    "drill-down normalization every BI rollup renders: one star-"
    "join aggregate to nation grain (true dims nation/region "
    "broadcast; the data-scaled customer side is LEFT TO AQE, which "
    "broadcasts it while small and shuffle-joins at scale — the "
    "only plan that survives 100 TB, per the BENCH_NOTES broadcast-"
    "hint audit), then two "
    "window sums over the ALREADY-AGGREGATED 25-row relation supply "
    "the parent denominators — the unpartitioned total window is "
    "bounded by the dimension cardinality, never the fact table, "
    "which is what makes ratio-to-parent safe at 100 TB (the "
    "anti-pattern is windowing the fact rows). All sums are exact "
    "DECIMAL; each share is one double division of identical "
    "operands — bit-identical cross-engine, shipped unrounded",
)
def ratio_to_parent_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nr = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w_region = Window.partitionBy("r_name")
    # constant partition key instead of an empty spec: identical
    # single-partition execution over this 25-row aggregate, but it
    # doesn't trip WindowExec's "no partition defined" warning — which
    # pattern-matches a real scale-killer and would pollute bench logs
    w_all = Window.partitionBy(F.lit(1))
    return nr.select(
        "r_name",
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(w_region).cast("double")
        ).alias("share_of_region"),
        (
            F.sum("rev").over(w_region).cast("double")
            / F.sum("rev").over(w_all).cast("double")
        ).alias("region_share_of_total"),
    )


@query(
    "chi_square_priority_status",
    oracle="""
    WITH ct AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS big_n,
                   COUNT(DISTINCT p) AS nr, COUNT(DISTINCT s) AS nc
            FROM ct),
    r AS (SELECT p, SUM(n) AS rn FROM ct GROUP BY p),
    c AS (SELECT s, SUM(n) AS cn FROM ct GROUP BY s)
    SELECT ROUND(SUM((ct.n - r.rn * c.cn / tot.big_n)
                     * (ct.n - r.rn * c.cn / tot.big_n)
                     / (r.rn * c.cn / tot.big_n)), 6) AS chi2,
           CAST(MAX((tot.nr - 1) * (tot.nc - 1)) AS BIGINT) AS dof
    FROM ct JOIN r ON ct.p = r.p JOIN c ON ct.s = c.s CROSS JOIN tot
    """,
    doc="chi-square test of independence over the priority x status "
    "contingency table — the categorical-association statistic a "
    "data-profiling pass computes for every column pair: observed "
    "cell counts vs the independence expectation rn*cn/N, summed as "
    "(O-E)^2/E, plus the (r-1)(c-1) degrees of freedom for the "
    "caller's p-value lookup. The contingency table is ONE "
    "aggregate over the fact table; everything after operates on "
    "the <=15-cell relation (margins re-aggregate it, the final "
    "sum crosses with a 1-row totals relation — all broadcast-"
    "bounded). Cell counts and margins are exact integers; the "
    "statistic rounds 6dp to absorb the <=15-term double summation "
    "order. The 100 TB cost is exactly one groupBy of the scan",
)
def chi_square_priority_status(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # r12 re-plan (x1000 ladder): ct is referenced by FOUR branches
    # (tot, row marginals, col marginals, the scored join) and
    # Catalyst re-derives the groupBy subtree for each — four full
    # orders scans for a 15-row contingency table. localCheckpoint
    # materializes it once; everything downstream is 15-row
    # arithmetic.
    ct = (
        o.groupBy(
            F.col("o_orderpriority").alias("p"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    tot = ct.agg(
        F.sum("n").cast("double").alias("big_n"),
        F.countDistinct("p").alias("nr"),
        F.countDistinct("s").alias("nc"),
    )
    r = ct.groupBy("p").agg(F.sum("n").alias("rn"))
    c = ct.groupBy("s").agg(F.sum("n").alias("cn"))
    e = F.col("rn") * F.col("cn") / F.col("big_n")
    return (
        ct.join(F.broadcast(r), "p")
        .join(F.broadcast(c), "s")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((F.col("n") - e) * (F.col("n") - e) / e), 6).alias(
                "chi2"
            ),
            F.max((F.col("nr") - 1) * (F.col("nc") - 1))
            .cast("long")
            .alias("dof"),
        )
    )


@query(
    "pagerank_trade_graph",
    oracle="""
    WITH e AS (
      SELECT sn.n_nationkey AS src, cn.n_nationkey AS dst,
             CAST(COUNT(*) AS DOUBLE) AS w
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      GROUP BY 1, 2
    ),
    ew AS (
      SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p
      FROM e
    ),
    nodes AS (SELECT n_nationkey AS id FROM nation),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    srcs AS (SELECT DISTINCT src FROM e),
    p0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    d0 AS (SELECT COALESCE(SUM(pr), 0) AS dang FROM p0
           WHERE id NOT IN (SELECT src FROM srcs)),
    p1 AS (
      SELECT nodes.id,
             0.15 / nn.n
             + 0.85 * (COALESCE(SUM(p0.pr * ew.p), 0) + d0.dang / nn.n) AS pr
      FROM nodes CROSS JOIN nn CROSS JOIN d0
      LEFT JOIN ew ON ew.dst = nodes.id
      LEFT JOIN p0 ON p0.id = ew.src
      GROUP BY nodes.id, nn.n, d0.dang
    ),
    d1 AS (SELECT COALESCE(SUM(pr), 0) AS dang FROM p1
           WHERE id NOT IN (SELECT src FROM srcs)),
    p2 AS (
      SELECT nodes.id,
             0.15 / nn.n
             + 0.85 * (COALESCE(SUM(p1.pr * ew.p), 0) + d1.dang / nn.n) AS pr
      FROM nodes CROSS JOIN nn CROSS JOIN d1
      LEFT JOIN ew ON ew.dst = nodes.id
      LEFT JOIN p1 ON p1.id = ew.src
      GROUP BY nodes.id, nn.n, d1.dang
    ),
    d2 AS (SELECT COALESCE(SUM(pr), 0) AS dang FROM p2
           WHERE id NOT IN (SELECT src FROM srcs)),
    p3 AS (
      SELECT nodes.id,
             0.15 / nn.n
             + 0.85 * (COALESCE(SUM(p2.pr * ew.p), 0) + d2.dang / nn.n) AS pr
      FROM nodes CROSS JOIN nn CROSS JOIN d2
      LEFT JOIN ew ON ew.dst = nodes.id
      LEFT JOIN p2 ON p2.id = ew.src
      GROUP BY nodes.id, nn.n, d2.dang
    )
    SELECT CAST(id AS INTEGER) AS id, ROUND(pr, 6) AS pagerank
    FROM p3
    """,
    doc="weighted PageRank over the nation-level trade graph "
    "(supplier nation -> customer nation, edge weight = shipped "
    "line count), damping 0.85, THREE fixed power iterations from "
    "the uniform vector — the iterative-graph-algorithm pattern "
    "(label propagation, HITS, SimRank run the same loop): the "
    "Spark side builds the edge relation once (star joins, dims "
    "broadcast), row-normalizes out-weights with one window, then a "
    "driver-side Python loop UNROLLS the iterations into a single "
    "lazy plan of join+aggregate rounds — no action inside the "
    "loop, so Catalyst sees the whole 3-step dataflow (the oracle "
    "unrolls identically as chained CTEs). Rank mass arriving at a "
    "node sums <=25 doubles, so 6dp rounding only on the final "
    "emit. At 100 TB the edge build dominates (one fact-table "
    "aggregate); each iteration shuffles the EDGE relation by src "
    "then dst — graph-sized, not fact-sized — and the pattern "
    "extends to billion-edge graphs where pregel-style frameworks "
    "run this exact join-agg loop per superstep. Dangling nodes "
    "(nations that never ship — they DO exist at small SF) are "
    "handled the standard way: their rank mass redistributes "
    "uniformly each iteration, so total mass is conserved at "
    "exactly 1.0 — property-tested, not assumed",
)
def pagerank_trade_graph(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = _t(spark, sf_dir, "nation").select("n_nationkey")

    # supplier/customer scale with the data — hint-free star
    # joins (AQE broadcasts them while small); only the 1-row
    # count/dangling relations keep explicit hints below
    e = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    # materialize the edge relation ONCE before iterating — the
    # pregel-superstep discipline: without this, every unrolled
    # iteration re-derives the edges from the fact table (the audited
    # plan re-ran the 4-table star join 3x); with it, the fact scan
    # happens exactly once and each superstep shuffles only the
    # graph-sized edge list. At 100 TB this materialization is the
    # difference between 1 and N_iter fact scans.
    root = _fresh_tmp_root(spark, "pgr", sf_dir)
    e.write.mode("overwrite").parquet(f"{root}/edges")
    e = spark.read.parquet(f"{root}/edges")
    ew = e.select(
        "src",
        "dst",
        (F.col("w") / F.sum("w").over(Window.partitionBy("src"))).alias("p"),
    )
    nodes = na.select(F.col("n_nationkey").alias("id"))
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    srcs = e.select("src").distinct()

    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        # dangling (no-out-edge) mass redistributes uniformly — the
        # standard correction that keeps total rank mass at exactly 1
        dang = (
            pr.join(srcs, pr.id == srcs.src, "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang"))
        )
        contrib = ew.join(
            pr.withColumnRenamed("id", "src_id"),
            F.col("src") == F.col("src_id"),
        ).select("dst", (F.col("pr") * F.col("p")).alias("c"))
        pr = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .groupBy("id")
            .agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("mass"))
            .crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85)
                    * (F.col("mass") + F.col("dang") / F.col("n"))
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("id").cast("int").alias("id"), F.round("pr", 6).alias("pagerank")
    )


@query(
    "dq_expectations_report",
    oracle="""
    SELECT 'orders.o_custkey.not_null' AS check_name,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS violations,
           CAST(COUNT(*) AS BIGINT) AS checked
    FROM orders
    UNION ALL
    SELECT 'orders.o_totalprice.positive',
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderkey.unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.o_orderstatus.in_set',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.l_discount.in_range',
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_orderkey.ref_orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_orderkey = l.l_orderkey)),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    """,
    doc="declarative data-quality expectation suite — the "
    "Deequ/Great-Expectations contract check that gates every "
    "production table publish: six named expectations (non-null "
    "key, positive amount, primary-key uniqueness, enum membership, "
    "numeric range, referential integrity lineitem->orders) each "
    "emit (check_name, violations, checked). The Spark plan "
    "computes ALL per-table checks in ONE aggregate pass per table "
    "— four orders checks share a single scan (count, conditional "
    "sums, count-distinct in one agg), two lineitem checks share "
    "another plus one broadcast anti-join for the foreign key — "
    "then unpivots the 1-row check vectors into the report rows "
    "with stack(). That one-scan-per-table shape is the whole "
    "game at 100 TB: a naive per-check loop re-reads the table "
    "N_checks times; this reads it once. The oracle states each "
    "check independently (DuckDB folds the six scans itself)",
)
def dq_expectations_report(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    # the uniqueness check runs as its own keyed two-stage aggregate
    # (groupBy key, then sum(n)-count(keys)) instead of a
    # countDistinct inside the shared agg: a multi-aggregate with a
    # DISTINCT member plans an Expand that replicates every scan row
    # per grouping (measured at x100: 9.4s -> the dominant cost);
    # keyed pre-aggregation is one parallel shuffle on the
    # high-cardinality key and the other checks keep their single
    # scan-level agg
    o_uniq = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg((F.sum("c") - F.count(F.lit(1))).alias("v_uniq"))
    )
    o_checks = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("v_null"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("v_pos"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("v_enum"),
    ).crossJoin(F.broadcast(o_uniq))
    orders_report = o_checks.selectExpr(
        "stack(4, "
        "'orders.o_custkey.not_null', v_null, "
        "'orders.o_totalprice.positive', v_pos, "
        "'orders.o_orderkey.unique', v_uniq, "
        "'orders.o_orderstatus.in_set', v_enum"
        ") AS (check_name, violations)",
        "n AS checked",
    )

    li_checks = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
            .otherwise(0)
        ).alias("v_range"),
    )
    # the orders key set is fact-scaled — a forced broadcast dies
    # at 100 TB; the shuffled left-anti is the honest plan (AQE
    # still broadcasts it at bench SF)
    orphans = (
        li.join(
            o.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v_ref"))
    )
    li_report = li_checks.crossJoin(F.broadcast(orphans)).selectExpr(
        "stack(2, "
        "'lineitem.l_discount.in_range', v_range, "
        "'lineitem.l_orderkey.ref_orders', v_ref"
        ") AS (check_name, violations)",
        "n AS checked",
    )

    return orders_report.unionByName(li_report).select(
        "check_name",
        F.col("violations").cast("long").alias("violations"),
        F.col("checked").cast("long").alias("checked"),
    )


@query(
    "order_status_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT o_orderstatus AS from_status,
             LEAD(o_orderstatus) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS to_status
      FROM orders
    ),
    t AS (
      SELECT from_status, to_status, COUNT(*) AS n
      FROM seq WHERE to_status IS NOT NULL
      GROUP BY from_status, to_status
    )
    SELECT from_status, to_status,
           CAST(n AS BIGINT) AS n,
           n / CAST(SUM(n) OVER (PARTITION BY from_status) AS DOUBLE) AS p
    FROM t
    """,
    doc="first-order Markov transition matrix over per-customer order "
    "status sequences — the sequence-mining primitive behind "
    "funnel-drop and state-machine analyses: LEAD pairs each order "
    "with the same customer's next order (deterministic "
    "(o_orderdate, o_orderkey) order), pair counts aggregate to the "
    "|S|x|S| matrix, and row-normalization to transition "
    "probabilities happens with a window over the <=9-row matrix "
    "itself — never the fact rows. One window exchange on "
    "o_custkey, one aggregate; p is an integer-ratio single "
    "division, bit-identical cross-engine, shipped unrounded. At "
    "100 TB the lead window partitions by customer (millions of "
    "tiny independent sorts — the scalable window shape) and the "
    "matrix is dimension-sized regardless of fact volume. Portable "
    "SQL — runs unmodified on both engines",
)
def order_status_transition_matrix(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.col("o_orderstatus").alias("from_status"),
        F.lead("o_orderstatus").over(w).alias("to_status"),
    ).filter(F.col("to_status").isNotNull())
    t = seq.groupBy("from_status", "to_status").agg(
        F.count(F.lit(1)).alias("n")
    )
    return t.select(
        "from_status",
        "to_status",
        F.col("n").cast("long").alias("n"),
        (
            F.col("n")
            / F.sum("n").over(Window.partitionBy("from_status")).cast("double")
        ).alias("p"),
    )


@query(
    "weekday_seasonality_profile",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    wd AS (
      SELECT CASE SUBSTR(DAYNAME(day), 1, 3)
               WHEN 'Mon' THEN 1 WHEN 'Tue' THEN 2 WHEN 'Wed' THEN 3
               WHEN 'Thu' THEN 4 WHEN 'Fri' THEN 5 WHEN 'Sat' THEN 6
               ELSE 7 END AS iso_dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(rev) AS tot
      FROM d GROUP BY 1
    ),
    o AS (SELECT SUM(tot) AS g_tot, SUM(n_days) AS g_days FROM wd)
    SELECT iso_dow, n_days,
           CAST(wd.tot AS DOUBLE) / n_days AS avg_daily_rev,
           (CAST(wd.tot AS DOUBLE) / n_days)
             / (CAST(o.g_tot AS DOUBLE) / o.g_days) AS seasonality_idx
    FROM wd CROSS JOIN o
    """,
    doc="weekday seasonality profile — average daily revenue per ISO "
    "weekday (1=Monday..7=Sunday) and each weekday's index against "
    "the all-days average, the demand-shape diagnostic behind "
    "staffing and forecast-degrouping: one daily rollup (the only "
    "fact scan — r12 re-plan: LONG-cents accumulator converted to "
    "DECIMAL(18,2) after the rollup, exact under the 2dp per-row "
    "contract, and the 7-row weekday table localCheckpoint'ed so the "
    "grand-total branch does not re-run the scan), a 7-row weekday "
    "aggregate, and a 1-row grand-total cross. Downstream sums exact "
    "DECIMAL; each average and the index are "
    "single/chained IEEE divisions of identical operands — "
    "bit-identical cross-engine, unrounded. Spark spells the ISO "
    "weekday as weekday()+1 (0=Monday + 1); the oracle derives the "
    "same integer from SUBSTR(DAYNAME(day),1,3) — probed as the ONE "
    "weekday spelling both engines share (raw DOW/DAYOFWEEK origins "
    "genuinely differ: Spark Sunday=1, DuckDB Sunday=0; DuckDB "
    "dayname says 'Monday', Spark 'Mon' — the 3-char prefix agrees), "
    "which is what makes this oracle dual-SQL-runnable. At 100 TB "
    "cost is one groupBy of the scan; everything after is "
    "7-row-bounded",
)
def weekday_seasonality_profile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # r12 re-plan (x1000 ladder found 12.6x behind): (a) the 150M-row
    # day rollup accumulates LONG cents (codegen, ~3x the decimal
    # agg's speed) and converts to DECIMAL(18,2) after — exact, the
    # per-row 2dp contract makes round(p*100) == CAST(p AS DEC(18,2))
    # *100; (b) the 7-row weekday table is localCheckpoint'ed so the
    # grand-total branch and the final projection don't each re-run
    # the full orders scan (Catalyst re-derives unhinted subtrees —
    # the chi-square/LM-table materialization discipline).
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        _sum_i64_checked(
            F.round(F.col("o_totalprice") * 100).cast("long"),
            "weekday_seasonality_profile[rev]",
        ).alias("c")
    ).select(
        "day",
        (F.col("c").cast("decimal(20,0)") / 100)
        .cast("decimal(18,2)")
        .alias("rev"),
    )
    wd = (
        d.groupBy((F.weekday("day") + 1).cast("int").alias("iso_dow"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("rev").alias("tot"),
        )
        .localCheckpoint()
    )
    g = wd.agg(
        F.sum("tot").alias("g_tot"), F.sum("n_days").alias("g_days")
    )
    return wd.crossJoin(F.broadcast(g)).select(
        "iso_dow",
        "n_days",
        (F.col("tot").cast("double") / F.col("n_days")).alias("avg_daily_rev"),
        (
            (F.col("tot").cast("double") / F.col("n_days"))
            / (F.col("g_tot").cast("double") / F.col("g_days"))
        ).alias("seasonality_idx"),
    )


@query(
    "seasonal_outlier_days",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT SUBSTR(DAYNAME(day), 1, 3) AS dow3,
             AVG(rev) AS mu, STDDEV_SAMP(rev) AS sigma
      FROM d GROUP BY 1
    )
    SELECT d.day, ROUND(d.rev, 2) AS rev,
           ROUND((d.rev - s.mu) / s.sigma, 6) AS z
    FROM d JOIN s ON SUBSTR(DAYNAME(d.day), 1, 3) = s.dow3
    WHERE ABS((d.rev - s.mu) / s.sigma) > 2
    """,
    doc="seasonality-adjusted anomaly screen — daily revenue scored "
    "against ITS WEEKDAY's mean and standard deviation (a Monday is "
    "only anomalous relative to Mondays), flagging |z| > 2 days: "
    "the de-seasonalized outlier detector that naive global z-"
    "scores get wrong whenever the metric has a weekly shape. One "
    "daily rollup (exact cent arithmetic so both engines score the "
    "identical revenue), a 7-row weekday-moments aggregate joined "
    "back broadcast, and a filter. The z-scores round 6dp (their "
    "~1-unit magnitude absorbs co-moment summation-order noise); "
    "the |z|>2 cut operates on continuous-valued data far from any "
    "representability boundary. At 100 TB: one groupBy of the scan, "
    "then day-spine-sized everything; the weekday moments relation "
    "is 7 rows forever",
)
def seasonal_outlier_days(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (
            _sum_i64_checked(F.round(F.col("o_totalprice") * 100).cast("long"), "seasonal_outlier_days[day_revenue]").cast(
                "double"
            )
            / 100.0
        ).alias("rev")
    )
    d = d.withColumn("iso_dow", (F.weekday("day") + 1).cast("int"))
    s = d.groupBy("iso_dow").agg(
        F.avg("rev").alias("mu"), F.stddev_samp("rev").alias("sigma")
    )
    z = (F.col("rev") - F.col("mu")) / F.col("sigma")
    return (
        d.join(F.broadcast(s), "iso_dow")
        .filter(F.abs(z) > 2)
        .select("day", F.round("rev", 2).alias("rev"), F.round(z, 6).alias("z"))
    )


@query(
    "time_to_convert_stats",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id
    ),
    gaps AS (
      SELECT user_id,
             CAST(EPOCH_US(first_purchase) - EPOCH_US(first_signup)
                  AS BIGINT) AS gap_us
      FROM firsts
      WHERE first_signup IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_signup
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us), 6)
             AS median_gap_us,
           ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_us), 6)
             AS p90_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps
    """,
    doc="time-to-convert latency distribution — per user, the gap "
    "between FIRST signup and FIRST purchase (conversions only, "
    "purchase-after-signup), summarized as exact order statistics "
    "(min / interpolated median / p90 / max over microsecond-"
    "integer gaps): the activation-latency metric growth teams "
    "track beside the conversion_funnel entry's stage counts. One "
    "conditional-min aggregate per user (single groupBy of the "
    "scan — no join between the stage streams), then one global "
    "aggregate over the users-sized gap relation. Spark's "
    "percentile() and DuckDB's MEDIAN/QUANTILE_CONT both linearly "
    "interpolate over integer inputs, rounded 6dp. At 100 TB the "
    "exact global percentile is the one sort-bound stage — "
    "approx_percentile (approx_order_percentiles entry) is the "
    "documented scale path when the gap relation outgrows a sort",
)
def time_to_convert_stats(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    gaps = firsts.filter(
        F.col("first_signup").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_signup"))
    ).select(
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_signup")
        ).alias("gap_us")
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.round(F.expr("percentile(gap_us, 0.5)"), 6).alias("median_gap_us"),
        F.round(F.expr("percentile(gap_us, 0.9)"), 6).alias("p90_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


@query(
    "clean_conversion_pattern",
    oracle="""
    WITH w AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS s,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id) AS p
      FROM events
    )
    SELECT user_id,
           CAST(MIN(s) AS DATE) AS signup_day,
           CAST(MIN(p) AS DATE) AS purchase_day
    FROM w
    WHERE s IS NOT NULL AND p IS NOT NULL
      AND p >= s AND p <= s + INTERVAL 7 DAY
    GROUP BY user_id
    HAVING SUM(CASE WHEN event_type = 'error' AND ts > s AND ts < p
               THEN 1 ELSE 0 END) = 0
    """,
    doc="complex-event pattern detection — 'A then B within T with "
    "no C between': users whose FIRST purchase follows their FIRST "
    "signup within 7 days with zero error events strictly between "
    "the two timestamps (the MATCH_RECOGNIZE-lite shape behind "
    "clean-activation funnels, fraud sequences, SLA breaches). The "
    "plan is deliberately JOIN-FREE: two per-user MIN windows pin "
    "the anchor timestamps onto every event row, a row-level filter "
    "keeps only pattern-window users, and the guard condition "
    "folds into a HAVING over a conditional sum — one window "
    "exchange on user_id plus a same-key aggregate that AQE "
    "coalesces into the same shuffle, versus the naive 3-way self-"
    "join of the A/B/C streams. At 100 TB the state per user is two "
    "timestamps and a counter; no pairwise blowup exists anywhere. "
    "Portable SQL — runs unmodified on both engines",
)
def clean_conversion_pattern(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = Window.partitionBy("user_id")
    w = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        .over(per_user)
        .alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .over(per_user)
        .alias("p"),
    )
    matched = w.filter(
        F.col("s").isNotNull()
        & F.col("p").isNotNull()
        & (F.col("p") >= F.col("s"))
        & (F.col("p") <= F.col("s") + F.expr("INTERVAL 7 DAY"))
    )
    return (
        matched.groupBy("user_id")
        .agg(
            F.min("s").cast("date").alias("signup_day"),
            F.min("p").cast("date").alias("purchase_day"),
            F.sum(
                F.when(
                    (F.col("event_type") == "error")
                    & (F.col("ts") > F.col("s"))
                    & (F.col("ts") < F.col("p")),
                    1,
                ).otherwise(0)
            ).alias("n_err"),
        )
        .filter(F.col("n_err") == 0)
        .select("user_id", "signup_day", "purchase_day")
    )




# ---------------------------------------------------------------- r8 wave


@query(
    "streaming_static_enrichment",
    oracle="""
    WITH dim(k, category) AS (
      VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('login', 'session')
    )
    SELECT COALESCE(d.category, e.event_type) AS category,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events e LEFT JOIN dim d ON d.k = e.event_type
    GROUP BY 1
    """,
    doc="STREAM-STATIC enrichment join driven as a real stream — the "
    "one canonical Structured Streaming join family the streaming "
    "tier did not yet cover (stream-stream interval join is a "
    "separate entry): the events feed re-read as a 3-file "
    "file-source stream, left-joined per micro-batch against a "
    "static broadcast dictionary (streaming/incremental."
    "stream_static_enriched_totals), aggregated to per-category "
    "running totals in complete mode with availableNow catch-up. "
    "Unmatched event types coalesce to themselves, same contract as "
    "the batch lookup join (event_category_lookup). Hash-equality "
    "against the batch oracle certifies stream/batch parity for the "
    "join+agg composition. At 100 TB the dictionary rides the "
    "broadcast, the stream never shuffles for the join, and "
    "aggregate state is category-bounded",
)
def streaming_static_enrichment(spark, sf_dir):
    import os
    import re

    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select("event_type", "value", "ts")
    root = _fresh_tmp_root(spark, "sse", sf_dir)
    feed = f"{root}/feed"
    ev.repartition(3).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    dim = similarity._literal_rows_df(
        spark,
        [
            {"k": "click", "category": "engagement"},
            {"k": "view", "category": "engagement"},
            {"k": "purchase", "category": "revenue"},
            {"k": "login", "category": "session"},
        ],
        "k: string, category: string",
    )
    agg = incremental.stream_static_enriched_totals(stream, dim)
    name = "fes_sse_" + re.sub(r"\W+", "_", f"{os.getpid()}_{sf_dir.rstrip('/')}")
    tbl = incremental.run_available_now(agg, name, f"{root}/ckpt")
    return tbl.select("category", "n", "total_value")


@query(
    "join_skew_profile",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(SUM(n * n) AS BIGINT) AS total_pairs,
             CAST(SUM(n) AS BIGINT) AS total_rows
      FROM c
    )
    SELECT c.user_id, c.n, CAST(c.n * c.n AS BIGINT) AS pairs,
           t.total_pairs, t.total_rows
    FROM c CROSS JOIN tot t
    ORDER BY c.n DESC, c.user_id
    LIMIT 10
    """,
    doc="pre-join cardinality + skew profiler — the plan-sanity tool "
    "this repo's own PLAN_AUDIT discipline automates: for a "
    "prospective self-join of events on user_id, per-key count "
    "products give the EXACT join output size before running it, "
    "and the heaviest keys (deterministic top-10: pairs desc, "
    "user_id tiebreak) name the skew hotspots that would need "
    "salting. Emits the per-key profile with the grand totals "
    "(total_pairs = the join's output cardinality, total_rows = "
    "input) carried on every row via a 1-row broadcast cross. One "
    "groupBy of the scan; top-10 via orderBy+limit, which Spark "
    "plans as TakeOrderedAndProject — per-partition heaps + a "
    "10-row driver merge, NEVER a global sort or single-reducer "
    "window, which is what keeps the profiler itself safe on a "
    "billion-key table",
)
def join_skew_profile(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # r12 overflow-class sweep: sum(n*n) is QUADRATIC in per-key
    # rows — one 3e9-event hot key alone exceeds int64, exactly the
    # graph this profiler exists to flag. Product+sum in decimal
    # (exact to 1e38), loud assert before the BIGINT output contract.
    n19 = F.col("n").cast("decimal(19,0)")
    i64max = F.lit("9223372036854775807").cast("decimal(38,0)")
    tot = c.agg(
        F.sum(n19 * n19).alias("__tp"),
        F.sum("n").cast("long").alias("total_rows"),
    ).select(
        F.when(
            F.assert_true(
                F.coalesce(F.col("__tp"), F.lit(0).cast("decimal(38,0)"))
                <= i64max,
                F.lit(
                    "join_skew_profile: sum(n^2) exceeds int64 — the "
                    "BIGINT total_pairs contract cannot hold; widen "
                    "to DECIMAL"
                ),
            ).isNull(),
            F.col("__tp").cast("long"),
        )
        .otherwise(F.col("__tp").cast("long"))
        .alias("total_pairs"),
        "total_rows",
    )
    return (
        c.withColumn("pairs", (n19 * n19).cast("long"))
        .crossJoin(F.broadcast(tot))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


@query(
    "trend_slope_by_market",
    oracle="""
    WITH b AS (
      SELECT n_name,
             CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                       AS BIGINT) AS DECIMAL(18,0)) AS x,
             CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                  AS DECIMAL(18,0)) AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ),
    s AS (
      SELECT n_name,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM b GROUP BY n_name
    )
    SELECT n_name, n_orders,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_cents_per_day,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept_cents,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM s
    """,
    doc="per-group OLS trend (closed-form simple linear regression of "
    "order value in cents on days-since-epoch, one line per nation "
    "market): slope, intercept, and r-squared from the five "
    "co-moment sums — the grouped-regression pattern every "
    "metric-drift monitor runs, and the natural extension of the "
    "segment_spend_correlation co-moment family. Exactness: x and y "
    "are integers summed as DECIMAL(18,0)->DECIMAL(38,0), so all "
    "five sums are EXACT and partition-order-independent; each sum "
    "is then cast once to double and the derived metrics use the "
    "IDENTICAL expression tree on both engines — every double op "
    "consumes identical operands in the same order, so slope/"
    "intercept/r2 ship bit-identical UNROUNDED. Plan: co-moments "
    "are ADDITIVE, so they pre-aggregate per customer BEFORE the "
    "customer join — and the ORDERS-SIZED pass runs entirely in "
    "compact LONG arithmetic (whole-stage codegen; Spark decimals "
    "above precision 18 fall off the compact representation into "
    "BigDecimal, measured as THE cost: the all-decimal forms ran "
    "2.8-3.2s at x100 vs DuckDB 0.2s whether or not they "
    "pre-aggregated). Per-customer long partials are overflow-safe "
    "while a customer has < ~2,500 orders at current price scale "
    "(sum(y*y) per customer vs the int64 ceiling). The session pins "
    "ANSI OFF, so the product sums use try_sum — checked long adds "
    "in every eval mode, NULL on breach — and an assert_true guard "
    "on the re-aggregate turns any NULL partial into a loud error, "
    "never silent wraparound; the partials "
    "are then cast to DECIMAL(38,0) for the nation-level "
    "re-aggregate (customers-sized, exact, order-independent), one "
    "customer-sized join, broadcast nation, 25-row output. At 100 "
    "TB the only orders-sized work is the map-side-combined long "
    "groupBy",
)
def trend_slope_by_market(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.unix_date(F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    # Per-term products are provably int64-safe for any plausible row
    # (x ≤ ~2.1e4 days, y ≤ ~6e9 cents even at 100× price inflation:
    # y*y ≤ 3.6e19 would overflow — but at CURRENT price scale y ≤
    # ~6e7 so y*y ≤ 3.6e15, x*y ≤ 1.3e12, x*x ≤ 4.4e8). What CAN
    # overflow is the per-customer SUM of y*y once a customer exceeds
    # ~2,500 orders. The session pins ANSI off, so a plain sum() would
    # wrap SILENTLY — try_sum uses checked long adds in every eval
    # mode and yields NULL on breach, which the guard below turns into
    # a loud error instead of a wrong slope.
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("x").alias("psx"),
        F.sum("y").alias("psy"),
        F.try_sum(F.col("x") * F.col("y")).alias("psxy"),
        F.try_sum(F.col("x") * F.col("x")).alias("psxx"),
        F.try_sum(F.col("y") * F.col("y")).alias("psyy"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    b = per_cust.join(c, per_cust.o_custkey == c.c_custkey).join(
        nat, c.c_nationkey == nat.n_nationkey
    )
    dec = "decimal(38,0)"
    overflowed = (
        F.col("psxy").isNull() | F.col("psxx").isNull() | F.col("psyy").isNull()
    )
    s = b.groupBy("n_name").agg(
        F.sum(F.col("pn").cast(dec)).cast("double").alias("n"),
        F.sum(F.col("psx").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("psy").cast(dec)).cast("double").alias("sy"),
        F.sum(F.col("psxy").cast(dec)).cast("double").alias("sxy"),
        F.sum(F.col("psxx").cast(dec)).cast("double").alias("sxx"),
        F.sum(F.col("psyy").cast(dec)).cast("double").alias("syy"),
        F.sum("pn").cast("long").alias("n_orders"),
        F.sum(overflowed.cast("int")).alias("__n_overflowed"),
    )
    # Loud backstop: a try_sum NULL (int64 breach in a per-customer
    # partial) must abort the query, never ship a silently-wrong
    # slope. assert_true returns NULL when the predicate holds, so
    # the filter keeps every row on the happy path and throws on
    # breach; test_round9_wave seeds an overflow to prove it fires.
    s = s.filter(
        F.assert_true(
            F.col("__n_overflowed") == 0,
            F.lit(
                "trend_slope_by_market: per-customer long co-moment "
                "partial overflowed int64 — a customer exceeds ~2,500 "
                "orders at current price scale; switch the partials "
                "to DECIMAL for this data"
            ),
        ).isNull()
    ).drop("__n_overflowed")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    return s.select(
        "n_name",
        "n_orders",
        (num / denx).alias("slope_cents_per_day"),
        ((sy - num / denx * sx) / n).alias("intercept_cents"),
        ((num * num) / (denx * deny)).alias("r2"),
    )


@query(
    "rolling_median_spend",
    oracle="""
    WITH d AS (
      SELECT o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS di,
             CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders GROUP BY 1, 2, 3
    )
    SELECT o_custkey, day,
           CAST(c AS DOUBLE) / 100.0 AS spend,
           MEDIAN(c) OVER (PARTITION BY o_custkey ORDER BY di
                           RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
             / 100.0 AS med_90d
    FROM d
    """,
    doc="rolling 90-day MEDIAN of daily spend per customer — the "
    "robust twin of rolling_customer_metrics' mean/sum (an order-"
    "statistic a single whale order cannot drag, which is exactly "
    "why ops dashboards prefer it): per-customer daily rollup in "
    "exact cents, then percentile(0.5) over a RANGE frame keyed on "
    "the integer day number, so calendar gaps are honored without a "
    "densify step. Exactness: the window contains exact BIGINT "
    "cents; both engines interpolate the even-count median as the "
    "midpoint of two integers — exact in double — and the final "
    "/100.0 is one identical division, shipped unrounded. At 100 TB "
    "this is one shuffle on o_custkey (the partition key), per-"
    "customer frames are days-bounded; the window recomputes the "
    "frame per row (O(days x 90)) which the calendar caps — no "
    "global sort, no cross-customer state",
)
def rolling_median_spend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # one exchange serves both stages: hash-partitioning on o_custkey
    # alone satisfies the daily rollup's clustering requirement on
    # (o_custkey, di) — same key's rows are co-located — AND the
    # window's partitionBy(o_custkey), so neither adds a shuffle
    # (plan-asserted in tests/test_plans.py)
    d = (
        o.select(
            "o_custkey",
            F.unix_date(F.col("o_orderdate").cast("date")).alias("di"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cts"),
        )
        .repartition("o_custkey")
        .groupBy("o_custkey", "di")
        .agg(_sum_i64_checked(F.col("cts"), "rolling_median_spend[c]").alias("c"))
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("di")
        .rangeBetween(-90, Window.currentRow)
    )
    return d.select(
        "o_custkey",
        F.date_from_unix_date("di").alias("day"),
        (F.col("c").cast("double") / 100.0).alias("spend"),
        (F.percentile("c", F.lit(0.5)).over(w) / 100.0).alias("med_90d"),
    )


@query(
    "duplicate_span_stats",
    # r12 dual-SQL port: 8-token windows via an 8-part split_part
    # concat (i <= n-7, only docs with n >= 8 — exactly the
    # ELSE-empty arm); span counting / HAVING / ratio were already
    # shared. perf_oracle keeps the native UNNEST text.
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    sp AS (
      SELECT doc_id, SPLIT_PART(s, ' ', CAST(t.i AS INT)) || ' ' || SPLIT_PART(s, ' ', CAST(t.i + 1 AS INT)) || ' ' || SPLIT_PART(s, ' ', CAST(t.i + 2 AS INT)) || ' ' || SPLIT_PART(s, ' ', CAST(t.i + 3 AS INT)) || ' ' || SPLIT_PART(s, ' ', CAST(t.i + 4 AS INT)) || ' ' || SPLIT_PART(s, ' ', CAST(t.i + 5 AS INT)) || ' ' || SPLIT_PART(s, ' ', CAST(t.i + 6 AS INT)) || ' ' || SPLIT_PART(s, ' ', CAST(t.i + 7 AS INT)) AS s2
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE n >= 8 AND t.i <= n - 7
    ),
    dup AS (SELECT s2 FROM sp GROUP BY s2 HAVING COUNT(*) >= 2),
    per AS (
      SELECT sp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
      FROM sp JOIN dup ON sp.s2 = dup.s2 GROUP BY sp.doc_id
    )
    SELECT nt.doc_id,
           CAST(GREATEST(n - 7, 0) AS BIGINT) AS n_spans,
           COALESCE(p.n_dup, 0) AS n_dup_spans,
           CASE WHEN n - 7 > 0
                THEN COALESCE(p.n_dup, 0)
                     / CAST(n - 7 AS BIGINT) END AS dup_ratio
    FROM nt LEFT JOIN per p ON nt.doc_id = p.doc_id
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    w AS (
      SELECT doc_id, toks,
             CASE WHEN LEN(toks) >= 8
                  THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 7),
                                      i -> ARRAY_TO_STRING(toks[i:i+7], ' '))
                  ELSE [] END AS wins
      FROM toks_cte
    ),
    sp AS (SELECT doc_id, UNNEST(wins) AS s FROM w),
    dup AS (SELECT s FROM sp GROUP BY s HAVING COUNT(*) >= 2),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
      FROM sp JOIN dup USING (s) GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(GREATEST(LEN(w.toks) - 7, 0) AS BIGINT) AS n_spans,
           COALESCE(p.n_dup, 0) AS n_dup_spans,
           CASE WHEN LEN(w.toks) - 7 > 0
                THEN COALESCE(p.n_dup, 0)
                     / CAST(LEN(w.toks) - 7 AS BIGINT) END AS dup_ratio
    FROM w LEFT JOIN per p ON w.doc_id = p.doc_id
    """,
    doc="per-document repeated-span coverage (operators/dedup."
    "duplicate_span_stats) — the exact-substring-dedup signal of "
    "Lee et al. 2022 at fixed 8-token grain: a window duplicated "
    "ANYWHERE in the corpus (another doc or the same one) marks "
    "redundant text; the per-doc duplicated-window ratio is what "
    "pipelines threshold to drop or trim boilerplate. Plan: "
    "tokenize once, slide windows map-side (sequence+transform — "
    "single-token rows never exist), then ONE exchange on the span "
    "key where a window count(*) tags each occurrence with its "
    "corpus frequency in place (the rejected first cut's "
    "groupBy(span)+semi-join shuffled the exploded span stream "
    "twice; the window form removed a full pass, 3.8x->1.3x ahead "
    "at x1000), and one fused doc groupBy — linear end to end, NO "
    "d-squared pair fan-out (the reason this needs no df-cap while "
    "ngram_jaccard_pairs does). Spans keyed "
    "by xxhash64, internal-only; the oracle joins the literal "
    "strings, so hash-equality also certifies collision-freeness "
    "on this corpus. Ratio is one identical long/long->double "
    "division, NULL for docs shorter than 8 tokens",
)
def duplicate_span_stats(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return dedup.duplicate_span_stats(d, span_n=8)


@query(
    "embedding_gram_matrix",
    oracle="""
    WITH q AS (
      SELECT LIST_TRANSFORM(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000)
                                      AS BIGINT)) AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) = 64
    )
    SELECT i, j, CAST(SUM(qv[i] * qv[j]) AS BIGINT) AS g
    FROM q, GENERATE_SERIES(1, 64) AS s1(i), GENERATE_SERIES(1, 64) AS s2(j)
    WHERE i <= j
    GROUP BY i, j
    """,
    doc="distributed Gram matrix X'X over the embedding corpus "
    "(operators/similarity.gram_matrix) — the building block of "
    "PCA / covariance / whitening at corpus scale: embeddings "
    "quantized q = floor(x*1000) so every partial is EXACT int64 "
    "(floor, not round — no half-way tie semantics to align "
    "cross-engine), each Arrow batch computes its full 64x64 "
    "partial with one integer matmul and emits only the 2080 "
    "upper-triangle cells, a final groupBy(i,j) sums partials. The "
    "oracle recomputes the same integer sums via the d-squared "
    "UNNEST fan-out — fine at gate SF, and exactly the plan the "
    "Spark side exists to avoid: its shuffle volume is n_batches x "
    "d-squared ROWS, independent of corpus size (the N x d data "
    "never shuffles), which is what makes the operator viable at "
    "100 TB where the fan-out form moves N x d-squared rows",
)
def embedding_gram_matrix(spark, sf_dir):
    e = ensure_min_partitions(_t(spark, sf_dir, "embeddings"))
    src = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    return similarity.gram_matrix(src, vec_col="embedding", dim=64, scale=1000)


@query(
    "dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderpriority,
           CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END
                AS INT) AS batch,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="DYNAMIC partition overwrite — the lakehouse partial-refresh "
    "semantic (Spark's partitionOverwriteMode=dynamic; Hive's "
    "INSERT OVERWRITE ... PARTITION): orders land date-partitioned "
    "by priority tagged batch=1, then ONLY the 1-URGENT partition "
    "is rewritten tagged batch=2 with mode('overwrite') — dynamic "
    "mode replaces exactly the partitions present in the incoming "
    "write and MUST leave the other four untouched (static "
    "overwrite, the default, would truncate the whole table first "
    "— the classic data-loss footgun this entry pins). The re-read "
    "aggregate hash-matches the expected final state: every "
    "non-urgent row still batch=1, every urgent row batch=2, "
    "counts and exact DECIMAL totals intact. At 100 TB this is the "
    "daily-refresh idiom: rewrite one day's partition in place "
    "without listing or rewriting the other 3650",
)
def dynamic_partition_overwrite(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = _fresh_tmp_root(spark, "dpo", sf_dir)
    path = f"{root}/orders_by_priority"
    o.withColumn("batch", F.lit(1)).write.partitionBy(
        "o_orderpriority"
    ).mode("overwrite").parquet(path)
    upd = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "batch", F.lit(2)
    )
    upd.write.partitionBy("o_orderpriority").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority", "batch").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@query(
    "mad_outlier_customers",
    oracle="""
    WITH v AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders GROUP BY o_custkey
    ),
    m AS (SELECT MEDIAN(c) AS med FROM v),
    a AS (SELECT MEDIAN(ABS(c - m.med)) AS mad FROM v, m),
    z AS (
      SELECT o_custkey,
             CAST(c AS DOUBLE) / 100.0 AS lifetime_value,
             CAST(0.6745 AS DOUBLE) * (c - m.med) / a.mad AS rz
      FROM v, m, a
    )
    SELECT o_custkey, lifetime_value, rz AS robust_z
    FROM z WHERE ABS(rz) > 3.0
    """,
    doc="median-absolute-deviation outlier screen (the Iglewicz-"
    "Hoaglin modified z-score, |0.6745(x-med)/MAD| > 3.0) over "
    "per-customer lifetime spend — the ROBUST counterpart of "
    "seasonal_outlier_days' mean/stddev z-scores: medians are what "
    "outliers cannot drag, so the screen still works when the "
    "contamination itself inflates the moments. Screens the "
    "per-customer SUM, not raw order prices: the synthetic price "
    "column is bounded-uniform (measured max modified z 1.35 at "
    "every SF — a screen there could never fire, a vacuous gate), "
    "while summed lifetime spend has a real tail (1/8/86 flagged "
    "at sf0.001/0.01/0.1 with the 3.0 cut, the published "
    "lower-bound variant of the 3.5 rule, chosen so the entry is "
    "non-vacuous at the smallest SF). Exactness: both medians "
    "interpolate over exact integer cents (midpoint-of-two-ints is "
    "exact in double), and the modified z is the IDENTICAL double "
    "expression tree on both engines over identical operands — "
    "shipped unrounded; the cut sits on continuous data far from "
    "any representability boundary. Scale note, same contract as "
    "equi_depth_histogram: the exact global median is a documented "
    "1-reducer percentile — correct-by-construction for the gate, "
    "while approx_percentile_profile (sketches.py) is the 100 TB "
    "path and this entry's docstring is where that trade is "
    "recorded. The two 1-row median relations ride broadcast "
    "crosses, so the scan side stays fully parallel",
)
def mad_outlier_customers(spark, sf_dir):
    # r12 re-plan (x1000 ladder): v feeds THREE branches (median, MAD,
    # the z-scored projection) and each re-ran the full orders scan +
    # agg. localCheckpoint materializes the customer-cardinality table
    # once; the two percentile passes and the projection read it. At
    # 100 TB v is customer-sized (orders-of-magnitude below the fact
    # scan) — the exact intermediate a robust-z pass needs anyway.
    v = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            _sum_i64_checked(F.round(F.col("o_totalprice") * 100).cast("long"), "mad_outlier_customers[c]").alias(
                "c"
            )
        )
        .localCheckpoint()
    )
    m = v.agg(F.percentile("c", F.lit(0.5)).alias("med"))
    a = (
        v.crossJoin(F.broadcast(m))
        .select(F.abs(F.col("c") - F.col("med")).alias("ad"))
        .agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    )
    z = (
        v.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(a))
        .select(
            "o_custkey",
            (F.col("c").cast("double") / 100.0).alias("lifetime_value"),
            (
                F.lit(0.6745).cast("double")
                * (F.col("c") - F.col("med"))
                / F.col("mad")
            ).alias("rz"),
        )
    )
    return z.filter(F.abs(F.col("rz")) > 3.0).select(
        "o_custkey", "lifetime_value", F.col("rz").alias("robust_z")
    )




@query(
    "negative_sampling_pairs",
    oracle="""
    WITH pos AS (
      SELECT DISTINCT o_custkey, l_partkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part),
    cand AS (
      SELECT p.o_custkey, d.draw,
             ((p.o_custkey % 1000003) * 69069
              + (p.l_partkey % 1000003) * 40503
              + d.draw * 97) % np.n_parts AS neg_partkey
      FROM pos p
      CROSS JOIN np
      CROSS JOIN (SELECT 1 AS draw UNION ALL SELECT 2) d
    )
    SELECT c.o_custkey, CAST(c.neg_partkey AS BIGINT) AS neg_partkey,
           CAST(c.draw AS INT) AS draw
    FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM pos
                      WHERE pos.o_custkey = c.o_custkey
                        AND pos.l_partkey = c.neg_partkey)
    """,
    doc="deterministic negative sampling for embedding-model training "
    "— the contrastive-pair generator every two-tower/recsys corpus "
    "build needs: for each observed (customer, part) positive, draw "
    "k=2 pseudo-random candidate parts via a pure-integer mixing "
    "function (Weyl-style multiply-add mod |parts|; production would "
    "swap in a stronger hash, but the SHAPE is the point and integer "
    "arithmetic is the only spelling BOTH engines evaluate "
    "bit-identically — md5-threshold filters elsewhere in the "
    "registry only compare, never convert hex to int, which has no "
    "shared spelling), then drop accidental hits (candidates the "
    "customer actually bought) with an anti-join so every emitted "
    "row is a TRUE negative. Inner operands are pre-reduced mod 1e6 "
    "so the mix is PROVABLY int64-bounded at any key scale: the "
    "worst case (1000002*69069 + 1000002*40503 + 2*97) ≈ 1.1e11 sits "
    "seven orders of magnitude under the ceiling, so no runtime "
    "backstop is needed (the session pins ANSI off, so boundedness "
    "must come from the algebra, not the conf). Plan: one distinct "
    "over the "
    "positives join, a 2x map-side fan-out, and a self-anti-join "
    "co-keyed on (custkey, partkey); the part count rides a 1-row "
    "broadcast. At 100 TB everything is positives-sized; no window, "
    "no skew beyond power customers, bounded by their catalog reach",
)
def negative_sampling_pairs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    np_ = _t(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    cand = (
        pos.crossJoin(F.broadcast(np_))
        .select(
            "o_custkey",
            "l_partkey",
            "n_parts",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("draw"),
        )
        .select(
            "o_custkey",
            F.col("draw").cast("int").alias("draw"),
            (
                (
                    (F.col("o_custkey") % 1000003) * 69069
                    + (F.col("l_partkey") % 1000003) * 40503
                    + F.col("draw") * 97
                )
                % F.col("n_parts")
            )
            .cast("long")
            .alias("neg_partkey"),
        )
    )
    neg = cand.join(
        pos,
        (cand.o_custkey == pos.o_custkey)
        & (cand.neg_partkey == pos.l_partkey),
        "left_anti",
    )
    return neg.select("o_custkey", "neg_partkey", "draw")


# The six fixed CSV lines for csv_corrupt_rescue: one clean row, one
# unparseable number, one short row, one long row, one empty-token row
# (empty = NULL, NOT corrupt), one garbage line. Literals so the
# expected relation is a VALUES oracle pinning Spark's PERMISSIVE
# semantics observed on this exact input.
_RESCUE_CSV_LINES = (
    "1,alpha,10.5",
    "2,beta,not_a_number",
    "3,gamma",
    "4,delta,7.25,extra",
    ",epsilon,3.5",
    "oops",
)


@query(
    "csv_corrupt_rescue",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'alpha', CAST(10.5 AS DOUBLE),
       CAST(NULL AS STRING)),
      (2, 'beta', NULL, '2,beta,not_a_number'),
      (3, 'gamma', NULL, '3,gamma'),
      (4, 'delta', 7.25, '4,delta,7.25,extra'),
      (NULL, 'epsilon', 3.5, NULL),
      (NULL, NULL, NULL, 'oops')
    ) AS t(id, name, score, rescued)
    """,
    doc="schema-on-read CORRUPT-RECORD RESCUE — the dirty-feed "
    "contract of the reference's scrape CSVs (utils/data_utils.py "
    "read paths assume pandas' permissiveness; Spark must opt in): "
    "a declared schema plus PERMISSIVE mode and "
    "columnNameOfCorruptRecord quarantines every malformed line IN "
    "BAND — parseable fields survive, the offending raw line lands "
    "in the rescue column for a dead-letter audit, and the job "
    "never dies on row one of a 100 TB ingest (FAILFAST's behavior) "
    "nor silently drops rows (DROPMALFORMED's). The VALUES oracle "
    "pins the exact semantics observed: bad token -> field NULL + "
    "raw line rescued; short row -> missing fields NULL + rescued; "
    "long row -> parsed prefix + rescued; EMPTY token -> NULL "
    "without rescue (empty is a value, not corruption); garbage "
    "line -> all NULL + rescued. Map-only scan, no shuffle",
)
def csv_corrupt_rescue(spark, sf_dir):
    from pyspark.sql import types as T

    root = _fresh_tmp_root(spark, "rsq", sf_dir)
    path = f"{root}/feed.csv"
    import os

    os.makedirs(root, exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(_RESCUE_CSV_LINES))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("rescued", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "rescued")
        .csv(root)
    )


@query(
    "psi_value_drift",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN o_orderdate < DATE '1998-01-01'
                  THEN 'before' ELSE 'after' END AS period,
             LEAST(CAST(FLOOR(o_totalprice / 50000) AS INT), 9) AS bin
      FROM orders
    ),
    c AS (
      SELECT bin,
             SUM(CASE WHEN period = 'before' THEN 1 ELSE 0 END) + 1 AS nb,
             SUM(CASE WHEN period = 'after' THEN 1 ELSE 0 END) + 1 AS na
      FROM b GROUP BY bin
    ),
    t AS (
      SELECT CAST(SUM(nb) AS DOUBLE) AS tb, CAST(SUM(na) AS DOUBLE) AS ta
      FROM c
    ),
    terms AS (
      SELECT bin, CAST(nb AS BIGINT) AS n_before, CAST(na AS BIGINT) AS n_after,
             ROUND((nb / t.tb - na / t.ta)
                   * LN((nb / t.tb) / (na / t.ta)), 9) AS psi_term
      FROM c, t
    )
    SELECT bin, n_before, n_after, psi_term,
           CAST(SUM(CAST(psi_term AS DECIMAL(18,9))) OVER () AS DOUBLE)
             AS psi_total
    FROM terms
    """,
    doc="population-stability-index drift monitor — the score every "
    "ML-platform checks before trusting a retrained model's inputs: "
    "order values bucketed into 10 FIXED price bins (floor/50k "
    "capped — fixed edges, not quantiles, so the two periods are "
    "binned identically), distribution before vs after a fixed "
    "cutover date, PSI = sum (p-q)*ln(p/q) with add-one smoothing "
    "so an emptied bin can never divide by zero. Exactness: "
    "smoothed counts are integers; p,q are single divisions by the "
    "same exact totals; ln differs at most 1 ulp across libm "
    "implementations, absorbed by rounding each TERM to 9dp; the "
    "total then sums the rounded terms as DECIMAL(18,9) — exact and "
    "order-independent — so per-bin terms AND the headline PSI both "
    "hash-match. At 100 TB: one groupBy of the scan to 10x2 cells; "
    "everything after is bin-bounded (the window total runs over 10 "
    "rows)",
)
def psi_value_drift(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    b = o.select(
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
            F.lit("before"),
        )
        .otherwise(F.lit("after"))
        .alias("period"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9)
        ).alias("bin"),
    )
    c = b.groupBy("bin").agg(
        (
            F.sum(F.when(F.col("period") == "before", 1).otherwise(0)) + 1
        ).alias("nb"),
        (F.sum(F.when(F.col("period") == "after", 1).otherwise(0)) + 1).alias(
            "na"
        ),
    )
    t = c.agg(
        F.sum("nb").cast("double").alias("tb"),
        F.sum("na").cast("double").alias("ta"),
    )
    terms = c.crossJoin(F.broadcast(t)).select(
        "bin",
        F.col("nb").cast("long").alias("n_before"),
        F.col("na").cast("long").alias("n_after"),
        F.round(
            (F.col("nb") / F.col("tb") - F.col("na") / F.col("ta"))
            * F.log(
                (F.col("nb") / F.col("tb")) / (F.col("na") / F.col("ta"))
            ),
            9,
        ).alias("psi_term"),
    )
    w_all = Window.partitionBy(F.lit(1))
    return terms.select(
        "bin",
        "n_before",
        "n_after",
        "psi_term",
        F.sum(F.col("psi_term").cast("decimal(18,9)"))
        .over(w_all)
        .cast("double")
        .alias("psi_total"),
    )


@query(
    "pca_top_component",
    oracle="""
    WITH q AS (
      SELECT LIST_TRANSFORM(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000)
                                      AS BIGINT)) AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL AND LEN(embedding) = 64
    ),
    gt AS (
      SELECT i, j, CAST(SUM(qv[i] * qv[j]) AS DOUBLE) AS g
      FROM q, GENERATE_SERIES(1, 64) AS s1(i), GENERATE_SERIES(1, 64) AS s2(j)
      GROUP BY i, j
    ),
    w1 AS (SELECT i, SUM(g) AS w FROM gt GROUP BY i),
    v1 AS (SELECT i, ROUND(w / MAX(ABS(w)) OVER (), 6) AS v FROM w1),
    w2 AS (SELECT gt.i, SUM(gt.g * v1.v) AS w
           FROM gt JOIN v1 ON gt.j = v1.i GROUP BY gt.i),
    v2 AS (SELECT i, ROUND(w / MAX(ABS(w)) OVER (), 6) AS v FROM w2),
    w3 AS (SELECT gt.i, SUM(gt.g * v2.v) AS w
           FROM gt JOIN v2 ON gt.j = v2.i GROUP BY gt.i)
    SELECT CAST(i AS INT) AS i,
           ROUND(w / MAX(ABS(w)) OVER (), 6) AS loading
    FROM w3
    """,
    doc="top principal axis of the embedding corpus — distributed PCA "
    "split the canonical way (operators/similarity.pca_top_component_from_rows "
    "over operators/similarity.gram_matrix): the corpus-sized work "
    "is the int-exact Gram matrix (shuffle volume dim^2-rows, "
    "independent of N), the eigen step is a dimension-sized "
    "power iteration on the driver (IVF-centroid control-plane "
    "precedent), deterministic by spec — all-ones start, 3 "
    "iterations, max-norm (no sqrt), each component ROUNDED to 6dp "
    "half-away before the next multiply so differing summation "
    "orders (numpy pairwise dot vs SQL SUM) are quantized away "
    "between steps. The oracle replays the identical spec in SQL "
    "over the same integer Gram (matvec as a 64-row join per "
    "unrolled step). At 100 TB the oracle's N x d^2 UNNEST Gram is "
    "exactly the plan the Spark side avoids; everything after the "
    "Gram is 64-row work on both engines",
)
def pca_top_component(spark, sf_dir):
    e = ensure_min_partitions(_t(spark, sf_dir, "embeddings"))
    src = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    # memo the COLLECTED triangle, not the lazy DataFrame — a memoised
    # lazy plan re-runs the distributed Gram job on every invocation
    # and the 'paid once per session' contract is never delivered
    rows = session_memo(
        spark,
        (sf_dir, "pca_gram_rows"),
        lambda: similarity.gram_matrix(
            src, vec_col="embedding", dim=64, scale=1000
        ).collect(),
    )
    return similarity.pca_top_component_from_rows(
        spark, rows, dim=64, n_iter=3, round_to=6
    )




@query(
    "demand_mix_snapshot_diff",
    oracle="""
    WITH b AS (
      SELECT o_custkey, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderdate < DATE '1998-01-01' GROUP BY 1, 2
    ),
    a AS (
      SELECT o_custkey, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderdate >= DATE '1998-01-01' GROUP BY 1, 2
    )
    SELECT COALESCE(b.o_custkey, a.o_custkey) AS o_custkey,
           COALESCE(b.o_orderpriority, a.o_orderpriority) AS o_orderpriority,
           CAST(b.n AS DOUBLE) AS n_before,
           CAST(a.n AS DOUBLE) AS n_after,
           CASE WHEN b.n IS NULL THEN 'added'
                WHEN a.n IS NULL THEN 'removed'
                WHEN a.n > b.n THEN 'grew'
                WHEN a.n < b.n THEN 'shrank'
                ELSE 'stable' END AS change_type
    FROM b FULL OUTER JOIN a
      ON b.o_custkey = a.o_custkey
     AND b.o_orderpriority = a.o_orderpriority
    """,
    doc="period-over-period entity diff (operators/joins."
    "snapshot_diff) — the churn/new/retained report every snapshot-"
    "compare tool and demand dashboard renders, here over "
    "(customer, priority) demand combinations before vs after a "
    "fixed cutover: added / removed / grew / shrank / stable, with "
    "both measures carried (NULL on the missing side). All five "
    "classes are non-empty at every test SF (measured 205/149/98/"
    "72/120 at sf0.001), so no class is a vacuous branch. Plan: two "
    "entity-grain pre-aggregates of one scan, then ONE co-keyed "
    "full-outer join — both sides shuffle once on the same "
    "composite key, classification is map-side. At 100 TB the join "
    "inputs are entity-counts, never fact rows; this is also the "
    "version-over-version diff of the silver snapshot family "
    "(time travel reads two v=N states instead of two date filters, "
    "identical join)",
)
def demand_mix_snapshot_diff(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate"
    )
    cutoff = F.lit("1998-01-01").cast("timestamp")
    keys = ("o_custkey", "o_orderpriority")

    def state(df):
        return df.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n"))

    return joins.snapshot_diff(
        state(o.filter(F.col("o_orderdate") < cutoff)),
        state(o.filter(F.col("o_orderdate") >= cutoff)),
        keys=keys,
    )


@query(
    "streaming_fanout_two_sinks",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_value
      FROM events GROUP BY 1
    )
    SELECT 'bronze' AS sink, event_type, n, total_value FROM g
    UNION ALL
    SELECT 'metrics' AS sink, event_type, n, total_value FROM g
    """,
    doc="ONE stream, TWO exactly-once sinks (streaming/incremental."
    "fanout_two_sinks): the events feed re-read as a 3-file stream, "
    "each micro-batch landing BOTH the raw rows (batch_id-keyed "
    "bronze) and a per-batch metrics partial (count + exact cents "
    "per event_type) from a single foreachBatch body — the "
    "bronze+ops-rollup fanout every production ingest runs without "
    "a second source read. The entry re-reads BOTH sinks and emits "
    "each one's per-type totals tagged by sink; the oracle expects "
    "the two legs IDENTICAL and equal to the batch aggregate, so "
    "one hash certifies source==bronze, source==metrics, and "
    "bronze==metrics. Exactly-once on both legs: each write is an "
    "overwrite of its own batch_id directory, so a crash BETWEEN "
    "the two writes (the failure a naive two-write body gets wrong) "
    "replays as an identical rewrite; the companion pytest replays "
    "a batch through the body twice and asserts both sinks "
    "unchanged. Metrics partials are mergeable, re-aggregated at "
    "read — the rollup never needs the raw rows again",
)
def streaming_fanout_two_sinks(spark, sf_dir):
    from ..streaming import incremental

    ev = _t(spark, sf_dir, "events").select("event_type", "value", "ts")
    root = _fresh_tmp_root(spark, "f2s", sf_dir)
    feed = f"{root}/feed"
    ev.repartition(3).write.mode("overwrite").parquet(feed)
    stream = incremental.read_event_stream(spark, feed, ev.schema)
    incremental.fanout_two_sinks(
        stream, f"{root}/bronze", f"{root}/metrics", f"{root}/ckpt"
    )
    bronze = spark.read.parquet(f"{root}/bronze").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            _sum_i64_checked(F.round(F.col("value") * 100).cast("long"), "streaming_fanout_two_sinks[total_value]") / 100.0
        ).alias("total_value"),
    )
    metrics = spark.read.parquet(f"{root}/metrics").groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n"),
        (_sum_i64_checked(F.col("pcents"), "streaming_fanout_two_sinks[total_value]") / 100.0).alias("total_value"),
    )
    tag = lambda df, s: df.select(  # noqa: E731
        F.lit(s).alias("sink"), "event_type", "n", "total_value"
    )
    return tag(bronze, "bronze").unionByName(tag(metrics, "metrics"))



# ===========================================================================
# Round-9 wave: BPE-merge statistics and fourteen more entries:
# benford screen, exact-integer CUSUM, Heaps-law vocab growth,
# dup-cluster size distribution, KL language drift, radix-rank
# Lorenz/Gini, log2 length-bucket corpus mass, user-day entropy
# profile, context-budget truncation, triangle count + degree
# structure (the co-purchase graph panel), per-source dedup rate,
# one-pass BRR half-sample stderr, and tokenizer fertility by
# language — the last ten all dual-green ANSI oracles.
# ===========================================================================


@query(
    "bpe_pair_stats",
    # r12 dual-SQL port: adjacent pairs via the split_part fan-out
    # (pair i = token i || ' ' || token i+1, i <= n-1); <2-token docs
    # emit zero pairs on both spellings. perf_oracle keeps the native
    # UNNEST text for ladder timing (the x1000 standing row).
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    bi AS (
      SELECT SPLIT_PART(s, ' ', CAST(t.i AS INT)) || ' '
             || SPLIT_PART(s, ' ', CAST(t.i + 1 AS INT)) AS pair
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE n >= 2 AND t.i <= n - 1
    ),
    c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM bi GROUP BY pair)
    SELECT pair, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair ASC)
                AS INT) AS rank
    FROM c
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT 20
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    bi AS (
      SELECT UNNEST(CASE WHEN LEN(toks) >= 2
             THEN LIST_TRANSFORM(GENERATE_SERIES(2, LEN(toks)),
                                 i -> toks[i-1] || ' ' || toks[i])
             ELSE [] END) AS pair
      FROM toks_cte
    ),
    c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM bi GROUP BY pair)
    SELECT pair, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair ASC)
                AS INT) AS rank
    FROM c
    ORDER BY n_occurrences DESC, pair ASC
    LIMIT 20
    """,
    doc="BPE-merge pair statistics — the inner loop of byte-pair-"
    "encoding tokenizer TRAINING as one distributed aggregation: "
    "count every ADJACENT token pair across the corpus (bag "
    "semantics — BPE merges by occurrence count, not document "
    "frequency) and rank the top-20 merge candidates, pair-ASC "
    "tiebreak making the cut deterministic cross-engine. Plan: "
    "tokenize once, build the bigram array map-side (transform over "
    "sequence — single-token rows never exist, <2-token docs emit "
    "zero pairs), explode, ONE pair-keyed groupBy with map-side "
    "partial combine, TakeOrderedAndProject top-20, and a 20-row "
    "ranking window. At 100 TB this is the exact shape a real BPE "
    "trainer iterates (count -> merge -> re-count): one exchange of "
    "pair partials per iteration, vocabulary-sized output, no "
    "driver-side corpus state. ACCEPTED at ~2.7x behind DuckDB "
    "(r10 paired x1000: Spark 9.7-12.4s vs 3.5-3.7s, improved from "
    "3.2x by the struct-pair rewrite) — the residual is the JVM "
    "token-explode floor the unigram_logprob_scores note documents; "
    "growth stays sublinear (4.6x per decade) so it is a constant, "
    "not a cliff, and the one remaining alternative measured "
    "(per-doc counted-pair maps) was 40x WORSE",
)
def bpe_pair_stats(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    toked = d.select(text.tokens("text").alias("t"))
    k = F.size("t")
    # bigram build: zip_with over TWO whole-array slices (tokens[:-1],
    # tokens[1:]) — one array copy each — instead of a transform that
    # calls slice() per POSITION (n two-element allocations per doc).
    # Measured at x100 (26.5M bigrams): 8.0s -> 2.0s. r10 shaved the
    # residual explode floor: pairs stay STRUCTS through the explode
    # and the pair-keyed aggregation (no per-occurrence string
    # concat — 26.5M concat allocations were ~28% of the runtime);
    # the space-joined pair string is built once per DISTINCT pair in
    # the projection ahead of the top-20 cut, so tie-break semantics
    # on the concatenated form match the oracle exactly. Measured
    # x1000: 13.4s -> 9.7s. (The verdict-suggested per-doc counted
    # map — explode distinct pairs with per-doc counts — measured
    # 399s at x1000: the O(distinct x tokens) per-doc filter scans
    # dwarf the explode they save; rejected, see BENCH_NOTES r10.)
    bigrams = F.when(
        k >= 2,
        F.zip_with(
            F.slice(F.col("t"), 1, k - 1),
            F.slice(F.col("t"), 2, k - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    counts = (
        toked.select(F.explode(bigrams).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    top = (
        counts.select(
            F.concat_ws(" ", "p.w1", "p.w2").alias("pair"), "n_occurrences"
        )
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


_BPE_SEP = "\x1f"


def _bpe_corpus(spark, sf_dir) -> DataFrame:
    """The trainer's corpus: whitespace tokens, empty docs dropped,
    docs carrying a literal US byte excluded (sentinel precondition —
    a raw token containing the merge separator would conflate with a
    merged token; identical filter on the oracle side)."""
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return (
        d.filter(~F.col("text").contains(_BPE_SEP))
        .select(text.tokens("text").alias("t"))
        .filter(F.size("t") > 0)
    )


def _bpe_apply_mask(col, w1: str, w2: str):
    """Exact greedy left-to-right merge, O(n) per doc with NO
    per-token array rebuild: render the token array as a character
    MASK ('a' where tok==w1, else 'b' where tok==w2, else '0' — first
    arm wins so a self-pair is all 'a'), then one regexp_replace of
    'ab' (or 'aa') with 'Mc': Java replaceAll consumes non-overlapping
    matches LEFT TO RIGHT, which IS the greedy token-list fold
    ([A,A,A] -> [AA, A]; [A]x5 -> [AA, AA, A]; [A,B,A,B] -> [AB, AB])
    — and mask positions are whole tokens, so the r10 partial-token
    REPLACE class is structurally gone. Rebuild: zip tokens with the
    marked mask ('M' emit the merged token, 'c' drop the consumed one,
    else keep). Measured x1000: the first-cut F.aggregate struct fold
    (semantically identical) cost 230-262s in per-token array copies;
    this mask pass brings the round back to the map-side
    string-kernel cost class."""
    merged_lit = F.lit(w1 + _BPE_SEP + w2)
    pat = "aa" if w1 == w2 else "ab"
    mask = F.array_join(
        F.transform(
            col,
            lambda x: F.when(x == F.lit(w1), F.lit("a"))
            .when(x == F.lit(w2), F.lit("b"))
            .otherwise(F.lit("0")),
        ),
        "",
    )
    return F.filter(
        F.zip_with(
            col,
            F.split(F.regexp_replace(mask, pat, "Mc"), ""),
            lambda tok, m: F.when(m == F.lit("M"), merged_lit)
            .when(m == F.lit("c"), F.lit(None))
            .otherwise(tok),
        ),
        lambda x: x.isNotNull(),
    )


def _bpe_train(spark, sf_dir, rounds: int = 3) -> list[dict]:
    """Train ``rounds`` BPE merge rules (count -> adopt top pair ->
    greedy corpus-wide apply -> recount); cached per (session, sf) so
    the trainer and the encode entry share one training run."""

    def build() -> list[dict]:
        cur = _bpe_corpus(spark, sf_dir)
        rules = []
        for rnd in range(1, rounds + 1):
            k = F.size("t")
            bigrams = F.when(
                k >= 2,
                F.zip_with(
                    F.slice(F.col("t"), 1, k - 1),
                    F.slice(F.col("t"), 2, k - 1),
                    lambda x, y: F.concat_ws(" ", x, y),
                ),
            ).otherwise(F.array().cast("array<string>"))
            top = (
                cur.select(F.explode(bigrams).alias("pair"))
                .groupBy("pair")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .orderBy(F.desc("n"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, n = top[0]["pair"], int(top[0]["n"])
            rules.append({"merge_round": rnd, "pair": pair, "n_occurrences": n})
            # tokens are whitespace-split (no spaces) and merged tokens
            # are US-joined, so the first space is exactly the separator
            w1, w2 = pair.split(" ", 1)
            cur = cur.select(_bpe_apply_mask(F.col("t"), w1, w2).alias("t"))
        return rules

    return session_memo(spark, (sf_dir, f"bpe_merge_rules_{rounds}"), build)



@query(
    "bpe_train_merges",
    oracle=r"""
    WITH d0 AS (
      SELECT STRING_SPLIT(REGEXP_REPLACE(TRANSLATE(TRIM(text), CHR(11), ' '), '\s+', ' ', 'g'), ' ') AS toks
      FROM documents
      WHERE LENGTH(TRIM(text)) > 0 AND NOT CONTAINS(text, CHR(31))
    ),
    c1 AS (
      SELECT UNNEST(CASE WHEN LEN(toks) >= 2
             THEN LIST_TRANSFORM(GENERATE_SERIES(2, LEN(toks)),
                    i -> toks[i-1] || ' ' || toks[i])
             ELSE [] END) AS pair
      FROM d0
    ),
    t1 AS (SELECT 1 AS merge_round, pair,
                  CAST(COUNT(*) AS BIGINT) AS n_occurrences
           FROM c1 GROUP BY pair
           ORDER BY n_occurrences DESC, pair ASC LIMIT 1),
    r1 AS (SELECT STRING_SPLIT(pair, ' ')[1] AS w1,
                  STRING_SPLIT(pair, ' ')[2] AS w2 FROM t1),
    d1 AS (
      SELECT LIST_FILTER(
               LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)), i ->
                 CASE WHEN SUBSTRING(mk, i, 1) = 'M'
                        THEN w1 || CHR(31) || w2
                      WHEN SUBSTRING(mk, i, 1) = 'c' THEN NULL
                      ELSE toks[i] END),
               t -> t IS NOT NULL) AS toks
      FROM (
        SELECT toks, r1.w1, r1.w2,
               REGEXP_REPLACE(
                 ARRAY_TO_STRING(LIST_TRANSFORM(toks, t ->
                   CASE WHEN t = r1.w1 THEN 'a'
                        WHEN t = r1.w2 THEN 'b'
                        ELSE '0' END), ''),
                 CASE WHEN r1.w1 = r1.w2 THEN 'aa' ELSE 'ab' END,
                 'Mc', 'g') AS mk
        FROM d0 CROSS JOIN r1
      )
    ),
    c2 AS (
      SELECT UNNEST(CASE WHEN LEN(toks) >= 2
             THEN LIST_TRANSFORM(GENERATE_SERIES(2, LEN(toks)),
                    i -> toks[i-1] || ' ' || toks[i])
             ELSE [] END) AS pair
      FROM d1
    ),
    t2 AS (SELECT 2 AS merge_round, pair,
                  CAST(COUNT(*) AS BIGINT) AS n_occurrences
           FROM c2 GROUP BY pair
           ORDER BY n_occurrences DESC, pair ASC LIMIT 1),
    r2 AS (SELECT STRING_SPLIT(pair, ' ')[1] AS w1,
                  STRING_SPLIT(pair, ' ')[2] AS w2 FROM t2),
    d2 AS (
      SELECT LIST_FILTER(
               LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)), i ->
                 CASE WHEN SUBSTRING(mk, i, 1) = 'M'
                        THEN w1 || CHR(31) || w2
                      WHEN SUBSTRING(mk, i, 1) = 'c' THEN NULL
                      ELSE toks[i] END),
               t -> t IS NOT NULL) AS toks
      FROM (
        SELECT toks, r2.w1, r2.w2,
               REGEXP_REPLACE(
                 ARRAY_TO_STRING(LIST_TRANSFORM(toks, t ->
                   CASE WHEN t = r2.w1 THEN 'a'
                        WHEN t = r2.w2 THEN 'b'
                        ELSE '0' END), ''),
                 CASE WHEN r2.w1 = r2.w2 THEN 'aa' ELSE 'ab' END,
                 'Mc', 'g') AS mk
        FROM d1 CROSS JOIN r2
      )
    ),
    c3 AS (
      SELECT UNNEST(CASE WHEN LEN(toks) >= 2
             THEN LIST_TRANSFORM(GENERATE_SERIES(2, LEN(toks)),
                    i -> toks[i-1] || ' ' || toks[i])
             ELSE [] END) AS pair
      FROM d2
    ),
    t3 AS (SELECT 3 AS merge_round, pair,
                  CAST(COUNT(*) AS BIGINT) AS n_occurrences
           FROM c3 GROUP BY pair
           ORDER BY n_occurrences DESC, pair ASC LIMIT 1)
    SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
    ORDER BY merge_round
    """,
    doc="Iterative BPE tokenizer TRAINING, three merge rounds end to "
    "end — the loop bpe_pair_stats is one iteration of: count every "
    "adjacent pair, adopt the most frequent as a merge rule "
    "(pair-ASC tie-break on the space-joined form), APPLY it "
    "corpus-wide, recount on the merged corpus. Merge application "
    "is an EXACT greedy left-to-right token-list fold on both "
    "engines (r11, the r10 ADVICE-high fix), SHIPPED as the "
    "mask-regex pass on BOTH engines: the corpus stays an "
    "array<string>, each token renders to one mask char ('a' if "
    "tok==w1 else 'b' if tok==w2 else '0'), and ONE "
    "regexp_replace('ab'|'aa' -> 'Mc') applies every merge — "
    "left-to-right non-overlapping replacement IS the greedy fold: "
    "[A,A,A]->[AA,A], [A,B,A,B]->[AB,AB], [A,A,A,A,A]->[AA,AA,A]. "
    "(A semantically identical F.aggregate struct fold was the "
    "first cut and was replaced for cost — see the perf note; "
    "DuckDB v1.0 LIST_REDUCE is broken with struct accumulators "
    "and was never usable.) The r10 "
    "string-REPLACE application matched PARTIAL tokens (pair "
    "('a','b') on [a,bc] produced 'a<US>bc'; ('a','a') on [xa,a] "
    "produced 'xa<US>a') and even an anchored replace-to-fixpoint "
    "deviates from the greedy fold on odd self-pair runs "
    "([A]x5 -> [AA,A,AA], not [AA,AA,A]); only the token-boundary "
    "fold IS the trainer semantics, now pinned vs a reference "
    "list-fold trainer on prefix/suffix-collision alphabets. "
    "PRECONDITION (stated, enforced): merged tokens are sealed with "
    "US = CHR(31); docs whose raw text carries a literal US byte "
    "are excluded identically on both engines, so a raw token can "
    "never conflate with a merged one. Plan per round: map-side "
    "zip_with bigrams over the token array, ONE pair-keyed count "
    "with map-side combine, top-1 via TakeOrdered, the 1-row rule "
    "collected to the driver (the control-plane pattern — a real "
    "trainer holds the rule table driver-side too) and folded back "
    "in as literals in the mask pass; round N+1 recomputes "
    "the chain lazily (3 scans total, no caching needed at 3 "
    "rounds). At 100 TB each round is exactly the bpe_pair_stats "
    "exchange plus a map-only fold — per-iteration cost flat in "
    "rounds, vocabulary-sized driver state, no corpus state on the "
    "driver. Rules cached per (session, sf) so repeated plan "
    "construction runs the training jobs once. Measured paired "
    "x1000 (1M docs, 26.5M tokens), r11 mask semantics on BOTH "
    "engines: Spark 56.2-77.2s vs DuckDB 37.7-42.3s — ~1.4x behind, "
    "ACCEPTED at the same token-explode floor as bpe_pair_stats "
    "(the per-round bigram explode dominates; the mask apply is "
    "map-only). The r10 standing (string-REPLACE both sides: Spark "
    "64.9-74.3s vs DuckDB 238.9-243.8s, 3.3-3.8x AHEAD) is retired "
    "as an artifact of DuckDB paying a corpus-string REPLACE the "
    "exact semantics does not require; the interim F.aggregate "
    "struct fold (same semantics) measured 230-262s and was "
    "replaced by the mask pass (BENCH_NOTES r11 wave 2)",
)
def bpe_train_merges(spark, sf_dir):
    from ..operators.similarity import _literal_rows_df as _lit_rows

    rules = _bpe_train(spark, sf_dir)
    if not rules:
        return spark.range(0).select(
            F.col("id").cast("int").alias("merge_round"),
            F.lit("").alias("pair"),
            F.col("id").alias("n_occurrences"),
        )
    return _lit_rows(
        spark, rules, "merge_round: int, pair: string, n_occurrences: long"
    ).orderBy("merge_round")


@query(
    "bpe_encode_corpus",
    oracle=r"""
    WITH d0 AS (
      SELECT STRING_SPLIT(REGEXP_REPLACE(TRANSLATE(TRIM(text), CHR(11), ' '), '\s+', ' ', 'g'), ' ') AS toks
      FROM documents
      WHERE LENGTH(TRIM(text)) > 0 AND NOT CONTAINS(text, CHR(31))
    ),
    c1 AS (
      SELECT UNNEST(CASE WHEN LEN(toks) >= 2
             THEN LIST_TRANSFORM(GENERATE_SERIES(2, LEN(toks)),
                    i -> toks[i-1] || ' ' || toks[i])
             ELSE [] END) AS pair
      FROM d0
    ),
    t1 AS (SELECT 1 AS merge_round, pair,
                  CAST(COUNT(*) AS BIGINT) AS n_occurrences
           FROM c1 GROUP BY pair
           ORDER BY n_occurrences DESC, pair ASC LIMIT 1),
    r1 AS (SELECT STRING_SPLIT(pair, ' ')[1] AS w1,
                  STRING_SPLIT(pair, ' ')[2] AS w2 FROM t1),
    d1 AS (
      SELECT LIST_FILTER(
               LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)), i ->
                 CASE WHEN SUBSTRING(mk, i, 1) = 'M'
                        THEN w1 || CHR(31) || w2
                      WHEN SUBSTRING(mk, i, 1) = 'c' THEN NULL
                      ELSE toks[i] END),
               t -> t IS NOT NULL) AS toks
      FROM (
        SELECT toks, r1.w1, r1.w2,
               REGEXP_REPLACE(
                 ARRAY_TO_STRING(LIST_TRANSFORM(toks, t ->
                   CASE WHEN t = r1.w1 THEN 'a'
                        WHEN t = r1.w2 THEN 'b'
                        ELSE '0' END), ''),
                 CASE WHEN r1.w1 = r1.w2 THEN 'aa' ELSE 'ab' END,
                 'Mc', 'g') AS mk
        FROM d0 CROSS JOIN r1
      )
    ),
    c2 AS (
      SELECT UNNEST(CASE WHEN LEN(toks) >= 2
             THEN LIST_TRANSFORM(GENERATE_SERIES(2, LEN(toks)),
                    i -> toks[i-1] || ' ' || toks[i])
             ELSE [] END) AS pair
      FROM d1
    ),
    t2 AS (SELECT 2 AS merge_round, pair,
                  CAST(COUNT(*) AS BIGINT) AS n_occurrences
           FROM c2 GROUP BY pair
           ORDER BY n_occurrences DESC, pair ASC LIMIT 1),
    r2 AS (SELECT STRING_SPLIT(pair, ' ')[1] AS w1,
                  STRING_SPLIT(pair, ' ')[2] AS w2 FROM t2),
    d2 AS (
      SELECT LIST_FILTER(
               LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)), i ->
                 CASE WHEN SUBSTRING(mk, i, 1) = 'M'
                        THEN w1 || CHR(31) || w2
                      WHEN SUBSTRING(mk, i, 1) = 'c' THEN NULL
                      ELSE toks[i] END),
               t -> t IS NOT NULL) AS toks
      FROM (
        SELECT toks, r2.w1, r2.w2,
               REGEXP_REPLACE(
                 ARRAY_TO_STRING(LIST_TRANSFORM(toks, t ->
                   CASE WHEN t = r2.w1 THEN 'a'
                        WHEN t = r2.w2 THEN 'b'
                        ELSE '0' END), ''),
                 CASE WHEN r2.w1 = r2.w2 THEN 'aa' ELSE 'ab' END,
                 'Mc', 'g') AS mk
        FROM d1 CROSS JOIN r2
      )
    ),
    c3 AS (
      SELECT UNNEST(CASE WHEN LEN(toks) >= 2
             THEN LIST_TRANSFORM(GENERATE_SERIES(2, LEN(toks)),
                    i -> toks[i-1] || ' ' || toks[i])
             ELSE [] END) AS pair
      FROM d2
    ),
    t3 AS (SELECT 3 AS merge_round, pair,
                  CAST(COUNT(*) AS BIGINT) AS n_occurrences
           FROM c3 GROUP BY pair
           ORDER BY n_occurrences DESC, pair ASC LIMIT 1),
    r3 AS (SELECT STRING_SPLIT(pair, ' ')[1] AS w1,
                  STRING_SPLIT(pair, ' ')[2] AS w2 FROM t3),
    d3 AS (
      SELECT LIST_FILTER(
               LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)), i ->
                 CASE WHEN SUBSTRING(mk, i, 1) = 'M'
                        THEN w1 || CHR(31) || w2
                      WHEN SUBSTRING(mk, i, 1) = 'c' THEN NULL
                      ELSE toks[i] END),
               t -> t IS NOT NULL) AS toks
      FROM (
        SELECT toks, r3.w1, r3.w2,
               REGEXP_REPLACE(
                 ARRAY_TO_STRING(LIST_TRANSFORM(toks, t ->
                   CASE WHEN t = r3.w1 THEN 'a'
                        WHEN t = r3.w2 THEN 'b'
                        ELSE '0' END), ''),
                 CASE WHEN r3.w1 = r3.w2 THEN 'aa' ELSE 'ab' END,
                 'Mc', 'g') AS mk
        FROM d2 CROSS JOIN r3
      )
    ),
    tot AS (
      SELECT 0 AS stage, CAST(SUM(LEN(toks)) AS BIGINT) AS n FROM d0
      UNION ALL SELECT 1, CAST(SUM(LEN(toks)) AS BIGINT) FROM d1
      UNION ALL SELECT 2, CAST(SUM(LEN(toks)) AS BIGINT) FROM d2
      UNION ALL SELECT 3, CAST(SUM(LEN(toks)) AS BIGINT) FROM d3
    ),
    rules AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2
              UNION ALL SELECT * FROM t3)
    SELECT r.merge_round, r.pair,
           CAST(p.n - c.n AS BIGINT) AS n_merges_applied,
           c.n AS tokens_after_round,
           CAST(c.n AS DOUBLE) / b.n AS compression_vs_raw
    FROM rules r
    JOIN tot p ON p.stage = r.merge_round - 1
    JOIN tot c ON c.stage = r.merge_round
    CROSS JOIN (SELECT n FROM tot WHERE stage = 0) b
    ORDER BY r.merge_round
    """,
    doc="BPE ENCODING statistics — apply the 3 trained merge rules "
    "corpus-wide (the trainer's inference half) and report, per "
    "round, the number of merges actually APPLIED, the token total "
    "after the round, and the running compression ratio vs the raw "
    "corpus. n_merges_applied is a genuinely different statistic "
    "from the trainer's n_occurrences: greedy left-to-right "
    "application merges FEWER than the occurrence count whenever "
    "occurrences overlap ([A,A,A] has 2 occurrences of (A,A) but 1 "
    "applied merge) — pinned by a corpus where the two diverge. "
    "Plan: shares the trainer's control-plane rule cache (one "
    "training run per session+sf), then per round ONE map-side mask "
    "apply plus a 1-row token-total aggregate — 4 corpus scans "
    "total, no new exchanges beyond the trainer's pair counts; at "
    "100 TB the applied counts come from the same flat per-round "
    "cost the trainer pays. compression_vs_raw is a raw int/int->"
    "double division per the float policy (no ROUND: Python's "
    "banker's rounding differs from SQL ROUND at exact-tie "
    "doubles, and both engines divide the identical exact longs). "
    "Cached per (session, sf)",
)
def bpe_encode_corpus(spark, sf_dir):
    from ..operators.similarity import _literal_rows_df as _lit_rows

    def build() -> list[dict]:
        rules = _bpe_train(spark, sf_dir)
        cur = _bpe_corpus(spark, sf_dir)

        def total(df):
            v = df.agg(F.sum(F.size("t")).cast("long").alias("n")).collect()
            return int(v[0]["n"] or 0)

        totals = [total(cur)]
        for r in rules:
            w1, w2 = r["pair"].split(" ", 1)
            cur = cur.select(_bpe_apply_mask(F.col("t"), w1, w2).alias("t"))
            totals.append(total(cur))
        base = totals[0]
        return [
            {
                "merge_round": r["merge_round"],
                "pair": r["pair"],
                "n_merges_applied": totals[i] - totals[i + 1],
                "tokens_after_round": totals[i + 1],
                "compression_vs_raw": totals[i + 1] / base,
            }
            for i, r in enumerate(rules)
        ]

    rows = session_memo(spark, (sf_dir, "bpe_encode_stats"), build)
    schema = (
        "merge_round: int, pair: string, n_merges_applied: long, "
        "tokens_after_round: long, compression_vs_raw: double"
    )
    if not rows:
        return spark.range(0).select(
            F.col("id").cast("int").alias("merge_round"),
            F.lit("").alias("pair"),
            F.col("id").alias("n_merges_applied"),
            F.col("id").alias("tokens_after_round"),
            F.col("id").cast("double").alias("compression_vs_raw"),
        )
    return _lit_rows(spark, rows, schema).orderBy("merge_round")


def _lm_aug_pair_counts(spark, sf_dir):
    """The bigram LM's count base, materialized ONCE per (session,
    sf): a single corpus scan builds the AUGMENTED pair-count table —
    every token position i contributes (w_i, w_{i+1}), with the last
    position paired against NULL — grouped to (w1, w2, c) and
    localCheckpoint'ed (vocabulary-shaped, tiny relative to the
    corpus). From this one relation derive, with no further corpus
    scans: c2 (rows with w2 NOT NULL — the bigram counts), c1 (w1
    rollup of c2 — the left-context counts), and V (distinct w1 —
    every token occupies position w1 exactly once per occurrence, so
    distinct w1 IS the full vocabulary, including last-position-only
    and one-token-doc tokens). This is the r11 VERDICT #2 fix: the
    old plan re-derived the c2 subtree for c1 and scanned again for V
    (~4 tokenize passes — exchange reuse does not fire across
    branches); now the corpus pays exactly TWO scans: this
    materialization and the scoring stream. The checkpoint (not
    persist — the measured-worse full-corpus persist was rejected in
    r11) holds only the count table."""

    def build() -> DataFrame:
        d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
        t = text.tokens("text")
        n = F.size(t)
        shifted = F.concat(
            F.slice(t, 2, n - 1), F.array(F.lit(None).cast("string"))
        )
        pairs = F.when(
            n >= 1,
            F.zip_with(
                t,
                shifted,
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
        return (
            d.select(F.explode(pairs).alias("p"))
            .select("p.w1", "p.w2")
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .localCheckpoint()
        )

    return session_memo(spark, (sf_dir, "bigram_lm_aug_counts"), build)



@query(
    "bigram_lm_surprisal_topk",
    oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    bg AS (
      SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2
      FROM toks_cte, UNNEST(GENERATE_SERIES(2, LEN(toks))) AS u(i)
      WHERE LEN(toks) >= 2
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
           FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT UNNEST(toks) AS w FROM toks_cte)),
    scored AS (
      SELECT f.doc_id,
             CAST(ROUND(LOG2(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM bg f JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ),
    per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   SUM(lp) AS slp
            FROM scored GROUP BY doc_id)
    SELECT doc_id, n_bigrams,
           ROUND(CAST(-slp AS DOUBLE) / n_bigrams, 6) AS avg_surprisal_bits
    FROM per
    ORDER BY avg_surprisal_bits DESC, doc_id
    LIMIT 10
    """,
    doc="Bigram language-model SURPRISAL scoring — train an add-1-"
    "smoothed bigram LM on the corpus itself and rank the 10 most "
    "surprising documents by mean bits per bigram: the perplexity-"
    "filter shape every pre-training data pipeline runs (docs the "
    "corpus LM finds improbable are boilerplate, noise, or wrong-"
    "language) — the conditional-model upgrade of "
    "unigram_logprob_scores. P(w2|w1) = (c(w1,w2)+1)/(c(w1_)+V) with "
    "c(w1_) the left-context count (sum of bigram counts, NOT raw "
    "unigram frequency — the final token of each doc conditions "
    "nothing) and V the corpus vocabulary. Cross-engine float "
    "discipline: each libm log2 is ROUND(.,6)-quantized then summed "
    "as DECIMAL(18,6) — exact, ORDER-INDEPENDENT summation, so the "
    "per-doc aggregate cannot drift on partition accumulation order "
    "(the summation-order class the float policy exists for); the "
    "only raw double ops are the identical-integer divisions and "
    "the final ROUND 6. Plan (r12 rework, VERDICT r11 #2): the corpus "
    "pays exactly TWO scans — one materializes the AUGMENTED pair-"
    "count table (_lm_aug_pair_counts: every position contributes "
    "(w_i, w_{i+1}), last position paired with NULL; grouped, "
    "localCheckpoint'ed, vocabulary-shaped), one feeds the scoring "
    "bigram stream. c2, c1 AND V are all tiny rollups of the "
    "checkpointed table (distinct w1 IS the vocabulary — every token "
    "occupies w1 once per occurrence), replacing the old ~4 tokenize "
    "passes; the rejected full-corpus persist stays rejected — only "
    "the count table is held. V a 1-row broadcast, the scoring joins "
    "co-key the bigram stream with c2/c1, a doc-keyed avg ends it — "
    "every exchange is pair- or vocab-scale, TakeOrdered bounds the "
    "output at 10. At 100 TB the LM tables are vocabulary-sized "
    "(shuffle volume independent of corpus growth per distinct "
    "bigram) and the stream joins stay co-partitioned; no "
    "driver-side corpus state",
)
def bigram_lm_surprisal_topk(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    toked = d.select("doc_id", text.tokens("text").alias("t"))
    k = F.size("t")
    bigrams = F.when(
        k >= 2,
        F.zip_with(
            F.slice(F.col("t"), 1, k - 1),
            F.slice(F.col("t"), 2, k - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    bg = toked.select("doc_id", F.explode(bigrams).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    cp = _lm_aug_pair_counts(spark, sf_dir)
    c2 = cp.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("c").alias("c2")
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    v = cp.agg(F.countDistinct("w1").cast("long").alias("v"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log2(
                    (F.col("c2") + 1).cast("double")
                    / (F.col("c1") + F.col("v"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("lp").alias("slp"),
    )
    return (
        per.select(
            "doc_id",
            "n_bigrams",
            F.round(
                (-F.col("slp")).cast("double") / F.col("n_bigrams"), 6
            ).alias("avg_surprisal_bits"),
        )
        .orderBy(F.desc("avg_surprisal_bits"), F.asc("doc_id"))
        .limit(10)
    )


def _trigram_backoff_counts(spark, sf_dir):
    """The trigram LM's count base over the TRAIN half (doc_id % 2 ==
    0 — the kl_lang_drift split precedent), materialized ONCE per
    (session, sf) from a SINGLE corpus scan: every token position i
    contributes (w_i, w_{i+1}|NULL, w_{i+2}|NULL), grouped to
    (w1, w2, w3, c) and localCheckpoint'ed. From this one n-gram-
    shaped relation derive with no further corpus scans: c3 (rows
    with w2,w3 non-null), c2 (w2-non-null rollup to (w1,w2) — every
    bigram position appears exactly once regardless of w3), c1 (w1
    rollup — raw token counts), N (Σc1) and V (distinct w1) — the
    bigram entry's augmented-pair trick extended one order."""

    def build() -> DataFrame:
        d = ensure_min_partitions(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
        )
        t = text.tokens("text")
        n = F.size(t)

        def shift(by: int):
            return F.concat(
                F.slice(t, 1 + by, F.greatest(n - by, F.lit(0))),
                F.array_repeat(F.lit(None).cast("string"), F.least(n, F.lit(by))),
            )

        trips = F.when(
            n >= 1,
            F.zip_with(
                t,
                F.zip_with(
                    shift(1),
                    shift(2),
                    lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
                ),
                lambda a, y: F.struct(
                    a.alias("w1"),
                    y["w2"].alias("w2"),
                    y["w3"].alias("w3"),
                ),
            ),
        ).otherwise(
            F.expr("array()").cast(
                "array<struct<w1:string,w2:string,w3:string>>"
            )
        )
        return (
            d.select(F.explode(trips).alias("p"))
            .select("p.w1", "p.w2", "p.w3")
            .groupBy("w1", "w2", "w3")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .localCheckpoint()
        )

    return session_memo(spark, (sf_dir, "trigram_backoff_counts"), build)


@query(
    "trigram_backoff_surprisal_topk",
    oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    pos AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
      FROM (SELECT toks FROM toks_cte WHERE doc_id % 2 = 0) tr,
           UNNEST(GENERATE_SERIES(1, LEN(toks))) AS u(i)
      WHERE LEN(toks) >= 1
    ),
    ct AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c
           FROM pos GROUP BY w1, w2, w3),
    c3 AS (SELECT w1, w2, w3, c AS c3 FROM ct
           WHERE w2 IS NOT NULL AND w3 IS NOT NULL),
    c2 AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS c2 FROM ct
           WHERE w2 IS NOT NULL GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM ct GROUP BY w1),
    nv AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok,
                  CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM ct),
    sc AS (
      SELECT doc_id, tg.w1 AS w1, tg.w2 AS w2, tg.w3 AS w3 FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(
                 CASE WHEN LEN(toks) >= 3
                      THEN GENERATE_SERIES(3, LEN(toks)) ELSE [] END,
                 i -> {{'w1': toks[i-2], 'w2': toks[i-1], 'w3': toks[i]}}
               )) AS tg
        FROM toks_cte WHERE doc_id % 2 = 1) s
    ),
    scored AS (
      SELECT sc.doc_id,
             CAST(ROUND(LOG2(
               CASE
                 WHEN g3.c3 IS NOT NULL
                   THEN CAST(g3.c3 AS DOUBLE) / g2a.c2
                 WHEN g2b.c2 IS NOT NULL
                   THEN 0.4 * (CAST(g2b.c2 AS DOUBLE) / g1b.c1)
                 ELSE 0.4 * (0.4 * (CAST(COALESCE(g1c.c1, 0) + 1 AS DOUBLE)
                                    / (nv.n_tok + nv.v)))
               END), 6) AS DECIMAL(18,6)) AS lp
      FROM sc
      LEFT JOIN c3 g3 ON g3.w1 = sc.w1 AND g3.w2 = sc.w2 AND g3.w3 = sc.w3
      LEFT JOIN c2 g2a ON g2a.w1 = sc.w1 AND g2a.w2 = sc.w2
      LEFT JOIN c2 g2b ON g2b.w1 = sc.w2 AND g2b.w2 = sc.w3
      LEFT JOIN c1 g1b ON g1b.w1 = sc.w2
      LEFT JOIN c1 g1c ON g1c.w1 = sc.w3
      CROSS JOIN nv
    ),
    per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
                   SUM(lp) AS slp
            FROM scored GROUP BY doc_id)
    SELECT doc_id, n_trigrams,
           ROUND(CAST(-slp AS DOUBLE) / n_trigrams, 6) AS avg_surprisal_bits
    FROM per
    ORDER BY avg_surprisal_bits DESC, doc_id
    LIMIT 10
    """,
    doc="Trigram LM with STUPID BACKOFF (Brants et al. 2007, the "
    "distributed-scale smoothing — chosen over Kneser-Ney exactly "
    "because its score is a closed-form count ratio both engines "
    "spell identically) — the CCNet/KenLM-shaped perplexity filter "
    "the bigram entry approximates (r11 VERDICT ask #4). HELD-OUT "
    "scoring so backoff actually fires: train counts on even doc_ids, "
    "score odd doc_ids; S(w3|w1w2) = c3/c2 when the trigram was seen, "
    "else 0.4*S(w3|w2) = 0.4*c23/c1(w2) when the bigram was seen, "
    "else 0.4^2*(c1(w3)+1)/(N+V) — the unigram floor is add-1 so an "
    "OOV token scores finitely (c3>0 implies c2>0 and c23>0 implies "
    "c1(w2)>0, so the seen-branch denominators never need guards). "
    "Cross-engine float discipline inherited from "
    "bigram_lm_surprisal_topk: every libm log2 is ROUND(.,6)-"
    "quantized then summed as DECIMAL(18,6) — exact, order-"
    "independent; the CASE arms mirror the identical IEEE expression "
    "trees on both engines (division before the 0.4 products, same "
    "nesting). Plan: the train half pays ONE scan into the "
    "materialized augmented trigram-count table "
    "(_trigram_backoff_counts — c3/c2/c1/N/V all rollups of it), the "
    "score half pays one trigram-explode scan; scoring is five "
    "co-keyed n-gram-table joins + a 1-row (N,V) broadcast, a "
    "doc-keyed decimal avg, TakeOrdered 10. At 100 TB every exchange "
    "is n-gram-table-shaped (independent of corpus row growth per "
    "distinct n-gram); no driver-side corpus state",
)
def trigram_backoff_surprisal_topk(spark, sf_dir):
    ct = _trigram_backoff_counts(spark, sf_dir)
    c3 = ct.filter(
        F.col("w2").isNotNull() & F.col("w3").isNotNull()
    ).select("w1", "w2", "w3", F.col("c").alias("c3"))
    c2 = (
        ct.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.sum("c").cast("long").alias("c2"))
    )
    c1 = ct.groupBy("w1").agg(F.sum("c").cast("long").alias("c1"))
    nv = ct.agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.countDistinct("w1").cast("long").alias("v"),
    )
    d = ensure_min_partitions(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    )
    toked = d.select("doc_id", text.tokens("text").alias("t"))
    n = F.size("t")
    trigrams = F.when(
        n >= 3,
        F.zip_with(
            F.slice(F.col("t"), 1, n - 2),
            F.zip_with(
                F.slice(F.col("t"), 2, n - 2),
                F.slice(F.col("t"), 3, n - 2),
                lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
            ),
            lambda a, y: F.struct(
                a.alias("w1"), y["w2"].alias("w2"), y["w3"].alias("w3")
            ),
        ),
    ).otherwise(
        F.expr("array()").cast("array<struct<w1:string,w2:string,w3:string>>")
    )
    sc = toked.select("doc_id", F.explode(trigrams).alias("p")).select(
        "doc_id", "p.w1", "p.w2", "p.w3"
    )
    j = (
        sc.join(c3, ["w1", "w2", "w3"], "left")
        .join(c2.select("w1", "w2", F.col("c2").alias("c2a")), ["w1", "w2"], "left")
        .join(
            c2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2b"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            c1.select(F.col("w1").alias("w2"), F.col("c1").alias("c1b")),
            ["w2"],
            "left",
        )
        .join(
            c1.select(F.col("w1").alias("w3"), F.col("c1").alias("c1c")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(nv))
    )
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2a"),
        )
        .when(
            F.col("c2b").isNotNull(),
            F.lit(0.4) * (F.col("c2b").cast("double") / F.col("c1b")),
        )
        .otherwise(
            F.lit(0.4)
            * (
                F.lit(0.4)
                * (
                    (F.coalesce(F.col("c1c"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_tok") + F.col("v"))
                )
            )
        )
    )
    scored = j.select(
        "doc_id", F.round(F.log2(s), 6).cast("decimal(18,6)").alias("lp")
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum("lp").alias("slp"),
    )
    return (
        per.select(
            "doc_id",
            "n_trigrams",
            F.round(
                (-F.col("slp")).cast("double") / F.col("n_trigrams"), 6
            ).alias("avg_surprisal_bits"),
        )
        .orderBy(F.desc("avg_surprisal_bits"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "semantic_diversity_by_label",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, label, embedding,
             {_SQL_NORM.format(a='embedding')} AS nrm
      FROM embeddings
    ),
    comp AS (
      SELECT label, vec_id, i AS k,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) / nrm * 1000000 + 0.5)
                  AS BIGINT) AS vq
      FROM base, UNNEST(GENERATE_SERIES(1, LEN(embedding))) u(i)
      WHERE nrm > 0
    ),
    sk AS (SELECT label, k, CAST(SUM(vq) AS DECIMAL(18,0)) AS sv
           FROM comp GROUP BY label, k),
    s2 AS (SELECT label, SUM(CAST(sv AS DECIMAL(19,0)) * sv) AS s2
           FROM sk GROUP BY label),
    qq AS (SELECT label, SUM(CAST(vq AS DECIMAL(19,0)) * vq) AS q
           FROM comp GROUP BY label),
    nn AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
           FROM base WHERE nrm > 0 GROUP BY label)
    SELECT nn.label, nn.n_vectors,
           ROUND(CAST(s2.s2 - qq.q AS DOUBLE)
                 / (1000000000000.0 * nn.n_vectors * (nn.n_vectors - 1)), 6)
             AS mean_pairwise_cosine
    FROM nn JOIN s2 USING (label) JOIN qq USING (label)
    WHERE nn.n_vectors >= 2
    ORDER BY nn.label
    """,
    doc="Per-label semantic DIVERSITY — the mean pairwise cosine "
    "similarity among all C(n,2) normalized embedding pairs — "
    "computed WITHOUT materializing a single pair: mean_ij cos = "
    "(||SUM v||^2 - SUM ||v||^2) / (n(n-1)) for unit vectors, so one "
    "component-sum pass replaces the O(n^2) self-join (at 1M vectors "
    "per label that is 5e11 avoided pairs; SemDeDup-style dedup asks "
    "the pairwise question — this entry answers its aggregate form "
    "linearly). Cross-engine exactness: normalized components land "
    "on an integer grid via the proven floor(x*1e6 + 0.5) halfway "
    "rule (quantize_int8's spelling — round() half-even vs half-away "
    "differs across engines, floor(+0.5) does not), and every "
    "aggregate downstream is exact BIGINT/DECIMAL arithmetic — "
    "order-independent, immune to partition accumulation order; the "
    "only doubles are the per-row norm (array-order fold, "
    "deterministic both engines) and the final division consumed by "
    "ROUND 6. Plan: one posexplode (map-side), a (label, k)-keyed "
    "partial-agg exchange of labels x dim cells, two label-keyed "
    "1-exchange rollups, broadcast-sized label joins — shuffle "
    "volume is vocabulary-shaped (labels x dim), INDEPENDENT of "
    "corpus row count after map-side combine. At 100 TB this is the "
    "only shape that survives: the pairwise formulation is "
    "quadratic-dead at any scale",
)
def semantic_diversity_by_label(spark, sf_dir):
    from ..functions import vectors

    e = ensure_min_partitions(_t(spark, sf_dir, "embeddings"))
    q_grid = 1_000_000
    base = e.select(
        "vec_id", "label", "embedding",
        vectors.norm(F.col("embedding")).alias("nrm"),
    ).filter(F.col("nrm") > 0)
    comp = base.select(
        "label",
        "vec_id",
        "nrm",
        F.posexplode("embedding").alias("k", "x"),
    ).select(
        "label",
        "vec_id",
        "k",
        F.floor(
            F.col("x").cast("double") / F.col("nrm") * q_grid + 0.5
        ).cast("long").alias("vq"),
    )
    # r11 VERDICT hardening: sum the quantized components in DECIMAL,
    # not Long — F.sum(long) wraps SILENTLY under a non-ANSI session
    # once one label accumulates ~9e12 full-magnitude components
    # (within one order of magnitude of this entry's own 100 TB
    # framing). DECIMAL(28,0) is exact to 1e28 ≫ any reachable n·grid;
    # the loud assert_true fires before the downstream decimal(18,0)
    # narrowing could itself NULL silently (the cusum/wedge idiom).
    d18max = F.lit("999999999999999999").cast("decimal(28,0)")
    sk = (
        comp.groupBy("label", "k")
        .agg(F.sum(F.col("vq").cast("decimal(18,0)")).alias("__sv"))
        .filter(
            F.assert_true(
                F.abs(F.col("__sv")) <= d18max,
                F.lit(
                    "semantic_diversity_by_label: per-(label,k) "
                    "component sum exceeds DECIMAL(18,0) — the s2 "
                    "product would overflow; widen sv before squaring"
                ),
            ).isNull()
        )
        .select(
            "label", "k", F.col("__sv").cast("decimal(18,0)").alias("sv")
        )
    )
    s2 = sk.groupBy("label").agg(
        F.sum(F.col("sv").cast("decimal(19,0)") * F.col("sv")).alias("s2")
    )
    qq = comp.groupBy("label").agg(
        F.sum(F.col("vq").cast("decimal(19,0)") * F.col("vq")).alias("q")
    )
    nn = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return (
        nn.join(s2, "label")
        .join(qq, "label")
        .filter(F.col("n_vectors") >= 2)
        .select(
            "label",
            "n_vectors",
            F.round(
                (F.col("s2") - F.col("q")).cast("double")
                / (
                    F.lit(1_000_000_000_000.0)
                    * F.col("n_vectors")
                    * (F.col("n_vectors") - 1)
                ),
                6,
            ).alias("mean_pairwise_cosine"),
        )
        .orderBy("label")
    )


@query(
    "benford_price_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(SUBSTRING(printf('%d',
                   CAST(ROUND(o_totalprice * 100) AS BIGINT)), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT digit, n,
           n / CAST(total AS DOUBLE) AS obs_freq,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_freq,
           ROUND(ABS(n / CAST(total AS DOUBLE)
                     - ROUND(LOG10(1.0 + 1.0 / digit), 6)), 6) AS abs_dev
    FROM c CROSS JOIN t
    """,
    doc="Benford's-law first-digit screen over order values — the "
    "classic forensic data-quality test (synthetic or fabricated "
    "monetary columns flunk the log-curve): distribution of the "
    "leading digit of exact cents vs the Benford expectation "
    "log10(1+1/d), with per-digit absolute deviation. The leading "
    "digit comes from the INTEGER cents string (exact on both "
    "engines; x100 shifts the decimal point without changing the "
    "leading digit), obs_freq is one long/long->double division of "
    "identical operands, and the libm log10 is rounded to 6dp "
    "before the deviation subtraction so both engines subtract the "
    "identical quantized operand. Plan: map-side digit extraction, "
    "one 9-cell groupBy, a 1-row total broadcast — flat at any "
    "scale, the DQ-suite shape",
)
def benford_price_digits(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    benford = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    obs = F.col("n") / F.col("total").cast("double")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        obs.alias("obs_freq"),
        benford.alias("benford_freq"),
        F.round(F.abs(obs - benford), 6).alias("abs_dev"),
    )


@query(
    "cusum_changepoint_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(c) AS BIGINT) AS tot FROM daily),
    cum AS (
      SELECT day, c,
             CAST(SUM(c) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cumc,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k
      FROM daily
    ),
    scaled AS (
      SELECT day, CAST(st.n * cumc - k * st.tot AS BIGINT) AS cusum_scaled
      FROM cum CROSS JOIN st
    ),
    peak AS (SELECT MAX(ABS(cusum_scaled)) AS mx FROM scaled)
    SELECT day, cusum_scaled,
           ABS(cusum_scaled) = peak.mx AS is_changepoint
    FROM scaled CROSS JOIN peak
    """,
    doc="CUSUM change-point detection on daily revenue in EXACT "
    "integer arithmetic: the textbook statistic cum_k - k*mean "
    "carries a non-integer mean, so both engines compute the "
    "n-SCALED form n*cum_k - k*total — exact integer arithmetic, "
    "bit-identical, zero float ops anywhere. The multiply runs in "
    "DECIMAL(38,0) (days x total-cents crosses int64 well below "
    "100 TB; the pinned non-ANSI session would wrap a long product "
    "SILENTLY — the trend_slope lesson) with an assert_true "
    "backstop before the BIGINT output cast — and flags "
    "the argmax |CUSUM| day, the changepoint a level-shift monitor "
    "alerts on. Plan: one orders-sized daily rollup (exact cents, "
    "map-side combine), then EVERYTHING downstream operates on the "
    "dates-sized relation (~2.4k rows over the 7-year window): the "
    "cumulative window's single-partition sort is calendar-bounded "
    "(the ewma_daily_revenue precedent), and n/tot/peak cross as "
    "1-row broadcasts. At 100 TB only the rollup grows",
)
def cusum_changepoint_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("c")
    )
    st = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("tot"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wk = Window.orderBy("day")
    cum = daily.select(
        "day",
        F.sum("c").over(w).cast("long").alias("cumc"),
        F.row_number().over(wk).cast("long").alias("k"),
    )
    # ADVICE r9: days × total-cents approaches int64 well below the
    # 100 TB operating point, and the session pins ANSI off — plain
    # long products would WRAP silently while DuckDB errors. The
    # scaled statistic is therefore computed in DECIMAL(38,0)
    # (exact to 1e38 ≫ any reachable n·tot), with a loud assert_true
    # backstop before the contract-mandated BIGINT cast (non-ANSI
    # decimal→long overflow yields NULL, another silent path).
    d19 = "decimal(19,0)"
    sd = F.col("n").cast(d19) * F.col("cumc").cast(d19) - F.col("k").cast(
        d19
    ) * F.col("tot").cast(d19)
    i64max = F.lit("9223372036854775807").cast("decimal(38,0)")
    scaled = (
        cum.crossJoin(F.broadcast(st))
        .select("day", sd.alias("__sd"))
        .filter(
            F.assert_true(
                F.abs(F.col("__sd")) <= i64max,
                F.lit(
                    "cusum_changepoint_revenue: n*cumc - k*tot exceeds "
                    "int64 — the BIGINT output contract cannot hold at "
                    "this data scale; widen the column to DECIMAL"
                ),
            ).isNull()
        )
        .select("day", F.col("__sd").cast("long").alias("cusum_scaled"))
    )
    peak = scaled.agg(F.max(F.abs("cusum_scaled")).alias("mx"))
    return scaled.crossJoin(F.broadcast(peak)).select(
        "day",
        "cusum_scaled",
        (F.abs("cusum_scaled") == F.col("mx")).alias("is_changepoint"),
    )


@query(
    "vocab_growth_curve",
    # r12 dual-SQL port: split_part fan-out replaces the UNNEST
    # expansion; ids stays a min/max over ALL documents (the RS/US
    # exclusion in cl is vacuous on TESTDATA, bucketing unchanged).
    oracle=f"""
    WITH {_sql_tok_expand(_SQL_COLLAPSE_LOWER)},
    ids AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    ex AS (
      SELECT CAST(FLOOR(10 * (tok.doc_id - ids.lo)
                        / (ids.hi - ids.lo + 1)) AS INT) AS bucket,
             term
      FROM tok CROSS JOIN ids
    ),
    first_seen AS (SELECT term, MIN(bucket) AS b FROM ex GROUP BY term),
    per AS (SELECT b AS bucket, CAST(COUNT(*) AS BIGINT) AS new_terms
            FROM first_seen GROUP BY b)
    SELECT bucket, new_terms,
           CAST(SUM(new_terms) OVER (ORDER BY bucket
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum_vocab
    FROM per
    """,
    perf_oracle=f"""
    WITH toks_cte AS ({_SQL_TOKS}),
    ids AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    ex AS (
      SELECT CAST(FLOOR(10 * (t.doc_id - ids.lo)
                        / (ids.hi - ids.lo + 1)) AS INT) AS bucket,
             LOWER(UNNEST(t.toks)) AS term
      FROM toks_cte t CROSS JOIN ids
    ),
    first_seen AS (SELECT term, MIN(bucket) AS b FROM ex GROUP BY term),
    per AS (SELECT b AS bucket, CAST(COUNT(*) AS BIGINT) AS new_terms
            FROM first_seen GROUP BY b)
    SELECT bucket, new_terms,
           CAST(SUM(new_terms) OVER (ORDER BY bucket
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum_vocab
    FROM per
    """,
    doc="Heaps'-law vocabulary growth curve — how fast the corpus "
    "vocabulary grows as documents are ingested, the measurement "
    "behind 'does more data still buy new tokens' and the empirical "
    "basis for the tfidf entry's sublinear-vocabulary argument. Docs "
    "are assigned to 10 ingest buckets by doc_id range arithmetic "
    "against a 1-row min/max broadcast (NO global NTILE sort — at "
    "100 TB a percent-rank bucketing would shuffle the corpus; the "
    "range formula is map-side), each term's FIRST bucket is one "
    "term-keyed groupBy over the exploded tokens, new-term counts "
    "per bucket follow, and the cumulative curve is a 10-row window. "
    "Two shuffles total, both vocabulary-bounded after the explode",
)
def vocab_growth_curve(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    ids = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    ex = d.crossJoin(F.broadcast(ids)).select(
        F.floor(
            10 * (F.col("doc_id") - F.col("lo")) / (F.col("hi") - F.col("lo") + 1)
        )
        .cast("int")
        .alias("bucket"),
        F.explode(text.tokens("text")).alias("t0"),
    ).select("bucket", F.lower("t0").alias("term"))
    first_seen = ex.groupBy("term").agg(F.min("bucket").alias("bucket"))
    per = first_seen.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("new_terms")
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "bucket",
        "new_terms",
        F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
    )


@query(
    "dup_cluster_size_distribution",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte_body(16, 4, 0.5)},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM mhpairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM mhpairs
    ),
    walk(node, comp) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
    ),
    comp AS (SELECT node, MIN(comp) AS cluster_id FROM walk GROUP BY node),
    clus AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM clus GROUP BY cluster_id)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    doc="near-dup cluster SIZE distribution — the power-law histogram "
    "every dedup report leads with (how much of the corpus sits in "
    "how-big duplicate families; the number that decides whether "
    "dedup keeps 99%% or 60%% of the data): MinHash-LSH edges -> "
    "connected components (the minhash_clusters composition) -> one "
    "cluster-keyed count -> one size-keyed count. The two extra "
    "aggregations beyond minhash_clusters are cluster-bounded and "
    "size-bounded — noise at any scale. Oracle replays the identical "
    "recursive-CTE fixpoint and folds the same two aggregations",
)
def dup_cluster_size_distribution(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    edges = dedup.minhash_near_dup_pairs(
        d, num_hashes=16, bands=4, shingle_n=3, threshold=0.5
    ).select("id_a", "id_b")
    clus = dedup.near_dup_clusters(d, edges)
    sizes = clus.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )



@query(
    "kl_lang_drift",
    oracle="""
    WITH c AS (
      SELECT lang,
             CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM documents GROUP BY lang
    ),
    t AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) AS BIGINT) AS tot_b,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM c
    )
    SELECT lang, n_a, n_b,
           (n_a + 1) / CAST(tot_a + k AS DOUBLE) AS p,
           (n_b + 1) / CAST(tot_b + k AS DOUBLE) AS q,
           ROUND(((n_a + 1) / CAST(tot_a + k AS DOUBLE))
                 * LN(((n_a + 1) / CAST(tot_a + k AS DOUBLE))
                      / ((n_b + 1) / CAST(tot_b + k AS DOUBLE))), 6)
             AS kl_contribution
    FROM c CROSS JOIN t
    """,
    doc="KL-divergence language drift between two deterministic "
    "corpus halves (doc_id parity — the A/B shard comparison every "
    "mixture-rebalance decision needs; swap the parity predicate for "
    "a snapshot/date predicate in production): per-language add-one-"
    "smoothed probabilities under BOTH halves and each language's "
    "signed KL contribution p*ln(p/q), whose sum is KL(P||Q). "
    "Exactness: p and q are single long/long->double divisions of "
    "identical operands; the libm LN is consumed by a ROUND 6 like "
    "every transcendental in the registry. Plan: ONE language-keyed "
    "groupBy computes both halves' counts as conditional sums in the "
    "same pass (no second scan, no join of two half-aggregates), a "
    "1-row totals broadcast, map-side contributions — the PSI/"
    "chi-square DQ shape, flat at any scale. ACCEPTED at its x1000 "
    "multiple (~2s absolute, flat decade growth): a one-groupBy scan "
    "has nothing to re-plan; the multiple is the tiny-absolute "
    "per-stage constant. ANSI oracle: runs "
    "unmodified on Spark SQL (dual-green)",
)
def kl_lang_drift(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.sum((F.col("doc_id") % 2 == 0).cast("long")).cast("long").alias("n_a"),
        F.sum((F.col("doc_id") % 2 == 1).cast("long")).cast("long").alias("n_b"),
    )
    t = c.agg(
        F.sum("n_a").cast("long").alias("tot_a"),
        F.sum("n_b").cast("long").alias("tot_b"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    p = (F.col("n_a") + 1) / (F.col("tot_a") + F.col("k")).cast("double")
    q = (F.col("n_b") + 1) / (F.col("tot_b") + F.col("k")).cast("double")
    return c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_a",
        "n_b",
        p.alias("p"),
        q.alias("q"),
        F.round(p * F.log(p / q), 6).alias("kl_contribution"),
    )


@query(
    "lorenz_gini_order_value",
    oracle="""
    WITH v AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x, o_orderkey AS k
      FROM orders
    ),
    r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, k) AS rk FROM v),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
    d AS (
      SELECT CAST(FLOOR((rk - 1) * 10.0 / n) AS INT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(x) AS decile_value,
             SUM(rk * x) AS srx_part
      FROM r CROSS JOIN t
      GROUP BY 1
    ),
    t2 AS (
      SELECT CAST(SUM(n_orders) AS BIGINT) AS n,
             CAST(SUM(decile_value) AS DOUBLE) AS sx,
             CAST(SUM(srx_part) AS DOUBLE) AS srx
      FROM d
    )
    SELECT d.decile, d.n_orders,
           CAST(d.decile_value AS DOUBLE) AS decile_value,
           ROUND(CAST(SUM(d.decile_value) OVER (ORDER BY d.decile)
                      AS DOUBLE) / t2.sx, 6) AS cum_share,
           ROUND((2.0 * t2.srx - (CAST(t2.n AS DOUBLE) + 1.0) * t2.sx)
                 / (CAST(t2.n AS DOUBLE) * t2.sx), 6) AS gini
    FROM d CROSS JOIN t2
    ORDER BY d.decile
    """,
    doc="EXACT global Lorenz curve + Gini coefficient of order value "
    "— the inequality statistic behind every 'top-X% of customers "
    "drive Y% of revenue' claim — computed WITHOUT a single-"
    "partition rank. The naive row_number() OVER (ORDER BY x) "
    "funnels the whole fact table through one task; this entry "
    "reuses the two-pass radix-rank pattern (corpus.py "
    "global_shuffle_index) with FIXED-WIDTH VALUE buckets as the "
    "monotone prefix of the total order: per-bucket counts (a "
    "control-plane-sized collect), cumulative offsets broadcast "
    "back as a JVM-literal relation, rank = offset + row_number "
    "within bucket. (x, o_orderkey) is a unique total order, so "
    "ranks are layout-independent and the decile/Gini sums are "
    "exact DECIMAL arithmetic — srx caps at rank*price*N ~ 1e28 at "
    "100 TB, inside DECIMAL(38,2). The FINAL decile_value is cast "
    "DOUBLE on both sides (r11): the interior sums stay exact "
    "decimals, but a decimal-typed final column is driver-hash-"
    "hostile — Spark's toPandas keeps object Decimal('x.40') while "
    "DuckDB's fetchdf emits float64 x.4, the r10 hash red; decimal->"
    "nearest-double of the same exact sum is identical on both "
    "engines (gated registry-wide by tests/test_driver_schema_gate"
    ".py). Gini = (2*SUM(rk*x) - (n+1)*"
    "SUM(x)) / (n*SUM(x)) on ascending ranks; the division is the "
    "only double, consumed by ROUND 6. Totals come from the 10 "
    "decile partials (sum of sums), NOT a second pass over the "
    "ranked rows — one rank window, one groupBy, one 10-row window. "
    "Bucket width 2000 ≈ 250 buckets over the [1k, 500k] price "
    "range — the parallelism knob: each bucket's rank window is ONE "
    "task, so 250 buckets keep 32 cores saturated at x1000 (the "
    "first-cut width 25000 ≈ 20 buckets ran the 150M-row sort on 20 "
    "tasks: 72.9s; 250 buckets measured 46.4s, the residual being "
    "the count pre-pass scan plus the exchange itself) while the "
    "offsets relation stays control-plane-sized. DuckDB's global "
    "ROW_NUMBER on the identical oracle takes 435s at x1000 — the "
    "radix rank is 9.4x AHEAD at the fourth decade, the whole point "
    "of the pattern. At 100 TB widen the bucket count toward "
    "executor-slot multiples; no partition ever holds more than one "
    "bucket's rows. ANSI oracle: runs unmodified on Spark SQL "
    "(dual-green)",
)
def lorenz_gini_order_value(spark, sf_dir):
    from ..operators.corpus import _literal_rows_df as _lit

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        F.col("o_orderkey").alias("k"),
    )
    withb = o.withColumn(
        "__b", F.floor(F.col("x") / F.lit(2000)).cast("int")
    )
    counts = sorted(
        (r["__b"], r["__n"])
        for r in withb.groupBy("__b").agg(F.count(F.lit(1)).alias("__n")).collect()
    )
    offsets, acc = [], 0
    for b, nrows in counts:
        offsets.append({"__b": b, "__off": acc})
        acc += nrows
    n_total = acc
    off = F.broadcast(
        _lit(spark, offsets, "__b: int, __off: long")
    )
    wb = Window.partitionBy("__b").orderBy(F.asc("x"), F.asc("k"))
    ranked = (
        withb.join(off, "__b")
        .withColumn("rk", (F.col("__off") + F.row_number().over(wb)).cast("long"))
    )
    d = (
        ranked.groupBy(
            F.floor((F.col("rk") - 1) * 10.0 / F.lit(n_total))
            .cast("int")
            .alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("x").alias("dv"),
            F.sum(F.col("rk") * F.col("x")).alias("srx_part"),
        )
    )
    wtot = Window.partitionBy(F.pmod(F.col("decile"), F.lit(1))).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.partitionBy(F.pmod(F.col("decile"), F.lit(1))).orderBy("decile")
    n = F.sum("n_orders").over(wtot).cast("double")
    sx = F.sum("dv").over(wtot).cast("double")
    srx = F.sum("srx_part").over(wtot).cast("double")
    return d.select(
        "decile",
        "n_orders",
        F.col("dv").cast("double").alias("decile_value"),
        F.round(F.sum("dv").over(wcum).cast("double") / sx, 6).alias("cum_share"),
        F.round(
            (F.lit(2.0) * srx - (n + F.lit(1.0)) * sx) / (n * sx), 6
        ).alias("gini"),
    ).orderBy("decile")


@query(
    "corpus_mass_by_length_bucket",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(LOG2(n_chars)) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars_in_bucket
      FROM documents
      WHERE n_chars > 0
      GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(chars_in_bucket) AS DOUBLE) AS total FROM b)
    SELECT bucket, n_docs, chars_in_bucket,
           ROUND(CAST(chars_in_bucket AS DOUBLE) / total, 6) AS bucket_share,
           ROUND(CAST(SUM(chars_in_bucket) OVER (ORDER BY bucket)
                      AS DOUBLE) / total, 6) AS cum_share
    FROM b CROSS JOIN t
    ORDER BY bucket
    """,
    doc="Corpus mass by log2 document-length bucket with cumulative "
    "share — the length histogram every pre-training mixture report "
    "leads with ('docs under 2^9 chars hold 40% of the corpus'), "
    "and the scalable stand-in for the sort-hungry decile version: "
    "fixed log2 buckets need NO global rank, just one groupBy of "
    "the scan to ~15 cells. FLOOR(LOG2(n)) is boundary-stable cross-"
    "engine: powers of two convert exactly to double, so log2 hits "
    "the integer exactly; all other values sit strictly inside a "
    "bucket. Shares are single divisions of exact longs consumed by "
    "ROUND 6; the cumulative window runs over bucket-count rows "
    "(control-plane-sized). ACCEPTED at its x1000 multiple (~2s "
    "absolute, flat): one groupBy of the scan to ~15 cells — the "
    "multiple is the tiny-absolute per-stage constant, not a shape "
    "defect. ANSI oracle: runs unmodified on Spark "
    "SQL (dual-green)",
)
def corpus_mass_by_length_bucket(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    b = (
        d.filter(F.col("n_chars") > 0)
        .groupBy(
            F.floor(F.log2("n_chars")).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).cast("long").alias("chars_in_bucket"),
        )
    )
    wtot = Window.partitionBy(F.pmod(F.col("bucket"), F.lit(1))).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.partitionBy(F.pmod(F.col("bucket"), F.lit(1))).orderBy("bucket")
    total = F.sum("chars_in_bucket").over(wtot).cast("double")
    return b.select(
        "bucket",
        "n_docs",
        "chars_in_bucket",
        F.round(F.col("chars_in_bucket").cast("double") / total, 6).alias(
            "bucket_share"
        ),
        F.round(
            F.sum("chars_in_bucket").over(wcum).cast("double") / total, 6
        ).alias("cum_share"),
    ).orderBy("bucket")


@query(
    "user_day_entropy_profile",
    oracle="""
    WITH c AS (
      SELECT user_id, CAST(ts AS DATE) AS d, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      GROUP BY user_id, CAST(ts AS DATE), event_type
    ),
    u AS (
      SELECT user_id, d,
             CAST(SUM(n) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(n AS DOUBLE) * LN(CAST(n AS DOUBLE))) AS s
      FROM c
      GROUP BY user_id, d
    ),
    e AS (
      SELECT CASE WHEN k = 1 THEN 0.0
                  ELSE LN(CAST(tot AS DOUBLE)) - s / CAST(tot AS DOUBLE)
             END AS entropy,
             k
      FROM u
    )
    SELECT CAST(FLOOR(entropy / 0.25) AS INT) AS entropy_bin,
           CAST(COUNT(*) AS BIGINT) AS n_user_days,
           CAST(MIN(k) AS BIGINT) AS min_types,
           CAST(MAX(k) AS BIGINT) AS max_types
    FROM e
    GROUP BY 1
    ORDER BY 1
    """,
    doc="Behavioral-diversity histogram: Shannon entropy of each "
    "user-DAY's event-type mix, binned at 0.25 nats — the bot/"
    "monoculture screen (entropy-0 days are single-action loops; "
    "high-entropy days are organic sessions). Day grain because "
    "whole-account entropy converges to the source distribution for "
    "every user (probed: one degenerate bin) — per-day mixes of "
    "2-10 events spread across six bins at every SF. H = ln(tot) - "
    "SUM(n*ln(n))/tot. Plan (the cohort-bitmask move applied to a "
    "bounded DOMAIN instead of a bounded span): event_type is an "
    "enum, so one distinct-scan collects the vocabulary (control-"
    "plane-sized, NULL included as its own type exactly like GROUP "
    "BY treats it) and, when it fits 32 values, per-type counts "
    "become conditional SUMs in a single (user, day) groupBy — ONE "
    "exchange of fixed-width long rows with map-side combine, "
    "entropy decoded from the k columns, and the (user, day, type) "
    "intermediate (22.5M rows at x1000) never shuffles at all "
    "(measured x1000: 20.4s two-exchange -> 12.2s; the residual is "
    "the 4.5M-group exchange plus the vocabulary scan, the "
    "documented local-mode hash-agg constant class — cf. "
    "cohort_retention's acceptance note). ACCEPTED at ~4x behind "
    "DuckDB (r10 paired x1000: Spark 8.8-12.4s vs 2.2-2.7s) after "
    "two further measured attempts both LOST: collect_list + "
    "higher-order-function entropy (no vocab scan, string-array "
    "exchange) 18.0s cold, and a single repartition(user, day) "
    "feeding two partition-local rollups 17.8s cold — the pivot's "
    "one fixed-width exchange with codegen map-side combine is "
    "already the cheapest shape; the verdict-suggested 'partial "
    "per-partition conditional sums before the exchange' IS the "
    "pivot plan's existing partial HashAggregate. The residual is "
    "the cohort-class per-group exchange constant a cluster "
    "amortizes. Wider "
    "vocabularies fall back to the generic two-exchange rollup, "
    "correct at any k. Boundary determinism: the only "
    "entropy that lands EXACTLY on a bin edge is the single-type "
    "day (H=0), forced to literal 0.0 by the k=1 branch in BOTH "
    "engines rather than trusting ln(tot)-tot*ln(tot)/tot to cancel "
    "in FP; every k>=2 entropy is a transcendental strictly inside "
    "a bin (sub-ulp cross-engine sum-order drift cannot cross the "
    "0.25 edge). ANSI oracle: runs unmodified on Spark SQL "
    "(dual-green)",
)
def user_day_entropy_profile(spark, sf_dir):
    import functools

    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("d")
    vocab = session_memo(
        spark,
        (sf_dir, "event_type_vocab"),
        lambda: sorted(
            (r["event_type"] for r in ev.select("event_type").distinct().collect()),
            key=lambda t: (t is None, t),
        ),
    )
    if 0 < len(vocab) <= 32:
        # bounded-domain fast path: per-type counts as conditional
        # sums of ONE (user, day) groupBy. NULL gets its own column —
        # the generic GROUP BY treats NULL as a grouping value, so
        # the pivot must too.
        conds = [
            F.col("event_type").isNull() if t is None
            else (F.col("event_type") == F.lit(t))
            for t in vocab
        ]
        # when/otherwise (not cond.cast) so a NULL condition — every
        # row of a pure-NULL-typed day, for each non-NULL column —
        # contributes 0 instead of making the whole SUM NULL and
        # poisoning tot/k/entropy for that (user, day)
        u = ev.groupBy("user_id", day).agg(
            *[
                F.sum(
                    F.when(cond, F.lit(1)).otherwise(F.lit(0))
                ).alias(f"__c{i}")
                for i, cond in enumerate(conds)
            ]
        )
        cols = [F.col(f"__c{i}") for i in range(len(vocab))]
        add = lambda a, b: a + b  # noqa: E731
        tot = functools.reduce(add, cols)
        k = functools.reduce(
            add, [(c > 0).cast("long") for c in cols]
        )
        # 0*ln(0) -> literal 0 for absent types; fixed column order
        # makes the FP sum deterministic
        s = functools.reduce(
            add,
            [
                F.when(
                    c > 0, c.cast("double") * F.log(c.cast("double"))
                ).otherwise(F.lit(0.0))
                for c in cols
            ],
        )
        totd = tot.cast("double")
        u = u.select(
            F.when(k == 1, F.lit(0.0))
            .otherwise(F.log(totd) - s / totd)
            .alias("entropy"),
            k.alias("k"),
        )
    else:
        c = ev.groupBy("user_id", day, "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        nd = F.col("n").cast("double")
        u2 = c.groupBy("user_id", "d").agg(
            F.sum("n").cast("long").alias("tot"),
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(nd * F.log(nd)).alias("s"),
        )
        totd = F.col("tot").cast("double")
        u = u2.select(
            F.when(F.col("k") == 1, F.lit(0.0))
            .otherwise(F.log(totd) - F.col("s") / totd)
            .alias("entropy"),
            "k",
        )
    return (
        u.groupBy(
            F.floor(F.col("entropy") / 0.25).cast("int").alias("entropy_bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_user_days"),
            F.min("k").cast("long").alias("min_types"),
            F.max("k").cast("long").alias("max_types"),
        )
        .orderBy("entropy_bin")
    )


@query(
    "context_budget_truncation",
    oracle="""
    WITH n AS (
      SELECT CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                  AS BIGINT) AS tok_n
      FROM documents
    ),
    b AS (SELECT budget FROM (VALUES (16), (32), (64), (128)) AS v(budget))
    SELECT budget,
           CAST(SUM(tok_n) AS BIGINT) AS total_tokens,
           CAST(SUM(GREATEST(tok_n - budget, 0)) AS BIGINT) AS tokens_lost,
           CAST(SUM(CASE WHEN tok_n > budget THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_truncated,
           ROUND(CAST(SUM(GREATEST(tok_n - budget, 0)) AS DOUBLE)
                 / SUM(tok_n), 6) AS loss_ratio
    FROM n CROSS JOIN b
    GROUP BY budget
    ORDER BY budget
    """,
    doc="Context-budget truncation loss: for candidate sequence "
    "lengths 16/32/64/128, how many tokens fall off the end of each "
    "document and what fraction of the corpus that is — the first "
    "table anyone sizing a context window or a packing buffer "
    "computes. Token count is the ENGINE-PORTABLE whitespace field "
    "count LENGTH(t)-LENGTH(REPLACE(t,' ',''))+1 (counts space-"
    "delimited fields including empties — exact integer contract "
    "both engines share; the real tokenizer split lives in "
    "functions/text.py and is a documented dialect blocker for "
    "dual-SQL entries). Budgets sized to this corpus's 8-90-token "
    "docs so every row is non-vacuous; the shape is budget-"
    "agnostic. Plan: map-side token count, fan-out 4x via a "
    "broadcast 4-row literal relation (the sanctioned scalar-class "
    "cross join), ONE groupBy to 4 cells — flat at any scale. "
    "ACCEPTED at ~6x behind DuckDB at x1000 with 4.24s ABSOLUTE and "
    "flat growth: the plan is map-side LENGTH/REPLACE arithmetic "
    "plus a 4-cell aggregate — nothing to re-plan; the multiple is "
    "the documented JVM-vs-SIMD string-kernel floor on tiny "
    "absolute numbers (cf. unigram_logprob_scores). ANSI "
    "oracle: runs unmodified on Spark SQL (dual-green)",
)
def context_budget_truncation(spark, sf_dir):
    from ..operators.corpus import _literal_rows_df as _lit

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    tok_n = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    n = d.select(tok_n.alias("tok_n"))
    budgets = F.broadcast(
        _lit(spark, [{"budget": v} for v in (16, 32, 64, 128)], "budget: int")
    )
    lost = F.greatest(F.col("tok_n") - F.col("budget"), F.lit(0).cast("long"))
    return (
        n.crossJoin(budgets)
        .groupBy("budget")
        .agg(
            F.sum("tok_n").cast("long").alias("total_tokens"),
            F.sum(lost).cast("long").alias("tokens_lost"),
            F.sum((F.col("tok_n") > F.col("budget")).cast("long"))
            .cast("long")
            .alias("docs_truncated"),
            F.round(
                F.sum(lost).cast("double") / F.sum("tok_n"), 6
            ).alias("loss_ratio"),
        )
        .orderBy("budget")
    )


# Shared by copurchase_triangle_count and its bounded-spill chunked
# variant — same graph, same five output columns, same ANSI text
# (runs unmodified on Spark SQL; dual-green for both entries).
_TRIANGLE_ORACLE = """
    WITH pairs AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM pairs
            UNION ALL SELECT b AS node FROM pairs) e
      GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
                  THEN p.a ELSE p.b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND p.a < p.b)
                  THEN p.b ELSE p.a END AS v
      FROM pairs p
      JOIN deg da ON p.a = da.node
      JOIN deg db ON p.b = db.node
    ),
    w AS (
      SELECT o1.v AS x, o2.v AS y
      FROM o o1 JOIN o o2 ON o1.u = o2.u
      WHERE o1.v < o2.v
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM w
      WHERE EXISTS (SELECT 1 FROM pairs
                    WHERE pairs.a = w.x AND pairs.b = w.y)
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(CASE WHEN d % 2 = 0
                           THEN CAST(FLOOR(d / 2) AS DECIMAL(19,0)) * (d - 1)
                           ELSE CAST(FLOOR((d - 1) / 2) AS DECIMAL(19,0)) * d
                      END) AS BIGINT) AS n_wedges
      FROM deg
    ),
    e2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
    SELECT s.n_nodes, e2.n_edges, s.n_wedges, tri.n_triangles,
           ROUND(3.0 * tri.n_triangles / s.n_wedges, 6) AS global_clustering
    FROM s CROSS JOIN e2 CROSS JOIN tri
    """


@query(
    "copurchase_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="Distributed EXACT triangle count + global clustering "
    "coefficient of the co-purchase graph (parts are nodes; an edge "
    "is two parts sharing an order) — the graph statistic behind "
    "community density and recommender-graph health, and the third "
    "graph family in the registry after connected components and "
    "PageRank. The naive wedge join explodes as SUM(deg^2) on hub "
    "nodes; this is the DEGREE-ORDERED ORIENTATION count (the "
    "standard MapReduce triangle bound, Suri & Vassilvitskii WWW'11 "
    "/ Cohen's MapReduce graph patterns): orient every edge from "
    "its lower-(degree, id) endpoint, so each triangle has exactly "
    "ONE source whose two out-edges form the wedge, and out-degrees "
    "are O(sqrt(m)) — the wedge join is bounded regardless of hub "
    "skew. Plan: the shared _copurchase_edges build (co-keyed "
    "lineitem self-join over one reused orderkey exchange + the "
    "pair-DISTINCT exchange), degree groupBy, two edge-degree joins "
    "(shuffle_hash on the node-scale deg side — scale-safe, never "
    "broadcast), "
    "oriented wedge self-join, and a two-key membership join against "
    "the canonical edge set to close triangles (INNER on the "
    "DISTINCT edge key since r12 — semantically the semi join, but "
    "PushDownLeftSemiAntiJoin was silently moving an actual LEFT "
    "SEMI below the width-pinning repartition, running the probe at "
    "session width; see the in-body comment). All-integer counts — "
    "the wedge sum halves the even factor of d*(d-1) and "
    "accumulates DECIMAL(38,0) (never double division, which "
    "drifts past 2^53 on hub-heavy graphs; probe-verified exact "
    "beyond 2^53 cross-engine); the clustering ratio is the one "
    "double, consumed by ROUND 6. "
    "Pinned against an unoriented brute-force triple join in tests "
    "and cross-engine (413,718 triangles at sf0.01). Measured r10 "
    "(paired, BENCH_NOTES waves 1+3): steady PARITY at x10 (23.7 vs "
    "22.4), and at x30 Spark completes twice cleanly in 74.6s while "
    "DuckDB DNFs ON DISK (its wedge join materializes into temp and "
    "exceeds 55+ GiB; Spark's shuffle_hash probe streams the wedges "
    "and spills per-partition) — the r9 'x100 wall on both engines' "
    "is really DuckDB's wall at x30 — and Spark's own x100 run "
    "COMPLETES in 572s once spark.io.compression.codec=zstd halves "
    "the 14.8B-wedge exchange's spill footprint (188.4M triangles, "
    "peak ~30 GB of 63 free; the lz4 run died on the same budget — "
    "the documented per-query lever for shuffle-volume-bound jobs). "
    "SHJ sizing discipline: the "
    "build sides (deg, edges) are memory-resident per task, so "
    "shuffle.partitions must scale with the edge count (x30 local "
    "needed 64 partitions where 32 OOM'd on an 8g heap) — on a "
    "cluster the initial partition count covers this by orders of "
    "magnitude. ANSI "
    "oracle: runs unmodified on Spark SQL (dual-green)",
)
def copurchase_triangle_count(spark, sf_dir):
    # shuffle_hash hints throughout (scale-SAFE per the hint
    # convention — forcing a shuffle join is the preferred
    # degradation; only forced BROADCASTS are gated): the planner's
    # default SMJs SORT the pair stream twice per degree join and,
    # fatally, sort the O(m^1.5) WEDGE stream before the closing semi
    # join. Hashing the smaller side (deg is node-scale; pairs is
    # edge-scale vs the wedge stream) and streaming the big side
    # measured 44.8s -> 31.7s at x10 — from 1.1x to 1.5x AHEAD of
    # DuckDB (BENCH_NOTES r10).
    pairs = _copurchase_edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.hint("shuffle_hash").alias("da")
    db = deg.hint("shuffle_hash").alias("db")
    a_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("a") < F.col("b"))
    )
    o = (
        pairs.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # the wedge self-join and the closing probe run at the auto-sized
    # width (r11, the r10 verdict ask): orientation loses the incoming
    # partitioning (u is conditional), so without the explicit
    # repartition both exchanges fall back to session
    # shuffle.partitions — the hand-set 256 the x100 run needed; the
    # estimate derives it from the lineitem footer instead
    n_parts = _graph_shuffle_partitions(spark, sf_dir)
    o = o.repartition(n_parts, "u")
    o1 = o.alias("o1")
    o2 = o.hint("shuffle_hash").alias("o2")
    w = (
        o1.join(
            o2,
            (F.col("o1.u") == F.col("o2.u"))
            & (F.col("o1.v") < F.col("o2.v")),
        )
        .select(F.col("o1.v").alias("x"), F.col("o2.v").alias("y"))
    )
    # hash the edge set (O(m)), STREAM the wedges (O(m^1.5)) — the
    # asymmetry that makes the closing membership probe linear in
    # wedges with no wedge sort; wedge stream and edge build side are
    # co-partitioned on the pair key at the same auto-sized width.
    # INNER, not LEFT SEMI (r12): PushDownLeftSemiAntiJoin moves a
    # semi join BELOW the width-pinning repartition, so the probe
    # silently ran at the session width with edge-count/32-sized
    # build maps (found by the chunked variant's x100 OOM); pairs is
    # DISTINCT on (a,b), so the inner join keeps exactly the closed
    # wedges — identical count — and the optimizer leaves the
    # repartition in place.
    closed = w.repartition(n_parts, "x", "y").join(
        pairs.hint("shuffle_hash"),
        (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")),
    )
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    # Wedge counts stay INTEGRAL end to end (ADVICE r9): d*(d-1) is
    # always even, so halve the even factor before a decimal-exact
    # multiply-and-sum — Spark's / is double division and a double
    # accumulation of per-hub d^2/2 terms drifts past 2^53 on a
    # 100 TB graph; the CASE/FLOOR spelling is engine-shared and
    # probe-verified exact beyond 2^53 in BOTH engines.
    dd = F.col("d")
    wedge = F.when(
        dd % 2 == 0, F.floor(dd / 2).cast("decimal(19,0)") * (dd - 1)
    ).otherwise(F.floor((dd - 1) / 2).cast("decimal(19,0)") * dd)
    # ADVICE r10: SUM(decimal) -> long under the pinned non-ANSI
    # session yields NULL silently on overflow (and would poison
    # global_clustering downstream); the docstring itself says the
    # wedge sum can exceed 2^53 on hub-heavy 100 TB graphs, so give
    # it the same loud assert_true backstop as
    # cusum_changepoint_revenue before the BIGINT output cast.
    i64max = F.lit("9223372036854775807").cast("decimal(38,0)")
    s = (
        deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(wedge).alias("__w"),
        )
        .filter(
            F.assert_true(
                # NULL __w is fine ONLY for an empty graph (SUM of
                # zero rows); on a non-empty graph a NULL sum is a
                # DECIMAL(38,0) overflow under the pinned non-ANSI
                # session — the silent path this guard exists for —
                # so it must fire, not coalesce to 0 and pass
                (
                    F.col("__w").isNotNull() | (F.col("n_nodes") == 0)
                )
                & (
                    F.coalesce(F.col("__w"), F.lit(0).cast("decimal(38,0)"))
                    <= i64max
                ),
                F.lit(
                    "copurchase_triangle_count: wedge sum exceeds int64 "
                    "(or overflowed DECIMAL(38,0) to NULL) — the BIGINT "
                    "output contract cannot hold at this graph scale; "
                    "widen n_wedges to DECIMAL"
                ),
            ).isNull()
        )
        .select("n_nodes", F.col("__w").cast("long").alias("n_wedges"))
    )
    e2 = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        s.crossJoin(e2)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("global_clustering"),
        )
    )


@query(
    "copurchase_triangle_chunked",
    oracle=_TRIANGLE_ORACLE,
    doc="Bounded-spill WEDGE-STREAM CHUNKED variant of "
    "copurchase_triangle_count (VERDICT r11 ask #8) — identical "
    "output, different execution contract: the base entry's single "
    "wedge exchange spills the WHOLE oriented-wedge stream at once "
    "(4.1B oriented wedges at x100 — the base run needed the zstd "
    "shuffle-codec lever on a 63 GB-free box; lz4 died), while this "
    "variant partitions the wedge SOURCES u into K hash blocks and "
    "runs the wedge-build + closing-probe as K SEQUENTIAL jobs, so "
    "the concurrent shuffle footprint is ~1/K of the wedge volume. "
    "MEASURED at x100 on pure stock configs (lz4, 8g driver, "
    "shuffle.partitions=32): completes in 626s — 188,448,800 "
    "triangles, exactly the zstd-lever run's result (BENCH_NOTES r12 "
    "wave 4). K is derived, not knobbed: one node-scale job computes "
    "the EXACT oriented wedge volume sum C(outdeg,2) from the "
    "checkpointed edge orientation, K = ceil(volume / 4e8 wedges-"
    "per-chunk) (x100: 4.1e9 -> K=11, ~6-8 GB spilled per chunk), "
    "floored at 2 so the loop is exercised at every SF. Costs vs "
    "base: the edge set and its orientation localCheckpoint once "
    "(DISK_ONLY — edge-scale, ~2 GB at x100, deserialized in-heap "
    "storage OOM'd an 8g local JVM; on a cluster it lands on "
    "executor disks) and each chunk re-scans the checkpointed o "
    "(K*O(m) total — dominated by the O(m^1.5) wedge term whenever "
    "chunking matters at all). Per-chunk results are 1-row collects "
    "(control-plane bounded, the k-means/PCA precedent); the final "
    "1-row relation re-enters Spark for the same ROUND arithmetic "
    "as the base entry. Use the base entry below the spill wall; "
    "this one past it",
)
def copurchase_triangle_chunked(spark, sf_dir):
    from pyspark.storagelevel import StorageLevel

    # DISK_ONLY checkpoints: both materializations are EDGE-scale
    # (119.6M rows each at x100) and exist only so K sequential chunk
    # jobs can re-read them — holding either in an 8g local heap OOMs
    # (measured), while serialized-on-disk re-reads cost one scan per
    # chunk, exactly the K*O(m) term the entry doc already budgets.
    pairs = _copurchase_edges(spark, sf_dir).localCheckpoint(
        storageLevel=StorageLevel.DISK_ONLY
    )
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.hint("shuffle_hash").alias("da")
    db = deg.hint("shuffle_hash").alias("db")
    a_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("a") < F.col("b"))
    )
    n_parts = _graph_shuffle_partitions(spark, sf_dir)
    o = (
        pairs.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .repartition(n_parts, "u")
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    # exact oriented wedge volume (sum C(outdeg,2)) — node-scale job
    # over the checkpointed orientation; decides K before any wedge
    # is materialized. DECIMAL sum + the registry's loud-overflow
    # discipline (a 100 TB graph can push past 2^63 wedges).
    od = F.col("od")
    out_wedges = F.when(
        od % 2 == 0, F.floor(od / 2).cast("decimal(19,0)") * (od - 1)
    ).otherwise(F.floor((od - 1) / 2).cast("decimal(19,0)") * od)
    wv_row = (
        o.groupBy("u")
        .agg(F.count(F.lit(1)).alias("od"))
        .agg(F.sum(out_wedges).alias("wv"))
        .collect()[0]
    )
    wedge_volume = int(wv_row["wv"] or 0)
    n_chunks = max(2, -(-wedge_volume // 400_000_000))
    tri_total = 0
    for c in range(n_chunks):
        # explicit width on the chunk's wedge exchange: the
        # checkpoint severed o's partitioning, so without this the
        # self-join hashes at the session width and AQE coalesces
        # the small post-filter shuffle into few fat partitions —
        # whose build-side hash maps blow the execution pool
        # (measured at x100: chunk-0 SHJ OOM on an 8g heap). The
        # user-specified repartition pins the proven auto-sized
        # width; one extra O(m/K) exchange per chunk = O(m) total.
        oc = o.filter(
            F.pmod(F.xxhash64("u"), F.lit(n_chunks)) == c
        ).repartition(n_parts, "u")
        o1 = oc.alias("o1")
        o2 = oc.hint("shuffle_hash").alias("o2")
        w = o1.join(
            o2,
            (F.col("o1.u") == F.col("o2.u")) & (F.col("o1.v") < F.col("o2.v")),
        ).select(F.col("o1.v").alias("x"), F.col("o2.v").alias("y"))
        # INNER, not LEFT SEMI: PushDownLeftSemiAntiJoin moves a semi
        # join BELOW the explicit repartition, so the probe would run
        # at the session width with edge-count/32-sized build maps
        # (measured x100: SHJ build OOM on an 8g heap). pairs is
        # DISTINCT on (a,b) by construction (_copurchase_edges), so
        # the inner join keeps exactly the closed wedges — same count
        # — while the optimizer leaves the width-pinning repartition
        # in place (inner joins are not pushed through it).
        closed = w.repartition(n_parts, "x", "y").join(
            pairs.hint("shuffle_hash"),
            (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")),
        )
        tri_total += closed.count()
    # same stats + loud wedge-sum guard as the base entry
    dd = F.col("d")
    wedge = F.when(
        dd % 2 == 0, F.floor(dd / 2).cast("decimal(19,0)") * (dd - 1)
    ).otherwise(F.floor((dd - 1) / 2).cast("decimal(19,0)") * dd)
    i64max = F.lit("9223372036854775807").cast("decimal(38,0)")
    s = (
        deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(wedge).alias("__w"),
        )
        .filter(
            F.assert_true(
                (F.col("__w").isNotNull() | (F.col("n_nodes") == 0))
                & (
                    F.coalesce(F.col("__w"), F.lit(0).cast("decimal(38,0)"))
                    <= i64max
                ),
                F.lit(
                    "copurchase_triangle_chunked: wedge sum exceeds int64 "
                    "(or overflowed DECIMAL(38,0) to NULL) — the BIGINT "
                    "output contract cannot hold at this graph scale; "
                    "widen n_wedges to DECIMAL"
                ),
            ).isNull()
        )
        .select("n_nodes", F.col("__w").cast("long").alias("n_wedges"))
    )
    e2 = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    tri = spark.createDataFrame(
        [(tri_total,)], "n_triangles bigint"
    )
    return (
        s.crossJoin(e2)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("global_clustering"),
        )
    )


@query(
    "copurchase_degree_structure",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM pairs
            UNION ALL SELECT b AS node FROM pairs) e
      GROUP BY node
    ),
    ed AS (
      SELECT CAST(da.d AS DECIMAL(12,0)) AS du,
             CAST(db.d AS DECIMAL(12,0)) AS dv
      FROM pairs p
      JOIN deg da ON p.a = da.node
      JOIN deg db ON p.b = db.node
      UNION ALL
      SELECT CAST(db.d AS DECIMAL(12,0)), CAST(da.d AS DECIMAL(12,0))
      FROM pairs p
      JOIN deg da ON p.a = da.node
      JOIN deg db ON p.b = db.node
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n2,
             CAST(SUM(du) AS DOUBLE) AS s1,
             CAST(SUM(du * dv) AS DOUBLE) AS sp,
             CAST(SUM(du * du) AS DOUBLE) AS s2
      FROM ed
    ),
    r AS (
      SELECT ROUND((n2 * sp - s1 * s1) / (n2 * s2 - s1 * s1), 6)
               AS assortativity
      FROM m
    )
    SELECT CAST(FLOOR(LOG2(d)) AS INT) AS degree_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           r.assortativity
    FROM deg CROSS JOIN r
    GROUP BY 1, r.assortativity
    ORDER BY 1
    """,
    doc="Degree structure of the co-purchase graph: log2-degree "
    "histogram plus Newman's degree assortativity coefficient (the "
    "Pearson correlation of endpoint degrees over the symmetrized "
    "edge list) — together with connected components, PageRank and "
    "the triangle count this completes the graph-health panel "
    "(assortativity near 0 on this uniformly-drawn synthetic graph, "
    "the honest answer; hub-repelling real graphs go negative). "
    "Exactness at scale: per-edge degree products are DECIMAL(12,0) "
    "operands — exact to degree 1e12 and SUM-safe inside "
    "DECIMAL(38,0) — because the pinned non-ANSI session would "
    "silently WRAP an int64 sum of d*d on a hub-heavy 100 TB graph "
    "(the trend_slope_by_market lesson); the Pearson ratio is the "
    "one double, consumed by ROUND 6. Plan: the shared "
    "_copurchase_edges build (co-keyed lineitem self-join over one "
    "reused orderkey exchange + pair-DISTINCT), degree groupBy, then the "
    "moment identities n2=SUM(d), s1=SUM(d^2), s2=SUM(d^3) straight "
    "off the DEGREE table (a degree-d node contributes d rows of "
    "du=d to the symmetrized list) so only the cross-moment "
    "sp=2*SUM(du*dv) pays the edge-degree joins — shuffle_hash on "
    "the node-scale deg side, no symmetrize branch, decimal sums "
    "exact so the Pearson operands are bit-identical to the "
    "oracle's symmetrized-CTE form. Measured r10 paired: x10 "
    "first/steady 7.1/5.0s vs DuckDB 3.9/2.8 (1.8x, from 4.3x); at "
    "x30 Spark 12.6-19.8s vs DuckDB 55.8 — 2.8-4.4x AHEAD, DuckDB "
    "super-linear at that size; at x100 Spark 58.7s CLEAN while "
    "DuckDB DNFs at a 50 GiB temp cap — the only engine that "
    "completes the fourth decade (BENCH_NOTES r10 waves 1+3+6). "
    "Bucket histogram is a node-scale groupBy of deg. ANSI oracle: "
    "runs unmodified on Spark SQL (dual-green)",
)
def copurchase_degree_structure(spark, sf_dir):
    pairs = _copurchase_edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("a").alias("node"))
        .unionAll(pairs.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # Moments over the SYMMETRIZED edge list, without materializing
    # it: a node of degree d contributes d rows to the symmetrized
    # list, each with du = d, so n2 = SUM(d), s1 = SUM(d^2) and
    # s2 = SUM(d^3) come straight off the degree table — only the
    # cross-moment sp = 2*SUM_edges(du*dv) needs the edge-degree
    # joins (shuffle_hash: deg is the node-scale build side), and the
    # old second union branch (which re-executed the double join) is
    # gone entirely. Measured x10 first-run: 20.7s -> 12.4s
    # (BENCH_NOTES r10). Same DECIMAL(12,0)-operand exactness
    # contract as before.
    dd = F.col("d").cast("decimal(12,0)")
    mom = deg.agg(
        F.sum(dd).cast("double").alias("n2"),
        F.sum(dd * dd).cast("double").alias("s1"),
        F.sum(dd * dd * dd).cast("double").alias("s2"),
    )
    joined = (
        pairs.join(deg.hint("shuffle_hash").alias("da"), F.col("a") == F.col("da.node"))
        .join(deg.hint("shuffle_hash").alias("db"), F.col("b") == F.col("db.node"))
        .select(
            F.col("da.d").cast("decimal(12,0)").alias("du"),
            F.col("db.d").cast("decimal(12,0)").alias("dv"),
        )
    )
    spd = joined.agg(
        (F.lit(2).cast("decimal(12,0)") * F.sum(F.col("du") * F.col("dv")))
        .cast("double")
        .alias("sp")
    )
    r = mom.crossJoin(F.broadcast(spd)).select(
        F.round(
            (F.col("n2") * F.col("sp") - F.col("s1") * F.col("s1"))
            / (F.col("n2") * F.col("s2") - F.col("s1") * F.col("s1")),
            6,
        ).alias("assortativity")
    )
    return (
        deg.crossJoin(F.broadcast(r))
        .groupBy(
            F.floor(F.log2("d")).cast("int").alias("degree_bucket"),
            "assortativity",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
        )
        .select(
            "degree_bucket", "n_nodes", "min_degree", "max_degree",
            "assortativity",
        )
        .orderBy("degree_bucket")
    )


@query(
    "dedup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
             AS dup_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-source exact-duplicate rate — the first dashboard of any "
    "corpus intake review (which feed is sending us the same page "
    "five times?): md5 content fingerprints, distinct count per "
    "source, dup rate. md5 is byte-identical hex on both engines, "
    "so the fingerprint layer itself is oracle-checked, not just "
    "the counts. dup_rate is a RAW integer-ratio division per the "
    "float policy — ROUND here would reintroduce the half-ulp tie "
    "class the r9 soak caught. Plan: one groupBy(source, fp) "
    "partial-distinct then the source rollup (Spark's two-phase "
    "COUNT DISTINCT), fingerprints never collected — at 100 TB "
    "this is the same one-exchange shape as dedup_exact_documents "
    "with a dashboard on top. ACCEPTED at its x1000 multiple (2.0s "
    "absolute vs 0.42, flat): the two-phase COUNT DISTINCT is "
    "already minimal; tiny-absolute constants only. ANSI oracle: "
    "runs unmodified on Spark SQL (dual-green)",
)
def dedup_rate_by_source(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    fp = F.md5(F.col("text").cast("binary"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct(fp).cast("long").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_dup_docs"),
            (
                (F.col("n_docs") - F.col("n_unique")).cast("double")
                / F.col("n_docs")
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


_BRR_B = 16
_BRR_EVEN = "('0','2','4','6','8','a','c','e')"


def _brr_member_sql(b: int) -> str:
    # replicate b's membership = "is HEX DIGIT b+1 of the ONE md5 the
    # row carries (column 'h') an even nibble" — md5 hex is
    # byte-identical on both engines and its digits are independent
    # uniform nibbles, so 16 digits of a single hash give 16
    # independent half-samples. Two measured rewrites at x1000
    # (150M rows): the first cut hashed md5(key || '|b') PER
    # REPLICATE (16 md5/row = 2.4B calls: 82s Spark / 59s DuckDB);
    # one shared hash + POSITION-in-alphabet parity cut it to 38s;
    # the direct even-digit IN-list is another 25% (27.6s, right
    # above the 11.8s md5+scan floor).
    return f"SUBSTRING(h, {b + 1}, 1) IN {_BRR_EVEN}"


@query(
    "half_sample_stderr_revenue",
    oracle=f"""
    WITH x AS (
      SELECT md5(o_orderkey || '|brr') AS h,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
             {', '.join(
                 f"CAST(SUM(CASE WHEN {_brr_member_sql(b)} THEN cents END) AS DECIMAL(38,0)) AS s{b}, "
                 f"CAST(SUM(CASE WHEN {_brr_member_sql(b)} THEN 1 ELSE 0 END) AS BIGINT) AS n{b}"
                 for b in range(_BRR_B))}
      FROM x
    )
    SELECT n,
           CAST(s AS DOUBLE) / 100.0 / n AS mean_price,
           ROUND(SQRT(({' + '.join(
               f"(CAST(s{b} AS DOUBLE) / 100.0 / n{b} - CAST(s AS DOUBLE) / 100.0 / n) "
               f"* (CAST(s{b} AS DOUBLE) / 100.0 / n{b} - CAST(s AS DOUBLE) / 100.0 / n)"
               for b in range(_BRR_B))}) / {_BRR_B}.0), 6) AS stderr_brr
    FROM m
    """,
    doc="Uncertainty quantification in ONE pass: the balanced-"
    "repeated-replication (half-sample) standard error of mean "
    "order value — Var(est) ~ (1/B) * SUM_b (est_b - est)^2 over B "
    "deterministic half-samples (McCarthy's BRR, the survey-"
    "statistics classic). Each replicate's membership is the parity "
    "of one hex DIGIT of the single md5(orderkey) the row carries — "
    "16 independent uniform nibbles from ONE hash (the per-"
    "replicate-hash first cut cost 16 md5/row = 82s Spark / 59s "
    "DuckDB at x1000; sharing the hash removes 15/16 of it on both "
    "engines). md5 hex is byte-identical cross-engine, so replicate "
    "composition is itself oracle-pinned, and at 100 TB the WHOLE "
    "estimator is 16 conditional sums inside the one aggregation "
    "the mean already needs: map-side partials, a 1-row result, "
    "ZERO extra exchanges — where a naive bootstrap materializes B "
    "resamples and reshuffles each. Exactness: cents partials in "
    "DECIMAL(38,0) (order-free exact sums), replicate means are "
    "divisions of identical exact operands, the 16 squared "
    "deviations are combined in one FIXED-ORDER expression tree "
    "(no SUM-over-rows reorder), and the final sqrt is consumed by "
    "ROUND 6. ANSI oracle: runs unmodified on Spark SQL "
    "(dual-green)",
)
def half_sample_stderr_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.expr("md5(o_orderkey || '|brr')").alias("h"),
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        _sum_i64_checked(F.col("cents"), "half_sample_stderr_revenue[s]")
        .cast("decimal(38,0)")
        .alias("s"),
    ]
    for b in range(_BRR_B):
        member = F.expr(_brr_member_sql(b))
        aggs.append(
            _sum_i64_checked(
                F.when(member, F.col("cents")),
                f"half_sample_stderr_revenue[s{b}]",
            )
            .cast("decimal(38,0)")
            .alias(f"s{b}")
        )
        aggs.append(
            F.sum(F.when(member, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"n{b}")
        )
    m = o.agg(*aggs)
    mean = F.col("s").cast("double") / 100.0 / F.col("n")
    dev_sq = None
    for b in range(_BRR_B):
        mb = F.col(f"s{b}").cast("double") / 100.0 / F.col(f"n{b}")
        term = (mb - mean) * (mb - mean)
        dev_sq = term if dev_sq is None else dev_sq + term
    return m.select(
        "n",
        mean.alias("mean_price"),
        F.round(F.sqrt(dev_sq / float(_BRR_B)), 6).alias("stderr_brr"),
    )


@query(
    "token_fertility_by_lang",
    oracle="""
    WITH n AS (
      SELECT lang,
             CAST(n_chars AS BIGINT) AS chars,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                  AS BIGINT) AS toks
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(chars) AS DOUBLE) / SUM(toks) AS chars_per_token
    FROM n
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Tokenizer fertility table by language — chars per token is "
    "THE efficiency metric a tokenizer/vocab decision is made on "
    "(languages with high fertility get more vocab budget; a "
    "fertility shift after a corpus refresh means the tokenizer no "
    "longer fits the data). Token count is the engine-portable "
    "whitespace field count (same contract as "
    "context_budget_truncation); chars_per_token is a RAW ratio of "
    "exact longs per the float policy (ROUND would reintroduce the "
    "soak-caught tie class). One groupBy of the scan to a "
    "languages-sized relation — flat at any scale. ACCEPTED at its "
    "x1000 multiple (2.1s absolute vs 0.65, flat): map-side "
    "LENGTH/REPLACE arithmetic + one groupBy, the string-kernel "
    "floor on tiny absolutes. ANSI oracle: "
    "runs unmodified on Spark SQL (dual-green)",
)
def token_fertility_by_lang(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    toks = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    ).cast("long")
    return (
        d.select(
            "lang",
            F.col("n_chars").cast("long").alias("chars"),
            toks.alias("toks"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("total_chars"),
            F.sum("toks").cast("long").alias("total_tokens"),
            (F.sum("chars").cast("double") / F.sum("toks")).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


@query(
    "ccnet_perplexity_buckets",
    # Shared-subset oracle (dual-green by construction): the ported
    # unigram-LM chain + plain NTILE(3); the Spark side computes the
    # IDENTICAL tile via corpus.distributed_ntile (no global window).
    oracle=f"""
    WITH {_sql_tok_expand()},
    lm AS (
      SELECT term,
             ROUND(LN(CAST(COUNT(*) AS DOUBLE)
                      / (SELECT CAST(COUNT(*) AS DOUBLE) FROM tok)), 6) AS lp
      FROM tok GROUP BY term
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(lm.lp AS DECIMAL(28,6))) AS DOUBLE) AS logprob
      FROM tok t JOIN lm ON t.term = lm.term
      GROUP BY t.doc_id
    ),
    m AS (
      SELECT doc_id, n_tokens,
             ROUND(logprob / n_tokens, 6) AS mean_logprob
      FROM scored WHERE n_tokens > 0
    ),
    t3 AS (
      SELECT doc_id, n_tokens, mean_logprob,
             NTILE(3) OVER (ORDER BY mean_logprob DESC, doc_id ASC) AS b
      FROM m
    ),
    lab AS (
      SELECT CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS bucket,
             n_tokens, mean_logprob
      FROM t3
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(ROUND(CAST(SUM(CAST(mean_logprob AS DECIMAL(28,6))) AS DOUBLE)
                      / COUNT(*), 6) AS DOUBLE) AS avg_mean_logprob
    FROM lab GROUP BY bucket
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al) — the "
    "quality-stratified corpus slicing step every LM-filtered "
    "pretraining pipeline runs: score docs with the self-trained "
    "unigram LM (the registry's perplexity proxy, "
    "operators/corpus.unigram_logprob_scores), split the scored "
    "corpus into head/middle/tail TERCILES by mean log-prob (head = "
    "most fluent), report per-bucket doc counts, token totals, and "
    "the mean score. The tercile is EXACT NTILE(3) semantics but "
    "computed DISTRIBUTED (corpus.distributed_ntile): the oracle's "
    "NTILE window would funnel the corpus through one partition at "
    "100 TB; instead quarter-unit score bins (monotone in the 6dp-"
    "rounded score) give control-plane-sized bin counts, a per-bin "
    "rank window, and integer-DIV NTILE arithmetic on the "
    "reconstructed global rank — pinned against F.ntile itself in "
    "tests. Per-bucket score sums quantize to DECIMAL(28,6) before "
    "summation (order-independent, the unigram entry's discipline); "
    "token totals ride sum_i64_checked (loud past 2^63). Production "
    "swaps the exact tercile for percentile_approx cutoffs once the "
    "bucket boundary itself may be approximate; the exact form is "
    "the oracle-gated contract",
)
def ccnet_perplexity_buckets(spark, sf_dir):
    from ..operators import corpus
    from ..operators.scale import sum_i64_checked

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    m = corpus.unigram_logprob_scores(d).filter(F.col("n_tokens") > 0)
    t3 = corpus.distributed_ntile(
        m,
        3,
        F.floor(-F.col("mean_logprob") * 4),
        [F.desc("mean_logprob"), F.asc("doc_id")],
        out_col="b",
    )
    lab = t3.select(
        F.when(F.col("b") == 1, F.lit("head"))
        .when(F.col("b") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "n_tokens",
        "mean_logprob",
    )
    return lab.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        sum_i64_checked(F.col("n_tokens"), "ccnet_perplexity_buckets.total_tokens")
        .cast("long")
        .alias("total_tokens"),
        F.round(
            F.sum(F.col("mean_logprob").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        )
        .cast("double")
        .alias("avg_mean_logprob"),
    )


# DSIR hashed-feature space: 3 hex chars of md5 = 4096 buckets. The
# decode is positional (the simhash port's INSTR spelling) so the
# oracle stays in the shared subset; the Spark side uses conv() on
# the same 3-char prefix — identical values.
_DSIR_BUCKETS = 4096
_SQL_DSIR_BKT = (
    "((INSTR('0123456789abcdef', SUBSTR(MD5(term), 1, 1)) - 1) * 256"
    " + (INSTR('0123456789abcdef', SUBSTR(MD5(term), 2, 1)) - 1) * 16"
    " + (INSTR('0123456789abcdef', SUBSTR(MD5(term), 3, 1)) - 1))"
)


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_sql_tok_expand()},
    tk AS (
      SELECT tok.doc_id, d.lang, {_SQL_DSIR_BKT} AS b
      FROM tok JOIN documents d ON tok.doc_id = d.doc_id
    ),
    counts AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS src_c,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_c
      FROM tk GROUP BY b
    ),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s_tot,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_tot
      FROM tk
    ),
    ratios AS (
      -- constants as explicit DOUBLE: a bare 1.0 is DECIMAL on Spark
      -- SQL (decimal intermediates diverge from the API's double
      -- arithmetic at ~1e-7) while DuckDB computes this as double
      -- either way — probed via the dual suite's hash gate
      SELECT b,
             ROUND(LN(((tgt_c + CAST(1 AS DOUBLE))
                       / (t_tot + CAST({_DSIR_BUCKETS} AS DOUBLE)))
                      / ((src_c + CAST(1 AS DOUBLE))
                         / (s_tot + CAST({_DSIR_BUCKETS} AS DOUBLE)))), 6) AS lr
      FROM counts CROSS JOIN totals
    ),
    scored AS (
      SELECT tk.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(r.lr AS DECIMAL(28,6))) AS DOUBLE) AS log_weight
      FROM tk JOIN ratios r ON tk.b = r.b
      GROUP BY tk.doc_id
    ),
    rk AS (
      SELECT doc_id, n_tokens, log_weight,
             CAST(ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id ASC)
                  AS BIGINT) AS rank
      FROM scored
    )
    SELECT doc_id, n_tokens, log_weight, rank FROM rk WHERE rank <= 20
    """,
    doc="DSIR data selection (Xie et al 2023, Data Selection with "
    "Importance Resampling) — the importance-weighting step that "
    "tilts a raw crawl toward a target domain before pretraining: "
    "hashed unigram features (md5 -> 4096 buckets), target = the "
    "corpus's lang='en' slice, source = the whole corpus, per-bucket "
    "log importance ratio ln(p_tgt/p_src) with add-1 smoothing over "
    "the fixed bucket domain, per-doc log-weight = sum of its "
    "tokens' ratios, top-20 most target-like docs. Plan: one "
    "tokenize fan-out, ONE groupBy(bucket) computing source and "
    "target counts together (conditional sum — no second corpus "
    "scan), a 4096-row ratio relation joined back unhinted (AQE "
    "broadcasts while it fits; the 1-row totals cross-join is the "
    "sanctioned scalar broadcast), per-doc DECIMAL(28,6)-quantized "
    "summation (order-independent, hash-exact cross-engine), "
    "sort+limit top-k — never a global rank window over the corpus. "
    "Indicator sums ride sum_i64_checked. The bucketed-feature "
    "relation is corpus-size-INDEPENDENT (4096 rows at any SF) — "
    "what makes DSIR the scale path where a full vocabulary ratio "
    "table is not",
)
def dsir_importance_weights(spark, sf_dir):
    from ..operators.scale import sum_i64_checked

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    tk = d.select(
        "doc_id",
        "lang",
        F.explode(text.tokens("text")).alias("t"),
    ).select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.md5("t"), 1, 3), 16, 10).cast("int").alias("b"),
    )
    is_tgt = (F.col("lang") == "en").cast("long")
    counts = tk.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("src_c"),
        sum_i64_checked(is_tgt, "dsir_importance_weights.tgt_c")
        .cast("long")
        .alias("tgt_c"),
    )
    totals = tk.agg(
        F.count(F.lit(1)).cast("long").alias("s_tot"),
        sum_i64_checked(is_tgt, "dsir_importance_weights.t_tot")
        .cast("long")
        .alias("t_tot"),
    )
    nb = float(_DSIR_BUCKETS)
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            F.log(
                ((F.col("tgt_c") + 1.0) / (F.col("t_tot") + nb))
                / ((F.col("src_c") + 1.0) / (F.col("s_tot") + nb))
            ),
            6,
        ).alias("lr"),
    )
    scored = (
        tk.join(ratios, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("lr").cast("decimal(28,6)"))
            .cast("double")
            .alias("log_weight"),
        )
    )
    top = scored.orderBy(F.desc("log_weight"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("log_weight"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "n_tokens", "log_weight", "rank"
    )


@query(
    "event_funnel_conversion",
    oracle="""
    WITH e AS (SELECT user_id, event_type, ts FROM events
               WHERE event_type IN ('signup', 'view', 'purchase')),
    w1 AS (SELECT user_id, event_type, ts,
           MIN(CASE WHEN event_type = 'signup' THEN ts END)
             OVER (PARTITION BY user_id) AS t1 FROM e),
    w2 AS (SELECT user_id, event_type, ts, t1,
           MIN(CASE WHEN event_type = 'view' AND ts > t1
                    AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
             OVER (PARTITION BY user_id) AS t2 FROM w1),
    w3 AS (SELECT user_id, t1, t2,
           MIN(CASE WHEN event_type = 'purchase' AND ts > t2
                    AND ts <= t2 + INTERVAL 24 HOUR THEN ts END)
             OVER (PARTITION BY user_id) AS t3 FROM w2),
    pu AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
           FROM w3 GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t1) AS BIGINT) AS n_signup,
           CAST(COUNT(t2) AS BIGINT) AS n_viewed,
           CAST(COUNT(t3) AS BIGINT) AS n_purchased,
           CAST(ROUND(CASE WHEN COUNT(t1) > 0
                THEN COUNT(t2) / CAST(COUNT(t1) AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END, 6) AS DOUBLE) AS view_rate,
           CAST(ROUND(CASE WHEN COUNT(t2) > 0
                THEN COUNT(t3) / CAST(COUNT(t2) AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END, 6) AS DOUBLE) AS purchase_rate
    FROM pu
    """,
    doc="ordered multi-step funnel conversion (signup -> view -> "
    "purchase), the product-analytics staple: per user, t1 = first "
    "signup, t2 = first view STRICTLY AFTER t1 within a 24h "
    "conversion window, t3 = first purchase strictly after t2 within "
    "24h — each step anchored to the previous step's completion "
    "time, so out-of-order or too-late events never convert. Plan: "
    "the 3-type filter pushes to the scan, ONE exchange on user_id "
    "feeds three stacked unbounded-frame window MINs (no ORDER BY -> "
    "no sort; each step's predicate references the previous window "
    "column, which Catalyst evaluates as successive Window nodes over "
    "the same partitioning), the per-user rollup rides the SAME "
    "partitioning (no second exchange), and the final single-row "
    "funnel report is a global agg of user-grain partials. The "
    "24-hour window keeps the funnel selective at every SF (at "
    "sf0.01: 150 signup / 39 viewed / 15 purchased) — without it "
    "this corpus converts every user and the entry would pin "
    "nothing. Written in the shared SQL subset (windowed "
    "conditional MIN, INTERVAL n HOUR, COUNT(col)) — dual-green",
)
def event_funnel_conversion(spark, sf_dir):
    ev = (
        ensure_min_partitions(_t(spark, sf_dir, "events"))
        .filter(F.col("event_type").isin("signup", "view", "purchase"))
        .select("user_id", "event_type", "ts")
    )
    wu = Window.partitionBy("user_id")
    h24 = F.expr("INTERVAL 24 HOUR")
    w1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(wu),
    )
    w2 = w1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "view")
                & (F.col("ts") > F.col("t1"))
                & (F.col("ts") <= F.col("t1") + h24),
                F.col("ts"),
            )
        ).over(wu),
    )
    w3 = w2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2"))
                & (F.col("ts") <= F.col("t2") + h24),
                F.col("ts"),
            )
        ).over(wu),
    )
    pu = w3.groupBy("user_id").agg(
        F.min("t1").alias("t1"),
        F.min("t2").alias("t2"),
        F.min("t3").alias("t3"),
    )
    agg = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("t1").cast("long").alias("n_signup"),
        F.count("t2").cast("long").alias("n_viewed"),
        F.count("t3").cast("long").alias("n_purchased"),
    )
    return agg.select(
        "n_users",
        "n_signup",
        "n_viewed",
        "n_purchased",
        F.round(
            F.when(
                F.col("n_signup") > 0,
                F.col("n_viewed") / F.col("n_signup").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        )
        .cast("double")
        .alias("view_rate"),
        F.round(
            F.when(
                F.col("n_viewed") > 0,
                F.col("n_purchased") / F.col("n_viewed").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        )
        .cast("double")
        .alias("purchase_rate"),
    )


# GPT-3-style pareto-thresholded quality sampling: 6 hex chars of
# md5(doc_id) give the per-doc deterministic uniform (positional INSTR
# decode keeps the spelling in the shared subset; the Spark side's
# conv() reads the SAME 6-char prefix).
_SQL_PARETO_HEX6 = " + ".join(
    f"(INSTR('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS STRING)), {j + 1}, 1)) - 1)"
    f" * CAST({16 ** (5 - j)} AS BIGINT)"
    for j in range(6)
)


@query(
    "pareto_quality_filter",
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, lang, text, {_SQL_COLLAPSE_LOWER} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))
    ),
    px AS (
      SELECT doc_id, lang, text, s,
             ' ' || REPLACE(s, ' ', '  ') || ' ' AS x
      FROM cl
    ),
    m AS (
      SELECT doc_id, lang,
             {_SQL_NTOKENS_S} AS n_tokens,
             LENGTH(text) AS n_chars,
             LENGTH(text) - LENGTH(TRANSLATE(text, '.,!?;:', '')) AS n_punct,
             {_sql_word_count('the')} + {_sql_word_count('a')} + {_sql_word_count('and')} + {_sql_word_count('of')} + {_sql_word_count('to')} + {_sql_word_count('in')} + {_sql_word_count('is')} + {_sql_word_count('it')} + {_sql_word_count('for')} + {_sql_word_count('on')} AS n_stopwords
      FROM px
    ),
    weighted AS (
      SELECT doc_id, lang,
  (LEAST(n_tokens / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
   + (CAST(1 AS DOUBLE) - LEAST(CASE WHEN n_chars > 0
          THEN n_punct / n_chars
          ELSE CAST(0 AS DOUBLE) END * 5, CAST(1 AS DOUBLE)))
   + LEAST(CASE WHEN n_tokens > 0
       THEN n_stopwords / n_tokens
       ELSE CAST(0 AS DOUBLE) END * 4, CAST(1 AS DOUBLE))) / 3
  AS w FROM m
    ),
    drawn AS (
      SELECT doc_id, lang, w,
             POWER(({_SQL_PARETO_HEX6} + CAST(1 AS BIGINT))
                     / CAST(16777216 AS DOUBLE),
                   CAST(0 AS DOUBLE) - CAST(1 AS DOUBLE) / 9)
               - CAST(1 AS DOUBLE) AS draw
      FROM weighted
    ),
    flagged AS (
      SELECT lang, w,
             CASE WHEN draw > CAST(1 AS DOUBLE) - w THEN 1 ELSE 0 END AS kept
      FROM drawn
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(ROUND(SUM(kept) / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE)
             AS keep_rate,
           CAST(ROUND(CASE WHEN SUM(kept) > 0 THEN
             CAST(SUM(CASE WHEN kept = 1
                           THEN CAST(ROUND(w, 6) AS DECIMAL(28,6))
                           ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
               / SUM(kept)
             ELSE CAST(0 AS DOUBLE) END, 6) AS DOUBLE) AS avg_kept_score
    FROM flagged
    GROUP BY lang
    ORDER BY lang
    """,
    doc="GPT-3-style pareto-thresholded quality sampling (Brown et "
    "al 2020, Appendix A): score each doc with the registry's "
    "quality scorer (functions/text.quality_score — the SAME "
    "portable spelling quality_weighted_sample pins), then keep a "
    "doc iff pareto_draw(alpha=9) > 1 - score, where the draw is "
    "DETERMINISTIC — inverse-CDF of a Pareto(9) applied to a 6-hex-"
    "char md5(doc_id) uniform — so reruns and partition layouts "
    "reproduce the identical kept set (np.random.pareto in the "
    "paper; a hash uniform here, the registry's hash_sample "
    "discipline). The mechanism is the point: unlike a hard score "
    "threshold, the heavy-tailed draw admits low-score docs with "
    "small but non-zero probability, preserving tail diversity in "
    "the kept corpus (the paper's stated motivation) while keeping "
    "~9-12% of docs on this corpus. Per-lang report: doc counts, "
    "kept counts, keep rate, and the mean kept score (6dp-quantized "
    "DECIMAL summation — order-independent). Pure scan-level filter "
    "arithmetic: at 100 TB this runs as a single map-side pass with "
    "a lang-keyed partial agg, no shuffle beyond the 5-row rollup. "
    "Indicator sums ride sum_i64_checked; dual-green by construction",
)
def pareto_quality_filter(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents")).filter(
        ~F.col("text").contains("\x1e") & ~F.col("text").contains("\x1f")
    )
    w = text.quality_score("text")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        + F.lit(1).cast("long")
    ) / F.lit(16777216.0)
    draw = F.pow(u, F.lit(0.0) - F.lit(1.0) / F.lit(9.0)) - F.lit(1.0)
    kept = F.when(draw > F.lit(1.0) - w, F.lit(1)).otherwise(F.lit(0))
    flagged = d.select(
        F.col("lang"), w.alias("w"), kept.cast("long").alias("kept")
    )
    zero_dec = F.lit(0).cast("decimal(28,6)")
    agg = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        scale_sum_i64_checked(
            F.col("kept"), "pareto_quality_filter.n_kept"
        )
        .cast("long")
        .alias("n_kept"),
        F.sum(
            F.when(F.col("kept") == 1, F.round("w", 6).cast("decimal(28,6)"))
            .otherwise(zero_dec)
        ).alias("w_sum"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_kept",
        F.round(F.col("n_kept") / F.col("n_docs").cast("double"), 6)
        .cast("double")
        .alias("keep_rate"),
        F.round(
            F.when(
                F.col("n_kept") > 0,
                F.col("w_sum").cast("double") / F.col("n_kept"),
            ).otherwise(F.lit(0.0)),
            6,
        )
        .cast("double")
        .alias("avg_kept_score"),
    ).orderBy("lang")


@query(
    "pmi_collocations_topk",
    oracle=f"""
    WITH cl AS (
      SELECT doc_id, {_SQL_COLLAPSE_LOWER} AS s FROM documents
      WHERE NOT CONTAINS(text, CHR(30)) AND NOT CONTAINS(text, CHR(31))),
    nt AS (SELECT doc_id, s, {_SQL_NTOKENS_S} AS n FROM cl),
    tok AS (
      SELECT SPLIT_PART(s, ' ', CAST(t.i AS INT)) AS term
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE t.i <= n
    ),
    uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    bi AS (
      SELECT SPLIT_PART(s, ' ', CAST(t.i AS INT)) AS w1,
             SPLIT_PART(s, ' ', CAST(t.i + 1 AS INT)) AS w2
      FROM nt CROSS JOIN range(1, {_TOK_FANOUT_BOUND + 1}) t(i)
      WHERE n >= 2 AND t.i <= n - 1
    ),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
           FROM bi GROUP BY w1, w2),
    scored AS (
      SELECT bc.w1 || ' ' || bc.w2 AS phrase, bc.c_ab, u1.c AS c_a, u2.c AS c_b,
             ROUND((bc.c_ab - CAST(5 AS DOUBLE)) * n_tot.n
                   / (CAST(u1.c AS DOUBLE) * u2.c), 6) AS phrase_score,
             ROUND(LN(bc.c_ab * CAST(n_tot.n AS DOUBLE)
                   / (CAST(u1.c AS DOUBLE) * u2.c)), 6) AS pmi
      FROM bc JOIN uni u1 ON bc.w1 = u1.term
              JOIN uni u2 ON bc.w2 = u2.term
              CROSS JOIN n_tot
      WHERE bc.c_ab > 5
    )
    SELECT phrase, c_ab, c_a, c_b, phrase_score, pmi,
           CAST(ROW_NUMBER() OVER (ORDER BY phrase_score DESC, phrase ASC)
                AS INT) AS rank
    FROM scored
    ORDER BY phrase_score DESC, phrase ASC
    LIMIT 20
    """,
    doc="collocation / phrase-candidate mining — the word2vec phrase "
    "detection pass (Mikolov et al 2013 §4): for every adjacent "
    "token pair, score = (c(ab) - delta) * N / (c(a) * c(b)) with "
    "discount delta=5 (kills rare-pair noise), plus plain PMI "
    "ln(c(ab) * N / (c(a) * c(b))) for reference; top-20 candidates, "
    "phrase-ASC tiebreak. The score arithmetic runs in DOUBLE on "
    "purpose: c(a) * c(b) as int64 overflows once both counts pass "
    "~3e9 (trivially reached at 100 TB where token counts are 1e13+) "
    "while doubles hold counts exactly to 2^53 and the ratio is a "
    "6dp-rounded score anyway — the overflow-gate discipline applied "
    "at design time rather than backstopped after. Plan: two "
    "tokenize scans (unigram counts + zip_with bigram structs — the "
    "bpe_pair_stats build), both aggs vocabulary-shaped with map-"
    "side partial combine, c_ab > 5 filter BEFORE the two unigram-"
    "count joins cuts the join input to frequent pairs, 1-row N "
    "broadcast (sanctioned scalar class), TakeOrdered top-20 and a "
    "20-row rank window. Dual-green: split_part fan-out spelling "
    "throughout",
)
def pmi_collocations_topk(spark, sf_dir):
    d = ensure_min_partitions(_t(spark, sf_dir, "documents")).filter(
        ~F.col("text").contains("\x1e") & ~F.col("text").contains("\x1f")
    )
    toked = d.select(text.tokens(F.lower(F.col("text"))).alias("t"))
    uni = (
        toked.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_tot = uni.agg(
        scale_sum_i64_checked(F.col("c"), "pmi_collocations_topk.n_tot")
        .cast("long")
        .alias("n")
    )
    k = F.size("t")
    bigrams = F.when(
        k >= 2,
        F.zip_with(
            F.slice(F.col("t"), 1, k - 1),
            F.slice(F.col("t"), 2, k - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bc = (
        toked.select(F.explode(bigrams).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") > 5)
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("phrase"),
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                (F.col("c_ab") - F.lit(5.0))
                * F.col("n")
                / (F.col("c_a").cast("double") * F.col("c_b")),
                6,
            ).alias("phrase_score"),
            F.round(
                F.log(
                    F.col("c_ab")
                    * F.col("n").cast("double")
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("phrase_score"), F.asc("phrase")).limit(20)
    w = Window.orderBy(F.desc("phrase_score"), F.asc("phrase"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


_MMR_C = 16  # candidate pool per query (control-plane bound: 8 x 16)
_MMR_K = 5  # selected per query
_MMR_LAM = 0.7  # relevance weight; 1-lam = diversity weight


def _sql_mmr_oracle() -> str:
    """DuckDB oracle for mmr_diverse_topk: the SAME 5-step greedy as
    the engine side, unrolled as CTEs (step t joins the candidate
    pool against sel_{t-1}, takes max-sim-to-selected, ranks the MMR
    score, picks one row per query). Native list-lambda cosine — the
    ANN family's documented dual-SQL blocker."""
    steps = []
    for t in range(2, _MMR_K + 1):
        prev = f"sel{t - 1}"
        steps.append(f"""
    m{t} AS (
      SELECT c.query_id, c.nid, c.rel, MAX(p.sim) AS ms
      FROM cand c
      LEFT JOIN {prev} x ON x.query_id = c.query_id AND x.nid = c.nid
      JOIN pair p ON p.query_id = c.query_id AND p.an = c.nid
      JOIN {prev} s ON s.query_id = p.query_id AND s.nid = p.bn
      WHERE x.nid IS NULL
      GROUP BY c.query_id, c.nid, c.rel
    ),
    s{t} AS (
      SELECT query_id, nid, rel, CAST({t} AS INT) AS step, sc AS score FROM (
        SELECT m.query_id, m.nid, m.rel,
               ROUND(CAST({_MMR_LAM} AS DOUBLE) * m.rel
                     - CAST({round(1 - _MMR_LAM, 1)} AS DOUBLE) * m.ms, 6) AS sc,
               ROW_NUMBER() OVER (PARTITION BY m.query_id
                 ORDER BY ROUND(CAST({_MMR_LAM} AS DOUBLE) * m.rel
                     - CAST({round(1 - _MMR_LAM, 1)} AS DOUBLE) * m.ms, 6) DESC,
                   m.nid ASC) AS r
        FROM m{t} m) z WHERE r = 1
    ),
    sel{t} AS (SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM s{t})""")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, e.vec_id AS nid,
             {_sql_cosine('q.qv', 'e.embedding')} AS cs
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    ),
    cand0 AS (
      SELECT query_id, nid, ROUND(cs, 6) AS rel,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, nid ASC) AS rk
      FROM scored
    ),
    cand AS (SELECT query_id, nid, rel, rk FROM cand0 WHERE rk <= {_MMR_C}),
    pair AS (
      SELECT a.query_id, a.nid AS an, b.nid AS bn,
             ROUND({_sql_cosine('ea.embedding', 'eb.embedding')}, 6) AS sim
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id AND a.nid <> b.nid
      JOIN embeddings ea ON ea.vec_id = a.nid
      JOIN embeddings eb ON eb.vec_id = b.nid
    ),
    sel1 AS (
      SELECT query_id, nid, rel, CAST(1 AS INT) AS step, rel AS score
      FROM cand WHERE rk = 1
    ),{','.join(steps)}
    SELECT query_id, nid AS neighbor_id, step,
           rel AS relevance, score AS mmr_score
    FROM sel{_MMR_K}
    ORDER BY query_id, step
    """


@query(
    "mmr_diverse_topk",
    oracle=_sql_mmr_oracle(),
    doc="maximal-marginal-relevance diversified top-k re-ranking "
    "(Carbonell & Goldstein 1998) — the diversification pass a RAG "
    "retrieval stack runs AFTER dense retrieval so the k passages "
    "fed to the LM aren't five near-copies of the same chunk: per "
    "query (the shared vec_id<8 control plane), take the top-16 "
    "cosine candidates, then greedily select 5 — step 1 by pure "
    "relevance, each later step maximizing lam*rel - "
    "(1-lam)*max_sim_to_already_selected (lam=0.7), ties broken by "
    "neighbor id on the 6dp-rounded score. Spark shape: the "
    "candidate pool (8 queries x 16 rows, SF-INDEPENDENT by "
    "construction) and its 16x16 pairwise-cosine table are "
    "localCheckpoint'ed — severing the embeddings-scan subtree so "
    "the 4 unrolled greedy iterations (anti-join remaining, max-sim "
    "against selected, per-query rank-1 pick, union) replan over "
    "two materialized control-plane tables instead of re-running "
    "the corpus scan per step (the chi_square/weekday repeated-"
    "subtree discipline). The greedy loop is INHERENTLY sequential "
    "in k — what scales is the candidate generation (any registry "
    "ANN entry) feeding a bounded re-rank, exactly how production "
    "MMR deploys. Oracle: the identical 5 steps unrolled as CTEs; "
    "native DuckDB list-lambda cosine puts it in the ANN family's "
    "existing dual-SQL skip class",
)
def mmr_diverse_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cand = (
        similarity.cosine_topk(e, e.filter(F.col("vec_id") < 8), k=_MMR_C)
        .select(
            "query_id",
            F.col("neighbor_id").alias("nid"),
            F.round("cosine_sim", 6).alias("rel"),
            "rank",
        )
        .coalesce(1)
        .localCheckpoint()
    )
    cv = (
        cand.select("query_id", "nid")
        .join(e, cand["nid"] == e["vec_id"])
        .select("query_id", "nid", "embedding", vectors.norm("embedding").alias("nrm"))
    )
    a = cv.select(
        F.col("query_id"),
        F.col("nid").alias("an"),
        F.col("embedding").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    b = cv.select(
        F.col("query_id"),
        F.col("nid").alias("bn"),
        F.col("embedding").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    pair = (
        a.join(b, ["query_id"])
        .filter(F.col("an") != F.col("bn"))
        .select(
            "query_id",
            "an",
            "bn",
            F.round(
                similarity._pair_cosine("av", "bv", "anrm", "bnrm"), 6
            ).alias("sim"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    lam = F.lit(_MMR_LAM)
    om = F.lit(round(1 - _MMR_LAM, 1))
    sel = cand.filter(F.col("rank") == 1).select(
        "query_id",
        "nid",
        "rel",
        F.lit(1).cast("int").alias("step"),
        F.col("rel").alias("score"),
    )
    for t in range(2, _MMR_K + 1):
        selk = sel.select("query_id", "nid")
        ms = (
            cand.select("query_id", "nid", "rel")
            .join(selk, ["query_id", "nid"], "left_anti")
            .join(pair.withColumnRenamed("an", "nid"), ["query_id", "nid"])
            .join(
                sel.select("query_id", F.col("nid").alias("bn")),
                ["query_id", "bn"],
            )
            .groupBy("query_id", "nid", "rel")
            .agg(F.max("sim").alias("ms"))
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.desc("sc"), F.asc("nid")
        )
        pick = (
            ms.withColumn(
                "sc", F.round(lam * F.col("rel") - om * F.col("ms"), 6)
            )
            .withColumn("r", F.row_number().over(wq))
            .filter(F.col("r") == 1)
            .select(
                "query_id",
                "nid",
                "rel",
                F.lit(t).cast("int").alias("step"),
                F.col("sc").alias("score"),
            )
        )
        # each step references sel three times (anti-join, selected-sim
        # join, union); without severing, the plan tree grows ~4^k
        # copies of the candidate subtree and the scheduler pays ~15s
        # of stage overhead for 40 rows. A per-step checkpoint of the
        # <=40-row selected set keeps the tree linear in k.
        sel = sel.unionByName(pick).coalesce(1).localCheckpoint()
    return sel.select(
        "query_id",
        F.col("nid").alias("neighbor_id"),
        "step",
        F.col("rel").alias("relevance"),
        F.col("score").alias("mmr_score"),
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events
    ),
    tr AS (
      SELECT event_type, next_type
      FROM seq
      WHERE next_type IS NOT NULL
        AND next_ts <= ts + INTERVAL 12 HOUR
    ),
    c AS (SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM tr GROUP BY event_type, next_type),
    tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS row_total
            FROM c GROUP BY event_type)
    SELECT c.event_type, c.next_type, c.n,
           CAST(ROUND(c.n / CAST(t.row_total AS DOUBLE), 6) AS DOUBLE) AS p
    FROM c JOIN tot t ON c.event_type = t.event_type
    ORDER BY c.n DESC, c.event_type, c.next_type
    LIMIT 20
    """,
    doc="first-order Markov transition matrix over the event stream — "
    "the clickstream/behavior-model staple: per user, each event's "
    "successor (LEAD over ts with event_id tiebreak — total order, "
    "deterministic under equal timestamps) counts as a transition "
    "when it lands within a 12h horizon (the same-visit bound; "
    "without it this corpus's ~11h median inter-event gap makes "
    "every pair a 'transition'), then P(next|current) = "
    "n / row_total per current-state row. Plan: ONE exchange on "
    "user_id with a per-user sort feeding both LEADs (same window "
    "spec -> one Window node), a 25-cell-bounded transition agg with "
    "map-side combine, the row-total rollup over the 25-cell "
    "relation (no second corpus scan), and a deterministic "
    "n-DESC/state-ASC top-20 cut. Row-total sums ride "
    "sum_i64_checked. Dual-green: LEAD/INTERVAL/windowed spellings "
    "are engine-shared",
)
def event_transition_matrix(spark, sf_dir):
    ev = ensure_min_partitions(_t(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        F.lead("event_type").over(wu).alias("next_type"),
        F.lead("ts").over(wu).alias("next_ts"),
    )
    tr = seq.filter(
        F.col("next_type").isNotNull()
        & (F.col("next_ts") <= F.col("ts") + F.expr("INTERVAL 12 HOUR"))
    )
    c = tr.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = c.groupBy("event_type").agg(
        scale_sum_i64_checked(F.col("n"), "event_transition_matrix.row_total")
        .cast("long")
        .alias("row_total")
    )
    return (
        c.join(tot, "event_type")
        .select(
            "event_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("row_total").cast("double"), 6)
            .cast("double")
            .alias("p"),
        )
        .orderBy(F.desc("n"), F.asc("event_type"), F.asc("next_type"))
        .limit(20)
    )


@query(
    "ivf_recall_at_k",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT e.vec_id AS neighbor_id, e.embedding AS cvec, cid
      FROM embeddings e, cent
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                 ORDER BY {_sql_l2('e.embedding', 'cv')} ASC, cid ASC) = 1
    ),
    probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS qv, cid
      FROM embeddings q, cent
      WHERE q.vec_id < 8
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                 ORDER BY {_sql_l2('q.embedding', 'cv')} ASC, cid ASC) <= 2
    ),
    ivf_scored AS (
      SELECT p.query_id, a.neighbor_id,
             {_sql_cosine('p.qv', 'a.cvec')} AS cs
      FROM probes p JOIN assigned a ON p.cid = a.cid AND a.neighbor_id <> p.query_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM ivf_scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) <= 10
    ),
    ex_scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'e.embedding')} AS cs
      FROM (SELECT * FROM embeddings WHERE vec_id < 8) q, embeddings e
      WHERE e.vec_id <> q.vec_id
    ),
    ex AS (
      SELECT query_id, neighbor_id FROM ex_scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC) <= 10
    )
    SELECT ex.query_id AS query_id,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) AS recall
    FROM ex LEFT JOIN ivf
      ON ex.query_id = ivf.query_id AND ex.neighbor_id = ivf.neighbor_id
    GROUP BY ex.query_id
    """,
    doc="recall@10 of the IVF coarse-quantized ANN against the exact "
    "brute-force top-k — completes the gauge family (both LSH "
    "variants already carry one): the measurement that tells you "
    "whether n_probe=2 over this centroid table retrieves enough of "
    "the true neighborhood BEFORE trusting the IVF path at scale. "
    "Both hit lists are k-bounded per query, so the recall join is "
    "O(queries x k) regardless of corpus size (broadcast probe "
    "side); same deterministic tiebreaks as the retriever entries. "
    "On this corpus IVF's recall materially beats single-band LSH's "
    "honest 0.0 — the quantitative argument for cell-probing over "
    "one-shot bucketing that the entry pair documents",
)
def ivf_recall_at_k(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") < 8)
    rows = _q8_rows(spark, sf_dir, e)
    exact = similarity.cosine_topk(e, qset, k=10).select(
        "query_id", "neighbor_id"
    )
    ivf = (
        similarity.ivf_topk(e, rows, rows, k=10, n_probe=2)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


def _correctness_rows(root=None):
    """Yield (round, name, row) from every committed
    ``CORRECTNESS_r*.json`` at the repo root (or ``root`` — tests pass
    a fixture dir so the live driver artifact, rewritten every round,
    cannot break them). ONE scanner feeds both the staleness history
    and the red-latest set so their file/row handling can never drift.
    Missing/garbled files are skipped; non-dict rows are ignored."""
    import json
    import re
    from pathlib import Path

    if root is None:
        root = Path(__file__).resolve().parents[2]
    else:
        root = Path(root)
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for name, row in rows.items():
                yield rnd, name, (row if isinstance(row, dict) else {})


def _driver_history(root=None) -> dict[str, int]:
    """Latest driver round that sampled each entry. An entry counts as
    sampled in round N if it has ANY row there (green or not) — red
    rows still mean the driver exercised it."""
    latest: dict[str, int] = {}
    for rnd, name, _row in _correctness_rows(root):
        latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _row_is_red(row) -> bool:
    """A driver correctness row that demands re-certification: any
    explicit match False, or a real error. ``err == 'no_oracle'`` is
    the EXPECTED shape of rows-only entries (approx sketches with
    bound-certificate twins), not a failure."""
    if any(
        row.get(k) is False
        for k in ("rows_match", "schema_match", "hash_match")
    ):
        return True
    err = row.get("err")
    return bool(err) and err != "no_oracle"


def _driver_red_latest(root=None) -> set[str]:
    """Names whose LATEST driver row is red (per ``_row_is_red``).
    Red entries must LEAD emission (r10 verdict ask #2): a fix shipped
    this round gets its hard external re-certification immediately
    instead of waiting a full staleness rotation — r10's
    lorenz_gini_order_value hash-red is the motivating case."""
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, name, row in _correctness_rows(root):
        prev = latest.get(name)
        if prev is None or rnd >= prev[0]:
            latest[name] = (rnd, _row_is_red(row))
    return {n for n, (_, red) in latest.items() if red}


def _emission_order() -> list[str]:
    """Registry names ordered for the driver's ~50-entry per-round
    correctness sample: entries whose LATEST driver row is RED first
    (fixes get re-certified the round they ship), then never-sampled
    entries, then ascending by the round of each entry's latest driver
    row (stalest-first rotation), ties broken by registry order. This
    rotates the hard external signal across the whole registry — after
    every round the driver re-certifies the entries whose last check
    predates the most code churn — with zero hand-maintained
    bookkeeping (all entries pass the identical Spark-vs-DuckDB
    comparison locally in tests/test_oracle.py regardless of emission
    order)."""
    latest = _driver_history()
    reds = _driver_red_latest()
    names = list(REGISTRY)
    idx = {n: i for i, n in enumerate(names)}
    return sorted(
        names, key=lambda n: (n not in reds, latest.get(n, -1), idx[n])
    )


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _emission_order()}


def oracle_queries() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _emission_order()
        if REGISTRY[name].oracle is not None
    }
