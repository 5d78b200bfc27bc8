#!/usr/bin/env python
"""One measurement harness for the registry: Spark timings, the DuckDB
pairing, depth curves on replicated data, and plan dumps.

    python tools/measure.py steady ivf_ann_topk quantized_embeddings
    python tools/measure.py explain before flagship_order_enrichment ...
    python tools/measure.py explain after --all-headline
    python tools/measure.py duckdb
    python tools/measure.py depth --headline --factors 10 --out SCALE_rNN.json
    python tools/measure.py depth --factors 1000

``steady``, ``explain`` and ``duckdb`` run at $SPARK_GRAFT_SF_DIR
(bench.py's SF_DIR, default sf0.1).

- ``steady`` times each named query with bench.py's session configs:
  the cold run, then the min of 2 (the fast inner loop for perf work).
- ``explain`` writes ``.explain("formatted")`` of each named query to
  plans/$PLAN_DUMP_ROUND/<query>_<tag>.txt (round default r13), under
  the same configs, so the dumped plan is the one the bench executes.
- ``duckdb`` times the headline oracles on the same parquet, warm then
  min of 2 with fetchall materialization, and prints one JSON line.
- ``depth`` replicates the data (see ``replicate``) and times a query
  set on both engines at x1 and at each factor, printing (and with
  ``--out`` writing) ``{"x1": {"dir", "spark", "duckdb"}, "x10": ...}``.
  Engine defaults (AQE on, 128 MB splits) with 32 shuffle partitions,
  warm then min of 2. ``--factors 1000`` switches to the x1000
  protocol: ten replicas of x100 under a fresh 1e12 key shift, 64
  shuffle partitions, one timed run per engine (at this size DuckDB
  needs tens of minutes per text query) and a 3-query default.

DuckDB gets as many threads as Spark's local[N]
(``session.default_parallelism()``), and is timed on ``perf_oracle or
oracle``: when a correctness oracle was ported to the engine-shared
SQL subset, the portable spelling can be SLOWER on DuckDB than its
native one (split_part fan-out vs UNNEST), and a slower DuckDB side
would flatter Spark's ratio. The native twin keeps the pairing honest;
result-equality of the two texts is gated in
tests/test_round12_wave.py::test_perf_oracle_matches_portable_oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE, SF_DIR, run_query  # noqa: E402
from football_etl_spark.plans.queries import REGISTRY  # noqa: E402
from football_etl_spark.schemas import TESTDATA_TABLES  # noqa: E402
from football_etl_spark.session import default_parallelism, get_spark  # noqa: E402

# bench.py's session configs (bench.py keeps its copy inline).
BENCH_CONF = {
    "spark.sql.files.maxPartitionBytes": "2m",
    "spark.sql.files.openCostInBytes": "262144",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
}

SCALE_ROOT = "/tmp/fes_scale"
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIM_ONLY = {"region", "nation"}
OFFSET = 10_000_000_000
X1000_OFFSET = 1_000_000_000_000  # above x100's 99 * 1e10 maximum shift
ALPHA = "abcdefghijklmnopqrstuvwxyz"

# Heavy / shape-diverse subset: JVM text scans, banded dedup, star
# joins, window-heavy, an Arrow ANN stage, and the single-exchange
# rewrites whose "one exchange replaces N scans" claims carry measured
# x10/x100 evidence (BENCH_NOTES).
QUERIES = [
    "text_quality_stats",
    "gopher_quality_filter",
    "simhash_near_dups",
    "minhash_near_dups",
    "flagship_order_enrichment",
    "pricing_summary",
    "nation_profit_trend",
    "winsorized_priority_spend",
    "ann_cosine_topk",
    "bm25_topk_docs",
    "conversion_funnel",
    "sole_blame_late_suppliers",
    "cheapest_supplier_per_part",
]
X1000_QUERIES = ["text_quality_stats", "pricing_summary", "flagship_order_enrichment"]


def replicate(spark, src: str, out: str, reps: int, offset: int, rotate_vectors: bool = True) -> str:
    """Write ``reps`` semantics-preserving copies of each table in
    ``src`` to ``out`` (skipped when ``out/_DONE`` exists). This is
    measurement data, not oracle data.

    - Every key column of replica ``rep`` is shifted by ``rep * offset``,
      so joins and group-bys keep their per-key cardinalities: 10x data
      means 10x groups, not 10x rows per group.
    - Document text is alphabet-rotated by ``rep % 26`` and, with
      ``rotate_vectors``, embeddings cyclically rotated by ``rep % 16``.
      Length and token shape are unchanged, so scan cost is faithful.
      Replicas are disjoint in text and vectors only for reps <= 16:
      replicas r and r+26 carry identical text, and r and r+16 identical
      vectors under fresh ids. At x100 every document has 3-4 verbatim
      copies and every vector 6-7, so near-dup and ANN output there
      grows faster than the data. x1000 (x100 copied ten times, text
      rotated again, vectors not) has 36-40 copies of each document
      and 60-70 of each vector.
    - Dimension tables (region, nation) stay single-copy, like a
      warehouse growing its facts.
    """
    if os.path.exists(f"{out}/_DONE"):
        return out
    os.makedirs(out, exist_ok=True)
    for t in TESTDATA_TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if t not in DIM_ONLY:
            parts = []
            for rep in range(reps):
                part = df
                for k in KEY_COLS.get(t, []):
                    part = part.withColumn(k, (F.col(k) + F.lit(rep * offset)).cast("long"))
                if t == "documents":
                    rot = ALPHA[rep % 26 :] + ALPHA[: rep % 26]
                    part = part.withColumn("text", F.translate("text", ALPHA, rot))
                r = rep % 16 if t == "embeddings" and rotate_vectors else 0
                if r:
                    part = part.withColumn(
                        "embedding",
                        F.concat(F.slice("embedding", r + 1, 64 - r), F.slice("embedding", 1, r)),
                    )
                parts.append(part)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        print(f"generated {out}/{t}.parquet", file=sys.stderr, flush=True)
    open(f"{out}/_DONE", "w").close()
    return out


def replica(spark, factor: int) -> str:
    """/tmp/fes_scale/x{factor}, generated on first use: x1000 from
    x100, every other factor from $SPARK_GRAFT_SF_DIR."""
    out = f"{SCALE_ROOT}/x{factor}"
    if factor == 1000:
        return replicate(spark, replica(spark, 100), out, 10, X1000_OFFSET, rotate_vectors=False)
    return replicate(spark, SF_DIR, out, factor, OFFSET)


def best_of(run, n: int) -> tuple[float, float]:
    """Warm once, then time ``n`` runs: (warm seconds, min seconds)."""
    warm = run()
    return warm, min(run() for _ in range(n))


def time_spark(spark, sf_dir: str, names: list[str], n: int = 2) -> dict[str, float]:
    return {name: best_of(lambda: run_query(spark, name, sf_dir), n)[1] for name in names}


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per table in ``sf_dir``,
    reading a single parquet file or Spark's directory-style output."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {default_parallelism()}")
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def time_duckdb(sf_dir: str, names: list[str], n: int = 2) -> dict[str, float]:
    """``perf_oracle or oracle`` of each query with an oracle: warm then
    the min of ``n``, or one cold run when ``n`` is 1."""
    out = {}
    with duckdb_views(sf_dir) as con:
        for name in names:
            sql = REGISTRY[name].perf_oracle or REGISTRY[name].oracle
            if sql is None:
                continue

            def run() -> float:
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                return time.perf_counter() - t0

            out[name] = best_of(run, n)[1] if n > 1 else run()
    return out


def rounded(times: dict[str, float], digits: int) -> dict[str, float]:
    return {name: round(t, digits) for name, t in times.items()}


def steady(args) -> None:
    spark = get_spark(app_name="measure-steady", extra_conf=BENCH_CONF)
    run_query(spark, "top_event_types")  # warmup, as bench.py
    for name in args.names:
        cold, best = best_of(lambda: run_query(spark, name), 2)
        print(f"{name}: steady={best:.3f}s cold={cold:.3f}s", flush=True)


def explain(args) -> None:
    names = args.names + (HEADLINE if args.all_headline else [])
    out_dir = os.path.join(REPO, "plans", os.environ.get("PLAN_DUMP_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="measure-explain", extra_conf=BENCH_CONF)
    for name in names:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            REGISTRY[name].fn(spark, SF_DIR).explain("formatted")
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}", flush=True)


def duckdb_pairing(args) -> None:
    timings = rounded(time_duckdb(SF_DIR, HEADLINE), 4)
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_total_runtime_steady_state",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
            }
        )
    )


def depth(args) -> None:
    queries = args.queries or (X1000_QUERIES if 1000 in args.factors else QUERIES)
    if args.headline:
        # the headline set includes streaming entries whose oracles model
        # the batch twin, not a comparator target: Spark only
        queries, args.no_duckdb = list(HEADLINE), True
    spark = get_spark(app_name="measure-depth")
    results: dict[str, dict] = {}
    for factor in [1, *args.factors]:
        d = SF_DIR if factor == 1 else replica(spark, factor)
        n = 1 if factor == 1000 else 2
        spark.conf.set("spark.sql.shuffle.partitions", "64" if factor == 1000 else "32")
        row = results[f"x{factor}"] = {"dir": d, "spark": rounded(time_spark(spark, d, queries, n), 3)}
        if not args.no_duckdb:
            row["duckdb"] = rounded(time_duckdb(d, queries, n), 3)
        print(f"x{factor}: {json.dumps(row)}", file=sys.stderr, flush=True)
    text = json.dumps(results, indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    p = sub.add_parser("steady", help="cold and min-of-2 Spark time per query")
    p.add_argument("names", nargs="+")
    p.set_defaults(run=steady)
    p = sub.add_parser("explain", help="dump formatted plans to plans/<round>/")
    p.add_argument("tag")
    p.add_argument("names", nargs="*")
    p.add_argument("--all-headline", action="store_true")
    p.set_defaults(run=explain)
    p = sub.add_parser("duckdb", help="DuckDB headline timings as one JSON line")
    p.set_defaults(run=duckdb_pairing)
    p = sub.add_parser("depth", help="Spark (and DuckDB) at x1 and replicated factors")
    p.add_argument("--factors", type=int, nargs="*", default=[10, 100])
    p.add_argument("--queries", nargs="*", default=None)
    p.add_argument(
        "--headline",
        action="store_true",
        help="time bench.py's full headline set instead of the heavy subset (Spark only)",
    )
    p.add_argument("--no-duckdb", action="store_true", help="Spark only")
    p.add_argument("--out", default=None, help="also write the JSON to this path")
    p.set_defaults(run=depth)
    args = ap.parse_args()
    args.run(args)


if __name__ == "__main__":
    main()
