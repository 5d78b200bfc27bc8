#!/usr/bin/env python
"""Measured multi-decade scaling curve: Spark vs DuckDB on 10x/100x data.

BENCH_NOTES.md argues the 100 TB case from a single measured decade
(sf0.01 -> sf0.1). This tool adds real measurements one and two
decades further by REPLICATING sf0.1 into /tmp with semantics-
preserving transforms, then timing a heavy-query subset on both
engines at each size:

- every key column is shifted per replica (rep * 1e10), so joins and
  group-bys keep their per-key cardinalities — 10x data means 10x
  groups, not 10x rows per group;
- document text is alphabet-rotated per replica (length/token shape
  identical — scan cost faithful — but shingles disjoint across
  replicas), so near-dup pair counts scale LINEARLY like a real
  growing corpus, instead of the quadratic cross-replica explosion
  naive duplication would cause;
- embeddings are cyclically rotated per replica for the same reason
  (no artificial cosine-1.0 twins across replicas);
- dimension tables (region, nation) stay single-copy, exactly like a
  real warehouse growing its facts.

This is MEASUREMENT data (plan/runtime behavior at scale), not oracle
data: correctness stays gated on the driver's own testdata. Usage:

    python tools/scale_curve.py            # generate (if missing) + run
    python tools/scale_curve.py --factors 10   # one extra decade only
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from football_etl_spark.plans.queries import REGISTRY  # noqa: E402
from football_etl_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = "/tmp/fes_scale"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
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
ALPHA = "abcdefghijklmnopqrstuvwxyz"

# Heavy / shape-diverse subset: JVM text scans, banded dedup, star
# joins, window-heavy, and an Arrow ANN stage.
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
    # the single-exchange rewrites whose "one exchange replaces N
    # scans" claims carry measured x10/x100 evidence (BENCH_NOTES):
    "bm25_topk_docs",
    "conversion_funnel",
    "sole_blame_late_suppliers",
    "cheapest_supplier_per_part",
]


def replica_dir(factor: int) -> str:
    return f"{OUT_ROOT}/x{factor}"


def generate(spark, factor: int) -> str:
    out = replica_dir(factor)
    if os.path.exists(f"{out}/_DONE"):
        return out
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        if t in DIM_ONLY:
            parts = [src]
        else:
            parts = []
            for rep in range(factor):
                df = src
                for k in KEY_COLS.get(t, []):
                    df = df.withColumn(k, (F.col(k) + F.lit(rep * OFFSET)).cast("long"))
                if t == "documents":
                    rot = ALPHA[rep % 26 :] + ALPHA[: rep % 26]
                    df = df.withColumn("text", F.translate("text", ALPHA, rot))
                if t == "embeddings":
                    r = rep % 16
                    if r:
                        df = df.withColumn(
                            "embedding",
                            F.concat(
                                F.slice("embedding", r + 1, 64 - r),
                                F.slice("embedding", 1, r),
                            ),
                        )
                parts.append(df)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    open(f"{out}/_DONE", "w").close()
    return out


def time_spark(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    from bench import run_query

    out = {}
    for name in names:
        run_query(spark, name, sf_dir)  # cold / warm caches
        out[name] = round(
            min(run_query(spark, name, sf_dir), run_query(spark, name, sf_dir)), 3
        )
    return out


def time_duckdb(sf_dir: str, names: list[str]) -> dict[str, float]:
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark directory-style output
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        # native formulation for TIMING (perf_oracle, r12) — the
        # portable dual-surface text can be slower on DuckDB, and a
        # slower DuckDB side would flatter Spark's ladder standings
        qd = REGISTRY[name]
        sql = qd.perf_oracle or qd.oracle
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            runs.append(time.perf_counter() - t0)
        out[name] = round(min(runs[1:]), 3)
    con.close()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", type=int, nargs="*", default=[10, 100])
    ap.add_argument("--queries", nargs="*", default=QUERIES)
    ap.add_argument(
        "--headline",
        action="store_true",
        help="time bench.py's full 30-query headline set instead of the"
        " heavy subset (r13: the depth evidence the sf0.1 bench is too"
        " overhead-bound to provide — VERDICT r12 ask #2)",
    )
    ap.add_argument(
        "--no-duckdb",
        action="store_true",
        help="Spark only (the headline set includes streaming entries"
        " whose oracles model the batch twin, not a comparator target)",
    )
    ap.add_argument("--out", default=None, help="also write the JSON to this path")
    args = ap.parse_args()
    if args.headline:
        from bench import HEADLINE

        args.queries = list(HEADLINE)
        # the headline set includes streaming entries whose oracles
        # model the batch twin, not a comparator target — a DuckDB
        # column over them would be meaningless, so --headline is
        # Spark-only by construction
        args.no_duckdb = True

    spark = get_spark(
        app_name="scale-curve",
        extra_conf={
            # bench.py's sf0.1 knobs are wrong for 10-100x the data:
            # use the engine's cluster defaults (AQE on, 128m splits)
            "spark.sql.shuffle.partitions": "32",
        },
    )
    results: dict[str, dict] = {}
    results["x1"] = {
        "dir": SRC,
        "spark": time_spark(spark, SRC, args.queries),
    }
    if not args.no_duckdb:
        results["x1"]["duckdb"] = time_duckdb(SRC, args.queries)
    for factor in args.factors:
        d = generate(spark, factor)
        results[f"x{factor}"] = {
            "dir": d,
            "spark": time_spark(spark, d, args.queries),
        }
        if not args.no_duckdb:
            results[f"x{factor}"]["duckdb"] = time_duckdb(d, args.queries)
    text = json.dumps(results, indent=2)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
