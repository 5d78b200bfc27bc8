#!/usr/bin/env python
"""Fourth measured decade: x1000 (~15 GB, 600 M lineitem rows).

Builds /tmp/fes_scale/x1000 by replicating the existing x100 replica
ten more times with a FRESH key shift per replica (rep2 * 1e12 —
disjoint from x100's internal rep * 1e10 shifts, so per-key
cardinalities still scale with the data) and an extra alphabet
rotation on document text (scan cost identical, shingle structure
stays linear). Dimension tables stay single-copy as before.

Times a small query subset on both engines, ONE run each (at this
size DuckDB needs tens of minutes per text query — min-of-N is not
worth the wall-clock; Spark numbers are steady-state anyway after the
warm run). Usage:

    python tools/scale_x1000.py [--queries q1 q2 ...]
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
from tools.scale_curve import ALPHA, DIM_ONLY, KEY_COLS, TABLES, replica_dir  # noqa: E402

BASE = replica_dir(100)
OUT = replica_dir(1000)
OFFSET2 = 1_000_000_000_000  # above x100's internal 99 * 1e10 max shift
REPS = 10

QUERIES = ["text_quality_stats", "pricing_summary", "flagship_order_enrichment"]


def generate(spark) -> str:
    if os.path.exists(f"{OUT}/_DONE"):
        return OUT
    if not os.path.exists(f"{BASE}/_DONE"):
        raise SystemExit("x100 replica missing — run tools/scale_curve.py first")
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        if t in DIM_ONLY:
            parts = [src]
        else:
            parts = []
            for rep in range(REPS):
                df = src
                for k in KEY_COLS.get(t, []):
                    df = df.withColumn(k, (F.col(k) + F.lit(rep * OFFSET2)).cast("long"))
                if t == "documents" and rep:
                    rot = ALPHA[rep:] + ALPHA[:rep]
                    df = df.withColumn("text", F.translate("text", ALPHA, rot))
                parts.append(df)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")
        print(f"generated {t}", flush=True)
    open(f"{OUT}/_DONE", "w").close()
    return OUT


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=QUERIES)
    args = ap.parse_args()

    spark = get_spark(
        app_name="scale-x1000",
        extra_conf={"spark.sql.shuffle.partitions": "64"},
    )
    generate(spark)

    from bench import run_query

    out: dict[str, dict[str, float]] = {"spark": {}, "duckdb": {}}
    for name in args.queries:
        run_query(spark, name, OUT)  # warm (file listing, plan)
        out["spark"][name] = round(run_query(spark, name, OUT), 2)
        print(f"spark {name}: {out['spark'][name]}", flush=True)

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '32')}")
    for t in TABLES:
        p = f"{OUT}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name in args.queries:
        qd = REGISTRY[name]
        t0 = time.perf_counter()
        # perf_oracle: native formulation for timing (see scale_curve)
        con.execute(qd.perf_oracle or qd.oracle).fetchall()
        out["duckdb"][name] = round(time.perf_counter() - t0, 2)
        print(f"duckdb {name}: {out['duckdb'][name]}", flush=True)
    con.close()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
