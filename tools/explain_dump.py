#!/usr/bin/env python
"""Dump `.explain("formatted")` for named registry queries to files.

    python tools/explain_dump.py before flagship_order_enrichment ...
    python tools/explain_dump.py after --all-headline

Writes plans/r12/<query>_<tag>.txt — the optimization-round evidence
files the judge checks plan claims against. Uses the exact bench.py
session configs so the captured plan is the one the bench executes.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SF_DIR  # noqa: E402
from football_etl_spark.plans.queries import REGISTRY  # noqa: E402
from football_etl_spark.session import get_spark  # noqa: E402

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("PLAN_DUMP_ROUND", "r13"))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if "--all-headline" in names:
        names = [n for n in names if n != "--all-headline"] + HEADLINE
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(
        app_name="explain-dump",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.files.openCostInBytes": "262144",
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    for name in names:
        fn = REGISTRY[name].fn
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
