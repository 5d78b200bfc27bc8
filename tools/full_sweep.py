#!/usr/bin/env python
"""Full-registry correctness sweep under DRIVER-REPLICA conditions.

The per-round driver gate samples ~50 registry entries; this tool runs
EVERY entry the way the driver does — a PLAIN SparkSession (stock
configs: ANSI on in Spark 4, machine timezone), invoked through the
``__spark_entry__`` contract, compared against the DuckDB oracle with
``tests/oracle_harness.compare`` (row count + sorted-column schema +
order-insensitive exact values). Run it from ANY cwd; it does not
assume the repo is on PYTHONPATH (that is part of what it tests — the
driver imports the contract module from a foreign cwd).

    python tools/full_sweep.py                      # sf0.01 (driver SF)
    python tools/full_sweep.py /root/testdata/sf0.1

Exit code 0 only if every oracle-backed entry hash-matches and every
rows-only entry returns rows. Prints one line per failure.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    argv = sys.argv[1:]
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 32)}]")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod
    from oracle_harness import compare

    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    bad: list[tuple[str, object]] = []
    t0 = time.time()
    for i, name in enumerate(q):
        try:
            df = q[name](spark, sf)
            if name in o:
                problems = compare(df, o[name], sf)
                if problems:
                    bad.append((name, problems[:2]))
            elif df.count() <= 0:
                bad.append((name, "zero rows (rows-only entry)"))
        except Exception as ex:  # noqa: BLE001 — report and continue
            bad.append((name, f"{type(ex).__name__}: {str(ex)[:160]}"))
        if (i + 1) % 20 == 0:
            print(
                f"{i + 1}/{len(q)}  {time.time() - t0:.0f}s  bad={len(bad)}",
                flush=True,
            )
    print(f"DONE {len(q)} entries, {len(bad)} bad, {time.time() - t0:.0f}s @ {sf}")
    for name, why in bad:
        print(f"BAD {name}: {why}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
