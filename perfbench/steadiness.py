"""Run one workload in sets of N runs, one seed each, and report how
steady its end-to-end metrics are.

    python3 perfbench/steadiness.py --workload football_etl --runs 10 --sets 2 --first-seed 1

For each set and each end-to-end metric of ``BENCHMARK.json`` it
prints the median, the quartiles (``statistics.quantiles(values, n=4)``),
the interquartile spread and the full range ((max - min) / median) as
shares of the median, and the metric's bound. With two or more sets it
also prints how far each later set's median moved from the first
set's, in the metric's worse direction, as a share of the first.

The exit code is 0 only when every run is correct, every interquartile
spread (``setup_s`` included) is within the metric's bound, and every
later set's median is not worse than the first set's by more than the
bound. The ``iqr<b/3`` column marks the tighter target a steady metric
should meet, a third of its bound. Runs go one after another through
the benchmark's own command with ``run_seconds`` from
``BENCHMARK.json``; set ``k`` uses seeds ``first_seed + k * runs ...``.
``--out`` keeps every run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t0 = time.monotonic()
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True
    )
    *_, detail, result = proc.stdout.strip().splitlines()
    detail = json.loads(detail)
    return {
        "run_wall_s": time.monotonic() - t0,
        "round_walls": detail["round_walls"],
        "first_round_s": detail["first_round_s"],
        **json.loads(result),
    }


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_share": (q3 - q1) / med,
        "range_share": (max(values) - min(values)) / med,
    }


def report(spec: dict, workload: str, sets: list[list[dict]]) -> bool:
    ok = all(r["correct"] and r["failed"] == 0 for s in sets for r in s)
    first: dict[str, float] = {}
    for k, results in enumerate(sets):
        seeds = [r["seed"] for r in results]
        print(f"\n{workload}, set {k + 1}: {len(results)} runs, seeds {min(seeds)}..{max(seeds)}")
        print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'rng/med':>9}"
              f"{'bound':>7}{'iqr<b':>7}{'iqr<b/3':>9}{'drift':>8}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            s = spread([r["metrics"][name]["value"] for r in results])
            within = s["iqr_share"] <= bound
            ok &= within
            drift = ""
            if k == 0:
                first[name] = s["median"]
            else:
                moved = (s["median"] - first[name]) / first[name]
                worse = moved if m["better"] == "lower" else -moved
                ok &= worse <= bound
                drift = f"{worse:+.3f}"
            print(f"{name:<14}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}"
                  f"{s['iqr_share']:>9.3f}{s['range_share']:>9.3f}{bound:>7.2f}"
                  f"{'yes' if within else 'NO':>7}{'yes' if s['iqr_share'] < bound / 3 else 'no':>9}"
                  f"{drift:>8}")
    walls = [r["run_wall_s"] for s in sets for r in s if "run_wall_s" in r]
    if walls:
        print(f"\nwall time per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"all runs correct, spreads and drift within bounds: {ok}")
    return ok


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sets = []
    for k in range(a.sets):
        results = []
        for i in range(a.runs):
            seed = a.first_seed + k * a.runs + i
            r = run_once(spec, a.workload, seed)
            results.append({"seed": seed, **r})
            vals = {n: round(v["value"], 4) for n, v in r["metrics"].items()}
            print(f"set {k + 1} seed {seed}: {r['run_wall_s']:.1f} s, correct={r['correct']} "
                  f"failed={r['failed']} {vals}", flush=True)
        sets.append(results)
        if a.out:
            with open(a.out, "w") as f:
                json.dump(sets, f, indent=1)
    sys.exit(0 if report(spec, a.workload, sets) else 1)


if __name__ == "__main__":
    main()
