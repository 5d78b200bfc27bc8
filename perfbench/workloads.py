"""The benchmark's workloads: a closed loop with one client.

One client thread issues the next operation only after the previous
one returns. Each workload runs one first (cold) round, then steady
rounds until ``seconds`` have passed (at least ``HEADLINE_ROUNDS`` or
``FOOTBALL_ROUNDS``), then checks its outputs outside the timed rounds.

- ``headline13_sf0.01``: 13 of bench.py's ``HEADLINE`` registry
  entries (``FAMILIES``) on the sf0.01 testdata of TESTDATA.md, each forced
  through the ``noop`` sink exactly as ``bench.run_query`` does, under
  bench.py's session configs. An operation is one registry query.
- ``football_etl``: the reference's extract -> transform -> load on
  seed-generated dirty fixtures: streaming ingest of one micro-batch
  per daily file into a bronze table, the ``plans.pipeline`` stages,
  then the parquet, CSV and stats-JSON sinks. An operation is one
  micro-batch.

In a traced run, steady rounds alternate untraced and traced so the
tracing overhead is measured in the same process.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import time

from tracing import Tracer

# bench.main's session configs (bench.py keeps them inline in main()).
BENCH_CONF = {
    "spark.sql.files.maxPartitionBytes": "2m",
    "spark.sql.files.openCostInBytes": "262144",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
}

# The headline entries this workload runs, by the operator or function
# module each one calls (the ``operators.*``/``functions.*`` call in
# its registry body). 13 of bench.py's 30: one or more per family and
# all seven Python-boundary entries. A run of all 30 (a cold round and
# two steady rounds) does not fit the benchmark's time budget next to
# football_etl; the dropped entries are those with the largest
# first-round cost in families that keep another entry. The steady
# times fall in two groups (about 0.3-0.4 s and 0.55-0.65 s at this
# scale on a 4-core VM); ``minhash_near_dups`` is left out so that the
# median operation falls in the faster group rather than on the gap
# between them (README.md: "A median on a gap").
FAMILIES = {
    "operators.windows": ["flagship_order_enrichment"],
    "operators.joins": ["purchase_asof_login"],
    "operators.dedup": ["benchmark_decontamination"],
    "operators.similarity": [
        "lsh_ann_topk", "ivf_ann_topk", "kmeans_embedding_clusters", "semantic_dedup_docs",
    ],
    "operators.corpus": ["vocab_top_terms"],
    "operators.ingest_multimodal": ["multimodal_decode"],
    "functions.text": ["lang_id_counts"],
    "functions.vectors": ["quantized_embeddings"],
    "streaming.batch_expr": ["tumbling_event_windows"],
    "plans.dataframe_only": ["pricing_summary"],
}
# Entries whose plans hold an Arrow or grouped-map stage (PLAN_AUDIT.md's
# arrow / grouped-map columns): every such headline entry.
PYTHON_BOUNDARY = [
    "lsh_ann_topk", "ivf_ann_topk", "multimodal_decode", "quantized_embeddings",
    "benchmark_decontamination", "kmeans_embedding_clusters", "semantic_dedup_docs",
]
ORACLE_CHECKS_PER_RUN = 2
# Untraced steady rounds a run measures at least. Two on the headline
# set, whose round is short; the football round is long enough alone.
HEADLINE_ROUNDS = 2
FOOTBALL_ROUNDS = 1

PIPELINE_STAGES = ("fixtures", "history", "metrics", "join", "stats")
EXEC_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _rounds(run_round, seconds: float, traced: bool,
            min_rounds: int) -> tuple[dict, list[dict]]:
    """The cold round (traced in a traced run), then steady rounds until
    ``seconds`` have passed and at least ``min_rounds`` untraced ones
    ran, so every untraced run of a workload measures the same rounds.
    A traced run alternates untraced and traced steady rounds and ends
    on an untraced one (at least untraced, traced, untraced), so the
    untraced median brackets the traced rounds."""
    cold = run_round(traced)
    steady, t0 = [], time.perf_counter()
    while True:
        steady.append(run_round(traced and len(steady) % 2 == 1))
        plain = sum(not r["traced"] for r in steady)
        if (time.perf_counter() - t0 >= seconds and plain >= min_rounds
                and (not traced or len(steady) >= 3) and not steady[-1]["traced"]):
            return cold, steady


class Result:
    """What a workload hands back: e2e values, per-layer values (traced
    runs), operation counts and check outcomes."""

    def __init__(self):
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.detail: dict = {}

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.attempted += 1
        self.failed += not ok


def _round_summary(rounds: list[dict], traced: bool) -> tuple[float, float | None]:
    """(median untraced round time, traced minus untraced median)."""
    plain = [r["wall"] for r in rounds if not r["traced"]]
    with_trace = [r["wall"] for r in rounds if r["traced"]]
    overhead = median(with_trace) - median(plain) if traced else None
    return median(plain), overhead


# --------------------------------------------------------------------------
# headline13_sf0.01
# --------------------------------------------------------------------------


def headline(spark, tracer: Tracer, sf_dir: str, seed: int, seconds: float,
             traced: bool) -> Result:
    import bench
    from football_etl_spark.plans import queries

    res = Result()
    rng = random.Random(seed)
    names = [n for n in bench.HEADLINE if any(n in m for m in FAMILIES.values())]

    def op(name: str) -> float:
        if not tracer.enabled:
            return bench.run_query(spark, name, sf_dir)
        with tracer.span("query", job_group=True) as rec:
            rec["query"] = name
            t0 = time.perf_counter()
            with tracer.span("plans.build"):
                df = queries.REGISTRY[name].fn(spark, sf_dir)
            with tracer.span("exec.noop"):
                df.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

    def run_round(trace_it: bool) -> dict:
        tracer.enabled = trace_it
        first_span = len(tracer.spans)
        times: dict[str, float] = {}
        t0 = time.perf_counter()
        for name in rng.sample(names, len(names)):
            res.attempted += 1
            try:
                times[name] = op(name)
            except Exception as e:  # a failed query is counted, the loop goes on
                res.failed += 1
                res.detail.setdefault("errors", []).append(f"{name}: {e!r}"[:300])
        wall = time.perf_counter() - t0
        tracer.enabled = traced
        span_range = (first_span, len(tracer.spans))
        return {"wall": wall, "times": times, "traced": trace_it, "span_range": span_range}

    if traced:
        queries.load_table = tracer.wrap("io.load_table", queries.load_table)
    cold, steady = _rounds(run_round, seconds, traced, HEADLINE_ROUNDS)
    res.layer["cold.first_round_s"] = cold["wall"]
    res.e2e["round_s"], overhead = _round_summary(steady, traced)
    ops = [t for r in steady if not r["traced"] for t in r["times"].values()]
    res.e2e["op_p50_s"] = median(ops)
    res.e2e["op_p90_s"] = percentile(ops, 0.9)
    res.detail.update(
        first_round_s=cold["wall"], rounds=len(steady), op_samples=len(ops),
        round_walls=[round(r["wall"], 4) for r in steady],
    )

    # Output checks against the DuckDB oracle, outside the timed rounds:
    # a seed-chosen window of ORACLE_CHECKS_PER_RUN entries, so any seven
    # consecutive seeds check all 13 (all of them in every run would
    # add ~17 s to a run; see README.md).
    from tests.oracle_harness import compare

    start = (seed * ORACLE_CHECKS_PER_RUN) % len(names)
    for i in range(ORACLE_CHECKS_PER_RUN):
        name = names[(start + i) % len(names)]
        entry = queries.REGISTRY[name]
        t0 = time.perf_counter()
        try:
            problems = compare(entry.fn(spark, sf_dir), entry.oracle, sf_dir)
        except Exception as e:  # a crashing check is a failed check
            problems = [repr(e)[:300]]
        res.check(f"oracle.{name}", not problems)
        res.detail.setdefault("check_s", {})[name] = time.perf_counter() - t0
        if problems:
            res.detail.setdefault("check_problems", {})[name] = problems[:3]

    if traced:
        _headline_layers(res, tracer, cold, [r for r in steady if r["traced"]], overhead)
    return res


def _spans(tracer: Tracer, r: dict) -> list[dict]:
    return tracer.spans[slice(*r["span_range"])]


def _sum(tracer: Tracer, spans: list[dict], name: str, self_time: bool = False) -> float:
    f = tracer.self_time if self_time else tracer.duration
    return sum(f(s) for s in spans if s["name"] == name)


def _headline_layers(res: Result, tracer: Tracer, cold: dict, steady: list[dict], overhead) -> None:
    L = res.layer
    first = _spans(tracer, cold)
    L["io.load_table_s"] = _sum(tracer, first, "io.load_table")
    L["plans.build_first_s"] = _sum(tracer, first, "plans.build", self_time=True)
    L["exec.first_s"] = _sum(tracer, first, "exec.noop")
    L["plans.build_cached_s"] = median([_sum(tracer, _spans(tracer, r), "plans.build") for r in steady])
    counts = [
        tracer.job_counts([s["group"] for s in _spans(tracer, r) if s["group"]]) for r in steady
    ]
    for k in EXEC_COUNTS:
        L[f"exec.{k}"] = median([c[k] for c in counts])
    q_med = {
        name: median([r["times"][name] for r in steady if name in r["times"]])
        for members in FAMILIES.values()
        for name in members
    }
    for name, v in q_med.items():
        L[f"query.{name}_s"] = v
    for fam, members in FAMILIES.items():
        L[f"{fam}_s"] = sum(q_med[m] for m in members)
    L["functions.python_boundary_s"] = sum(q_med[m] for m in PYTHON_BOUNDARY)
    L["tracing.overhead_s"] = overhead


# --------------------------------------------------------------------------
# football_etl
# --------------------------------------------------------------------------


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def football(spark, tracer: Tracer, input_dir: str, work_dir: str, seconds: float,
             traced: bool, progress) -> Result:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import gen_football
    from football_etl_spark.io import loader, sinks
    from football_etl_spark.plans import pipeline
    from football_etl_spark.streaming import incremental

    res = Result()
    with open(os.path.join(input_dir, "expected.json")) as f:
        expected = json.load(f)
    raw_schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in gen_football.RAW_FIXTURE_COLS]
    )
    hist_schema = T.StructType(
        [
            T.StructField(c, T.IntegerType() if c == "is_home" else T.StringType())
            for c in gen_football.HISTORY_COLS
        ]
    )
    today = F.lit(gen_football.TODAY.isoformat()).cast("date")
    raw_dir = os.path.join(input_dir, "raw_fixtures")
    hist_path = os.path.join(input_dir, "team_history.csv")
    span = tracer.span
    n_rounds = 0
    last: dict = {}

    def run_round(trace_it: bool) -> dict:
        nonlocal n_rounds
        tracer.enabled = trace_it
        first_span = len(tracer.spans)
        rdir = os.path.join(work_dir, f"round-{n_rounds}")
        bronze = os.path.join(rdir, "bronze")
        t0 = time.perf_counter()
        with span("streaming.incremental_parquet_sink"):
            stream = incremental.read_event_stream(spark, raw_dir, raw_schema)
            incremental.incremental_parquet_sink(stream, bronze, os.path.join(rdir, "checkpoint"))
        with span("io.extract", job_group=True):
            fixtures = spark.read.parquet(bronze).drop("batch_id")
            history = loader.read_csv(spark, hist_path, hist_schema)
        with span("pipeline.fixtures_build"):
            fx = pipeline.process_fixtures(fixtures, today=today)
        with span("pipeline.history_build"):
            hi = pipeline.process_team_history(history, today=today)
        with span("pipeline.metrics_build"):
            metrics = pipeline.calculate_team_metrics(hi)
        with span("pipeline.join_build"):
            out = pipeline.join_data(fx, metrics)
        with span("sinks.write_parquet", job_group=True):
            sinks.write_parquet(out, os.path.join(rdir, "football_data.parquet"))
        with span("sinks.write_csv", job_group=True):
            sinks.write_csv(out, os.path.join(rdir, "football_data.csv"))
        with span("pipeline.stats_build", job_group=True):
            stats = pipeline.pipeline_stats(fx, hi, out)
        with span("sinks.write_stats_json"):
            sinks.write_stats_json(stats, os.path.join(rdir, "stats.json"))
        wall = time.perf_counter() - t0
        tracer.enabled = traced
        span_range = (first_span, len(tracer.spans))
        n_rounds += 1
        batches = [b for b in progress.take(n_rounds) if b["rows"] > 0]
        res.attempted += len(batches)
        # exactly-once: every file is one batch and every raw row lands once
        if len(batches) != expected["files"] or sum(b["rows"] for b in batches) != expected["raw_rows"]:
            res.failed += 1
            res.detail.setdefault("errors", []).append(
                f"round {n_rounds - 1}: {len(batches)} batches, "
                f"{sum(b['rows'] for b in batches)} rows"
            )
        last.update(rdir=rdir, bronze=bronze, fx=fx, hi=hi, metrics=metrics, out=out)
        return {
            "wall": wall, "traced": trace_it, "span_range": span_range, "batches": batches,
            "run_id": progress.run_ids[-1], "rdir": rdir,
        }

    cold, steady = _rounds(run_round, seconds, traced, FOOTBALL_ROUNDS)
    res.layer["cold.first_round_s"] = cold["wall"]
    res.e2e["round_s"], overhead = _round_summary(steady, traced)
    ops = [b["ms"]["triggerExecution"] / 1000 for r in steady if not r["traced"] for b in r["batches"]]
    res.e2e["op_p50_s"] = median(ops)
    res.e2e["op_p90_s"] = percentile(ops, 0.9)
    res.detail.update(
        first_round_s=cold["wall"], rounds=len(steady), op_samples=len(ops),
        round_walls=[round(r["wall"], 4) for r in steady], expected=expected,
    )

    # Output checks on the last round's outputs, outside the timed rounds.
    rdir = last["rdir"]

    def n_bad(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    try:
        n_bronze = spark.read.parquet(last["bronze"]).count()
        out = spark.read.parquet(os.path.join(rdir, "football_data.parquet"))
        n_out, n_ids, bad_ratio = out.agg(
            F.count("*"),
            F.count_distinct("match_id"),
            n_bad(~F.col("home_win_ratio").between(0, 1) | ~F.col("away_win_ratio").between(0, 1)),
        ).first()
        bad_result = last["hi"].filter(~F.col("result").isin("W", "D", "L", "U")).count()
        bad_metric = last["metrics"].filter(~F.col("win_ratio").between(0, 1)).count()
        with open(os.path.join(rdir, "stats.json")) as f:
            stats = json.load(f)
    except Exception as e:  # a crashing check is a failed check
        res.check("outputs_readable", False)
        res.detail.setdefault("errors", []).append(repr(e)[:300])
    else:
        res.check("bronze_rows_equal_generated", n_bronze == expected["raw_rows"])
        res.check("output_match_id_unique", n_ids == n_out)
        res.check("output_rows_equal_future_ids", n_out == expected["future_match_ids"])
        res.check("result_in_WDLU", bad_result == 0)
        res.check("win_ratio_in_0_1", bad_ratio == 0 and bad_metric == 0)
        res.check("fixtures_duplicates_zero", stats.get("fixtures_duplicates") == 0)
        res.detail["stats"] = stats

    if traced:
        _football_layers(res, tracer, [r for r in steady if r["traced"]], overhead, last, expected)
    return res


def _football_layers(res: Result, tracer: Tracer, steady: list[dict], overhead, last: dict,
                     expected: dict) -> None:
    L = res.layer

    def per_round(fn):
        return median([fn(r) for r in steady])

    def ms(r, key):
        return sum(b["ms"].get(key, 0) for b in r["batches"]) / 1000

    for stage in PIPELINE_STAGES:
        name = f"pipeline.{stage}_build"
        L[f"{name}_s"] = per_round(lambda r, n=name: _sum(tracer, _spans(tracer, r), n))
    for sink in ("write_parquet", "write_csv", "write_stats_json"):
        name = f"sinks.{sink}"
        L[f"{name}_s"] = per_round(lambda r, n=name: _sum(tracer, _spans(tracer, r), n))
    written = [_dir_bytes(r["rdir"]) for r in steady]
    L["sinks.files_written"] = median([w[0] for w in written])
    L["sinks.bytes_written"] = median([w[1] for w in written])
    L["sinks.write_amplification"] = L["sinks.bytes_written"] / expected["input_bytes"]

    L["streaming.batches"] = per_round(lambda r: len(r["batches"]))
    L["streaming.input_rows"] = per_round(lambda r: sum(b["rows"] for b in r["batches"]))
    L["streaming.add_batch_s"] = per_round(lambda r: ms(r, "addBatch"))
    L["streaming.trigger_overhead_s"] = per_round(
        lambda r: ms(r, "triggerExecution") - ms(r, "addBatch")
    )
    L["streaming.query_planning_s"] = per_round(lambda r: ms(r, "queryPlanning"))
    L["streaming.wal_commit_s"] = per_round(lambda r: ms(r, "walCommit"))
    # sink call time not spent inside a trigger: query start, source
    # and sink initialisation, shutdown
    L["streaming.start_s"] = per_round(
        lambda r: _sum(tracer, _spans(tracer, r), "streaming.incremental_parquet_sink")
        - ms(r, "triggerExecution")
    )
    counts = [
        tracer.job_counts(
            [s["group"] for s in _spans(tracer, r) if s["group"]] + [r["run_id"]]
        )
        for r in steady
    ]
    for k in EXEC_COUNTS:
        L[f"exec.{k}"] = median([c[k] for c in counts])

    # Cumulative stage execution, traced runs only: each stage's output
    # to the noop sink, upstream stages included.
    for stage, df in (("fixtures", last["fx"]), ("history", last["hi"]),
                      ("metrics", last["metrics"]), ("join", last["out"])):
        with tracer.span(f"pipeline.{stage}_exec") as rec:
            df.write.mode("overwrite").format("noop").save()
        L[f"pipeline.{stage}_exec_s"] = tracer.duration(rec)
    L["tracing.overhead_s"] = overhead
