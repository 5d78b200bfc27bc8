"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline13_sf0.01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The headline workload reads the
testdata of TESTDATA.md (the ``sf0.01`` directory next to bench.py's
``SF_DIR``); the football workload generates its inputs from
``--seed`` (outside every timed span). The run brings the session up,
runs one first round and then steady rounds for ``--seconds``, checks
its outputs, and prints two JSON lines: a detail line (provenance,
round times, checks) and, last, the result::

    {"correct": true, "attempted": 215, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` its per-layer metrics (layers a workload does not use
read 0). Everything a run writes lives under
``.perfbench_work/<run>/`` in the checkout and is removed at exit;
``--trace 1`` also keeps its spans in ``.perfbench_out/``.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEADLINE_SF = "sf0.01"
WARMUP_SF = "sf0.001"  # tables for bench.py's warm-up query on football_etl
MB = 1024.0


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=("headline13_sf0.01", "football_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` so one run leaves nothing that slows the next."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = tmp


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait until every process
    this run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    from tracing import descendants

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> None:
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    spec = load_spec()
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(work)
    spark = None
    try:
        spark, res, detail = run(args, work)
    finally:
        try:
            shutdown(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))  # only if no other run uses it

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.layer if args.trace else res.e2e
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    detail["not_applicable"] = [m["name"] for m in names if m["name"] not in values]
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in names}
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )


def testdata_dir(bench, sf: str) -> str:
    """The TESTDATA.md directory for ``sf``: a sibling of
    bench.py's ``SF_DIR`` (``$SPARK_GRAFT_SF_DIR``), as the repo's
    tools find it."""
    path = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), sf)
    if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
        raise SystemExit(f"testdata not found: {path}")
    return path


def run(args, work: str):
    import gen_football
    from tracing import MemSampler, StreamProgress, Tracer

    traced = bool(args.trace)
    t = time.perf_counter()
    inputs = os.path.join(work, "input")
    if args.workload == "football_etl":
        gen_football.write_inputs(args.seed, os.path.join(inputs, "football"))
    gen_s = time.perf_counter() - t

    # Set-up: process start to session up and bench.py's warm-up query
    # done, input generation excluded.
    import bench
    import workloads
    from football_etl_spark.session import get_spark

    headline = args.workload == "headline13_sf0.01"
    sf_dir = testdata_dir(bench, HEADLINE_SF if headline else WARMUP_SF)

    tracer = Tracer(traced)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if headline:
        conf.update(workloads.BENCH_CONF)
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    tracer.sc = spark.sparkContext
    with tracer.span("session.warmup"):
        bench.run_query(spark, "top_event_types", sf_dir)
    setup_s = time.perf_counter() - T0 - gen_s

    if traced:  # memory is a per-layer metric: no sampler thread in untraced runs
        sampler = MemSampler(spark._jvm.java.lang.ProcessHandle.current().pid())
        sampler.start()
    if headline:
        res = workloads.headline(spark, tracer, sf_dir, args.seed, args.seconds, traced)
    else:
        progress = StreamProgress()
        spark.streams.addListener(progress)
        res = workloads.football(
            spark, tracer, os.path.join(inputs, "football"), os.path.join(work, "rounds"),
            args.seconds, traced, progress,
        )
    res.e2e["setup_s"] = setup_s
    if traced:
        sampler.stop()
        for s in tracer.spans:
            if s["name"].startswith("session."):
                res.layer[f"{s['name']}_s"] = tracer.duration(s)
        res.layer["mem.peak_rss_mb"] = sampler.peak_total_kb / MB
        res.layer["mem.jvm_rss_mb"] = sampler.peak_jvm_kb / MB
        res.layer["mem.python_workers_rss_mb"] = sampler.peak_workers_kb / MB
        res.layer["mem.python_workers"] = sampler.peak_workers
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "testdata": sf_dir,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "input_gen_s": gen_s,
        "checks": res.checks,
        **res.detail,
    }
    return spark, res, detail


if __name__ == "__main__":
    main()
