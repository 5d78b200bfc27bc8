"""Structured Streaming variants (SURVEY.md §2.9): availableNow
incremental catch-up over the parquet feed must agree with the batch
equivalent of the same windowed aggregation."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

from pyspark.sql import functions as F

from football_etl_spark.io.loader import load_table
from football_etl_spark.schemas import TESTDATA
from football_etl_spark.streaming import incremental

SF = "/root/testdata/sf0.001"


def test_available_now_matches_batch(spark):
    batch = load_table(spark, SF, "events")
    expected = {
        (str(r["win"]["start"]), r["event_type"]): (r["n"], r["total_value"])
        for r in incremental.windowed_event_counts(batch).collect()
    }

    # the nanosecond ts needs the same loader conversion; stream the
    # already-converted frame through a parquet round-trip
    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        batch.write.parquet(feed)
        stream = incremental.read_event_stream(
            spark, feed, spark.read.parquet(feed).schema
        )
        agg = incremental.windowed_event_counts(stream)
        got_df = incremental.run_available_now(agg, "stream_counts_test", f"{tmp}/ckpt")
        got = {
            (str(r["win"]["start"]), r["event_type"]): (r["n"], r["total_value"])
            for r in got_df.collect()
        }
    assert got == expected
    assert len(got) > 0


def test_stateful_user_totals_matches_batch(spark):
    """applyInPandasWithState running totals: after an availableNow
    catch-up over the whole feed, the final per-user state must equal
    the batch groupBy. (With multiple micro-batches the memory sink in
    update mode holds one row per key per batch; the LAST row per key
    is the final state.) Runs with NON-default key/value column names
    to prove the output schema derives from the parameters."""
    import pyspark.sql.functions as F

    batch = (
        load_table(spark, SF, "events")
        .withColumnRenamed("user_id", "uid")
        .withColumnRenamed("value", "amount")
    )
    expected = {
        r["uid"]: (r["n"], round(r["total"], 6))
        for r in batch.groupBy("uid")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("amount", F.lit(0.0))).alias("total"))
        .collect()
    }

    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        # 2 files → 2 micro-batches: enough to prove cross-batch state
        # carry-over without 32 stateful-Python micro-batch spin-ups
        batch.coalesce(2).write.parquet(feed)
        stream = incremental.read_event_stream(
            spark, feed, spark.read.parquet(feed).schema
        )
        # NoTimeout: registered processing-time timers would keep the
        # availableNow query waiting for timer expiry before it can
        # terminate — TTL is exercised implicitly via the operator's
        # default path in production, not in this finite catch-up test.
        totals = incremental.stateful_user_totals(
            stream, key_col="uid", value_col="amount", state_ttl_minutes=None
        )
        assert "uid" in totals.columns
        q = (
            totals.writeStream.outputMode("update")
            .format("memory")
            .queryName("stateful_totals_test")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table("stateful_totals_test").collect()

    final: dict[int, tuple[int, float]] = {}
    for r in rows:  # memory sink appends in batch order; later wins
        final[r["uid"]] = (r["n_events"], round(r["total_value"], 6))
    assert len(final) == len(expected)
    assert final == expected


def test_session_window_boundary_semantics(spark):
    """F.session_window: an event arriving EXACTLY `gap` after the
    previous one still MERGES (touching [ts, ts+gap] windows coalesce);
    a session splits only when the gap is strictly exceeded — same
    strict-`>` boundary as operators/windows.sessionize."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: +0s, +1799s, then +3599s = exactly 1800 after prev
        # → still one session of 3
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(seconds=1799), 1.0),
        (1, t0 + dt.timedelta(seconds=3599), 1.0),
        # user 2: +0s, then 1800s + 1µs → strictly over the gap → split
        (2, t0, 2.0),
        (2, t0 + dt.timedelta(seconds=1800, microseconds=1), 2.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = incremental.session_window_totals(ev, gap="30 minutes")
    per_user = {
        r["user_id"]: sorted(rr["n_events"] for rr in out.collect() if rr["user_id"] == r["user_id"])
        for r in out.select("user_id").distinct().collect()
    }
    assert per_user == {1: [3], 2: [1, 1]}


def test_session_window_streaming_append_subset(spark):
    """Streaming session windows (append mode + watermark): every
    emitted (user, session) row must exist identically in the batch
    result — watermarks may hold back the tail, never corrupt it."""
    batch = load_table(spark, SF, "events")
    expected = {
        (r["user_id"], str(r["sess"]["start"])): (r["n_events"], round(r["total_value"], 6))
        for r in incremental.session_window_totals(batch, watermark="1 minute").collect()
    }

    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        batch.coalesce(2).write.parquet(feed)
        stream = incremental.read_event_stream(
            spark, feed, spark.read.parquet(feed).schema
        )
        sessions = incremental.session_window_totals(stream, watermark="1 minute")
        q = (
            sessions.writeStream.outputMode("append")
            .format("memory")
            .queryName("session_stream_test")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table("session_stream_test").collect()

    got = {
        (r["user_id"], str(r["sess"]["start"])): (r["n_events"], round(r["total_value"], 6))
        for r in rows
    }
    assert set(got).issubset(set(expected))
    for k, v in got.items():
        assert expected[k] == v


def test_foreach_batch_parquet_sink_exactly_once(spark):
    """Bronze file sink: all rows land exactly once across
    micro-batches, and a second availableNow run over the SAME
    checkpoint writes nothing new (replay protection)."""
    batch = load_table(spark, SF, "events")
    n_expected = batch.count()

    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        batch.coalesce(2).write.parquet(feed)
        schema = spark.read.parquet(feed).schema

        for _ in range(2):  # second run must be a no-op via checkpoint
            stream = incremental.read_event_stream(spark, feed, schema)
            incremental.incremental_parquet_sink(
                stream, f"{tmp}/bronze", f"{tmp}/ckpt"
            )
        landed = spark.read.parquet(f"{tmp}/bronze")
        assert landed.count() == n_expected
        # the feed's columns, no partition column; the sink's own log
        # is what readers list files through
        assert landed.columns == schema.fieldNames()
        assert os.path.isdir(f"{tmp}/bronze/_spark_metadata")


def test_bronze_file_sink_skips_a_batch_replayed_after_a_lost_commit(spark):
    """Exactly-once when the crash lands after the files are written
    but before the checkpoint commit: with the last ``commits/N``
    deleted, the restarted query re-runs batch N, and the sink skips
    it because ``_spark_metadata`` already holds N."""
    batch = load_table(spark, SF, "events")
    n_expected = batch.count()

    with tempfile.TemporaryDirectory() as tmp:
        feed, bronze, ckpt = f"{tmp}/feed", f"{tmp}/bronze", f"{tmp}/ckpt"
        batch.repartition(2).write.parquet(feed)
        schema = spark.read.parquet(feed).schema

        def run():
            stream = incremental.read_event_stream(spark, feed, schema)
            incremental.incremental_parquet_sink(stream, bronze, ckpt)

        run()
        assert spark.read.parquet(bronze).count() == n_expected
        last = max(int(n) for n in os.listdir(f"{ckpt}/commits") if n.isdigit())
        assert last >= 1  # two feed files, one micro-batch each
        for name in (str(last), f".{last}.crc"):  # as if never committed
            if os.path.exists(f"{ckpt}/commits/{name}"):
                os.remove(f"{ckpt}/commits/{name}")
        run()
        assert os.path.exists(f"{ckpt}/commits/{last}")  # the batch re-ran
        assert spark.read.parquet(bronze).count() == n_expected


_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_local_session_writes_checkpoints_through_the_file_system(spark, tmp_path):
    """A local ``get_spark`` session resolves the FileSystem-based
    checkpoint manager for a local checkpoint path: its rename is one
    rename(2), where FileContext's forks ``readlink`` without
    libhadoop."""
    jvm = spark.sparkContext._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert mgr.getClass().getName() == _FS_MANAGER


def test_checkpoint_manager_default_yields_to_extra_conf(monkeypatch):
    """The checkpoint manager is a default of local masters only, and
    an ``extra_conf`` value for the key wins over it."""
    from football_etl_spark import session

    key = "spark.sql.streaming.checkpointFileManagerClass"

    class Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, _):
            return self

        def master(self, _):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return SimpleNamespace(
                sparkContext=SimpleNamespace(setLogLevel=lambda _: None),
                conf=self.conf,
            )

    def built(**kw):
        monkeypatch.setattr(session.SparkSession, "builder", Builder())
        return session.get_spark(**kw).conf

    assert built(master="local[2]")[key] == _FS_MANAGER
    assert built(master="local[2]", extra_conf={key: _FC_MANAGER})[key] == _FC_MANAGER
    assert key not in built(master="spark://host:7077")


def test_bronze_sink_mid_batch_crash_replay(spark):
    """Exactly-once under the at-least-once failure mode: a batch
    REPLAYED after a crash between the parquet write and the
    checkpoint commit must not duplicate rows — the write is keyed
    (overwrite) on batch_id."""
    batch = load_table(spark, SF, "events").limit(100)
    n = batch.count()
    with tempfile.TemporaryDirectory() as tmp:
        incremental.write_bronze_batch(batch, 7, f"{tmp}/bronze")
        # simulated replay of the SAME micro-batch
        incremental.write_bronze_batch(batch, 7, f"{tmp}/bronze")
        landed = spark.read.parquet(f"{tmp}/bronze")
        assert landed.count() == n
        # a different batch id lands additively
        incremental.write_bronze_batch(batch, 8, f"{tmp}/bronze")
        assert spark.read.parquet(f"{tmp}/bronze").count() == 2 * n


def test_streaming_dedup_across_micro_batches(spark):
    """dropDuplicatesWithinWatermark: a feed containing every event
    TWICE (two identical files → two micro-batches) lands each
    event_id exactly once — dedup state carries across batches."""
    batch = load_table(spark, SF, "events").limit(200).coalesce(1)
    n_distinct = batch.select("event_id").distinct().count()

    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        batch.write.parquet(feed)
        batch.write.mode("append").parquet(feed)  # the replayed copy
        stream = incremental.read_event_stream(
            spark, feed, spark.read.parquet(feed).schema
        )
        deduped = incremental.streaming_dedup(stream, keys=("event_id",))
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName("stream_dedup_test")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table("stream_dedup_test").collect()

    ids = [r["event_id"] for r in rows]
    assert len(ids) == n_distinct
    assert len(set(ids)) == n_distinct

    # batch twin: same helper, plain frame
    doubled = batch.union(batch)
    assert incremental.streaming_dedup(doubled).count() == n_distinct


def test_silver_upsert_batch_merge_and_replay(spark):
    """Keyed MERGE-upsert snapshots: later batches overwrite rows per
    key by order_col, unseen keys insert, and a replayed batch_id
    (crash between write and checkpoint commit) recomputes the same
    snapshot from the version BELOW it instead of compounding."""
    with tempfile.TemporaryDirectory() as tmp:
        silver = f"{tmp}/silver"
        b0 = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 10)], "k long, v string, seq long"
        )
        incremental.upsert_silver_batch(spark, b0, 0, silver, ("k",), "seq")
        b1 = spark.createDataFrame(
            [(2, "b2", 20), (3, "c", 20)], "k long, v string, seq long"
        )
        incremental.upsert_silver_batch(spark, b1, 1, silver, ("k",), "seq")
        got = {
            (r["k"], r["v"]) for r in incremental.read_silver(spark, silver).collect()
        }
        assert got == {(1, "a"), (2, "b2"), (3, "c")}
        # replay batch 1 → identical snapshot, not b2-applied-twice
        incremental.upsert_silver_batch(spark, b1, 1, silver, ("k",), "seq")
        got2 = {
            (r["k"], r["v"]) for r in incremental.read_silver(spark, silver).collect()
        }
        assert got2 == got
        # an out-of-order (stale seq) update must NOT win
        b2 = spark.createDataFrame([(2, "stale", 5)], "k long, v string, seq long")
        incremental.upsert_silver_batch(spark, b2, 2, silver, ("k",), "seq")
        got3 = {
            (r["k"], r["v"]) for r in incremental.read_silver(spark, silver).collect()
        }
        assert got3 == got


def test_silver_sink_stream_end_to_end(spark):
    """Stream → silver: a feed with multiple versions of the same keys
    lands as one latest-row-per-key snapshot; rerunning over the same
    checkpoint is a no-op."""
    ev = load_table(spark, SF, "events").limit(300)
    # keep the latest event per user
    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        ev.coalesce(2).write.parquet(feed)
        schema = spark.read.parquet(feed).schema
        for _ in range(2):
            stream = incremental.read_event_stream(spark, feed, schema)
            incremental.incremental_silver_sink(
                stream, f"{tmp}/silver", f"{tmp}/ckpt", ("user_id",), "ts"
            )
        silver = incremental.read_silver(spark, f"{tmp}/silver")
        expected = (
            ev.groupBy("user_id").agg({"ts": "max"}).collect()
        )
        exp = {(r["user_id"], r["max(ts)"]) for r in expected}
        got = {(r["user_id"], r["ts"]) for r in silver.collect()}
        assert got == exp


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static broadcast join over availableNow equals the batch
    join of the same frames."""
    ev = load_table(spark, SF, "events").limit(200)
    dim = (
        ev.select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("int"))
    )
    expected = {
        (r["event_id"], r["segment"])
        for r in ev.join(dim, "user_id", "left").select("event_id", "segment").collect()
    }
    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        ev.coalesce(1).write.parquet(feed)
        stream = incremental.read_event_stream(
            spark, feed, spark.read.parquet(feed).schema
        )
        enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
            "event_id", "segment"
        )
        q = (
            enriched.writeStream.outputMode("append")
            .format("memory")
            .queryName("stream_enrich_test")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["event_id"], r["segment"])
            for r in spark.table("stream_enrich_test").collect()
        }
    assert got == expected


def test_interval_stream_join_matches_batch(spark):
    """Stream-stream watermarked interval join (purchases x same-user
    trailing-hour events) over availableNow equals the batch range
    join of the same frames."""
    ev = load_table(spark, SF, "events").limit(400)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    others = ev.select("event_id", "user_id", "ts")
    expected = {
        (r["event_id"], r["r_event_id"])
        for r in purchases.join(
            others.select(*[F.col(c).alias(f"r_{c}") for c in others.columns]),
            F.expr(
                "r_user_id = user_id AND r_ts >= ts - INTERVAL 3600 SECOND"
                " AND r_ts <= ts + INTERVAL 0 SECOND"
            ),
        ).collect()
    }
    with tempfile.TemporaryDirectory() as tmp:
        pfeed, ofeed = f"{tmp}/p", f"{tmp}/o"
        purchases.coalesce(1).write.parquet(pfeed)
        others.coalesce(1).write.parquet(ofeed)
        ps = incremental.read_event_stream(spark, pfeed, spark.read.parquet(pfeed).schema)
        os_ = incremental.read_event_stream(spark, ofeed, spark.read.parquet(ofeed).schema)
        os_ = os_.select(*[F.col(c).alias(f"r_{c}") for c in os_.columns])
        joined = incremental.stream_interval_join(
            ps, os_, "user_id", "r_user_id", "ts", "r_ts", -3600, 0,
            watermark="3600 seconds",
        ).select("event_id", "r_event_id")
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ssj_test")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["event_id"], r["r_event_id"]) for r in spark.table("ssj_test").collect()
        }
    assert got == expected
    assert got  # non-degenerate: at least one pair joined


def test_kmeans_assignment_runs_on_a_stream(spark):
    """The k-means assignment kernel is map-only, so the SAME operator
    must run unchanged on a readStream source (train on batch history,
    assign arriving vectors incrementally — the online-serving shape).
    Streamed assignments must equal the batch assignment exactly."""
    import tempfile

    from football_etl_spark.operators import similarity
    from football_etl_spark.plans.queries import _kmeans_cent

    e = load_table(spark, SF, "embeddings")
    cent = _kmeans_cent(spark, SF)
    expected = {
        r["vec_id"]: (r["cid"], r["d2"])
        for r in similarity.kmeans_assign(e, cent).collect()
    }
    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        e.write.parquet(feed)
        stream = spark.readStream.schema(spark.read.parquet(feed).schema).parquet(feed)
        assigned = similarity.kmeans_assign(stream, cent)
        q = (
            assigned.writeStream.outputMode("append")
            .format("memory")
            .queryName("stream_kmeans_test")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["vec_id"]: (r["cid"], r["d2"])
            for r in spark.sql("SELECT * FROM stream_kmeans_test").collect()
        }
    assert got == expected
    assert len(got) > 0


def test_stream_interval_join_matches_batch_on_synthetic_feed(spark):
    """stream_interval_join over a tiny two-stream feed must emit
    exactly the pairs the batch theta join produces: same-key rows
    within the [lower_s, upper_s] event-time band, inner semantics,
    each pair once. Boundary rows (exactly at the band edges) are
    inclusive on both ends."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    lrows = [
        (1, 10, base),
        (2, 20, base + dt.timedelta(hours=2)),
        (3, 10, base + dt.timedelta(hours=4)),
    ]
    rrows = [
        (100, 10, base - dt.timedelta(seconds=3600)),   # edge: exactly -1h of l1
        (101, 10, base - dt.timedelta(seconds=3601)),   # just outside
        (102, 10, base),                                # edge: exactly at l1
        (103, 20, base + dt.timedelta(hours=2, seconds=1)),  # just after l2
        (104, 99, base),                                # key never matches
        (105, 10, base + dt.timedelta(hours=3, minutes=30)),  # in l3's band
    ]
    expected = {
        (lid, rid)
        for lid, lk, lts in lrows
        for rid, rk, rts in rrows
        if lk == rk and lts - dt.timedelta(seconds=3600) <= rts <= lts
    }
    assert (1, 101) not in expected and (1, 100) in expected  # sanity

    with tempfile.TemporaryDirectory() as tmp:
        lf, rf = f"{tmp}/l", f"{tmp}/r"
        spark.createDataFrame(lrows, "lid long, lkey long, lts timestamp").coalesce(
            2
        ).write.parquet(lf)
        spark.createDataFrame(rrows, "rid long, rkey long, rts timestamp").coalesce(
            2
        ).write.parquet(rf)
        ls = incremental.read_event_stream(spark, lf, spark.read.parquet(lf).schema)
        rs = incremental.read_event_stream(spark, rf, spark.read.parquet(rf).schema)
        joined = incremental.stream_interval_join(
            ls, rs, "lkey", "rkey", "lts", "rts",
            lower_s=-3600, upper_s=0, watermark="365 days",
        ).select("lid", "rid")
        got_df = incremental.run_available_now(
            joined, "sij_unit_test", f"{tmp}/ckpt", mode="append"
        )
        got = {(r["lid"], r["rid"]) for r in got_df.collect()}
    assert got == expected, (sorted(got - expected), sorted(expected - got))


def test_merge_agg_batch_replay_does_not_double_count(spark):
    """The IVM merge's exactly-once discipline: replaying a batch
    (crash after its write, before the checkpoint commit) must rewrite
    its version from the same base instead of compounding — per-key
    counters stay exact."""
    import shutil

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/agg"
        b0 = spark.createDataFrame(
            [(1, 10.0), (1, 5.0), (2, 7.0)], "k long, v double"
        )
        b1 = spark.createDataFrame([(1, 1.0), (3, 2.0)], "k long, v double")
        incremental.merge_agg_batch(spark, b0, 0, path, ("k",), "v")
        incremental.merge_agg_batch(spark, b1, 1, path, ("k",), "v")
        # replay batch 1 (same id, same rows) — must be a no-op rewrite
        incremental.merge_agg_batch(spark, b1, 1, path, ("k",), "v")
        got = {
            r["k"]: (r["n"], r["s"])
            for r in incremental.read_silver(spark, path).collect()
        }
    assert got == {1: (3, 1600), 2: (1, 700), 3: (1, 200)}, got


def test_merge_agg_batch_split_independence(spark):
    """The additive-IVM claim: the final aggregate table is EXACTLY
    the batch groupBy no matter how the feed is split into batches —
    counts and scaled-long sums are associative+commutative. Checked
    over random splits (hypothesis)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows = [(i % 7, round(0.01 * ((i * 37) % 1000), 2)) for i in range(60)]
    expected = {}
    for k, v in rows:
        n, s = expected.get(k, (0, 0))
        expected[k] = (n + 1, s + round(v * 100))

    @given(cuts=st.lists(st.integers(1, 59), min_size=0, max_size=4, unique=True))
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(cuts):
        bounds = [0] + sorted(cuts) + [60]
        with tempfile.TemporaryDirectory() as tmp:
            path = f"{tmp}/agg"
            for bid, (a, b) in enumerate(zip(bounds, bounds[1:])):
                if a == b:
                    continue
                bdf = spark.createDataFrame(rows[a:b], "k long, v double")
                incremental.merge_agg_batch(spark, bdf, bid, path, ("k",), "v")
            got = {
                r["k"]: (r["n"], r["s"])
                for r in incremental.read_silver(spark, path).collect()
            }
        assert got == expected, (cuts, got)

    check()


def test_streaming_dedup_state_survives_restart(spark):
    """Dedup state must live in the CHECKPOINT, not the process: run
    the dedup stream to completion, stop it, append a replayed copy of
    the same events to the feed, and run a SECOND availableNow query
    against the same checkpoint — the late duplicates must be dropped
    by the restored state/watermark, and nothing is lost or
    double-emitted across the restart boundary."""
    batch = load_table(spark, SF, "events").limit(200).coalesce(1)
    n_distinct = batch.select("event_id").distinct().count()

    with tempfile.TemporaryDirectory() as tmp:
        feed = f"{tmp}/feed"
        batch.write.parquet(feed)

        def run_once():
            stream = incremental.read_event_stream(
                spark, feed, spark.read.parquet(feed).schema
            )
            deduped = incremental.streaming_dedup(stream, keys=("event_id",))
            q = (
                deduped.writeStream.outputMode("append")
                .format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()  # first life of the query
        # the process "crashes"; upstream replays every event
        batch.write.mode("append").parquet(feed)
        run_once()  # second life, same checkpoint
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == n_distinct
        assert out.select("event_id").distinct().count() == n_distinct
