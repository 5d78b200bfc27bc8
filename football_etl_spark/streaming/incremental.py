"""Incremental / Structured Streaming variants (SURVEY.md §2.9, M7).

The reference's ingest loop appends one file per day
(/root/reference/daily_match_scraper.py:587-628) — a micro-batch
pattern. Its Spark-native forms:

- ``incremental_parquet_sink``: file-source stream +
  ``trigger(availableNow=True)`` into Spark's parquet file sink — a
  catch-up batch, exactly-once through the checkpoint and the sink's
  ``_spark_metadata`` log, the engine's bronze feed. No Python
  callback runs per micro-batch.
- ``windowed_event_counts``: watermarked sliding event-time window —
  the streaming twin of the 90-day batch range window (late data
  bounded by the watermark, state bounded by window × watermark).
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.scale import sum_i64_checked


def read_event_stream(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """File-source stream over a (date-partitioned) parquet feed; one
    input file per micro-batch ≡ the reference's per-day CSV appends."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked tumbling/sliding counts per event_type — the
    streaming form of the rolling batch aggregate (SURVEY §2.9).
    Works on both batch and streaming DataFrames (same expression)."""
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    df = events
    if events.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(win.alias("win"), "event_type").agg(
        F.count("*").alias("n"),
        (sum_i64_checked(F.round(F.col("value") * 100).cast("long"), "windowed_event_counts[total_value]") / 100.0).alias("total_value"),
    )


def session_window_totals(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 days",
    value_col: str = "value",
) -> DataFrame:
    """Native session windows (``F.session_window``): one row per
    (key, session), where a session is a chain of events each arriving
    within ``gap`` of the previous — the built-in streaming form of
    operators/windows.sessionize (whose lag-gap cumsum composes the
    same semantics in batch; boundary rule, verified empirically: an
    arrival at EXACTLY ``gap`` after the previous event still merges —
    the [ts, ts+gap] windows touch and coalesce — a session splits
    only when the gap is strictly exceeded, matching sessionize's
    strict ``>``).

    Same expression serves batch and streaming; the watermark attaches
    only on streams, bounding session state for late data. At 100 TB
    this is one shuffle on the key with state per open session —
    watermark eviction keeps state proportional to active keys, not
    history.
    """
    df = events
    if events.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("sess"), key_col
    ).agg(
        F.count("*").alias("n_events"),
        (sum_i64_checked(F.round(F.col(value_col) * 100).cast("long"), "session_window_totals[total_value]") / 100.0).alias("total_value"),
    )


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Exact dedup on a stream: keep the first arrival per key, with
    state bounded by the watermark horizon
    (``dropDuplicatesWithinWatermark``) — duplicates arriving within
    ``watermark`` of the original are dropped, and key state is
    evicted once the watermark passes it, so state is proportional to
    the dedup horizon, not the stream's history. The same call works on
    a batch frame (plain dropDuplicates). The at-scale ingest dedup
    for replayed/overlapping feeds."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    lower_s: int,
    upper_s: int,
    watermark: str = "2 days",
) -> DataFrame:
    """STREAM-STREAM interval join: each left event matched to right
    events of the same key whose timestamp lies in
    ``[left_ts + lower_s, left_ts + upper_s]`` seconds — the streaming
    twin of operators/joins.range_join (the batch bucketized interval
    join). Both sides carry watermarks and the join condition bounds
    event-time on BOTH streams, which is what lets the engine evict
    buffered rows once the watermark passes their match horizon —
    state stays proportional to (rate x window + watermark slack), not
    stream history. Inner join: each matched pair is emitted exactly
    once (append semantics downstream).

    Column names must be pre-disambiguated by the caller (the two
    sides are joined by expression, not by merged key column). At
    100 TB this is the micro-batch form of the same (key, bucket)
    co-partitioned state layout the batch rewrite uses."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] >= lw[left_ts] + F.expr(f"INTERVAL {int(lower_s)} SECONDS"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {int(upper_s)} SECONDS"))
    )
    return lw.join(rw, cond, "inner")


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    mode: str = "complete",
) -> DataFrame:
    """Drive a streaming aggregation to completion over all currently
    available input (availableNow trigger), land it in an in-memory
    sink, return the result table. This is the catch-up/incremental
    execution mode; on a cluster the sink would be a parquet/Delta
    bronze table with the same checkpoint discipline.

    ``mode``: the sink output mode — "complete" for full-result
    aggregations; "update" for stateful operators that emit changed
    keys per micro-batch (the memory sink then APPENDS each batch's
    updates, so the table holds one row per (key, touching batch) and
    the caller reduces to latest-per-key)."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stateful_user_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    state_ttl_minutes: int | None = 10,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY §2.9): running per-key event count + value total, with
    processing-time state TTL — the streaming twin of the reference's
    per-team cache with 7-day freshness eviction
    (/root/reference/scrapers/team_scraper.py:89-126).

    State is one (count, total) pair per key — bounded by key
    cardinality, evicted on timeout; emits one updated row per key per
    micro-batch ("update" mode). The worker closure is self-contained
    (no package references) per the driver-contract pickling rule.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    ttl_ms = (state_ttl_minutes or 0) * 60 * 1000
    vc = value_col
    kc = key_col

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[vc].fillna(0.0).sum())
        state.update((n, total))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({kc: [key[0]], "n_events": [n], "total_value": [total]})

    # output schema derives from the parameters: the key keeps its
    # name and incoming type, counters are fixed
    key_type = events.schema[key_col].dataType.simpleString()
    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=f"{key_col} {key_type}, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=timeout,
    )


def _drain_foreach_batch(
    stream_df: DataFrame,
    checkpoint_dir: str,
    write: Callable[[DataFrame, int], None],
) -> None:
    """Run ``write(batch_df, batch_id)`` on every micro-batch of all
    currently available input (``availableNow`` trigger) and block
    until the stream drains — the shared start-up of the foreachBatch
    sinks below."""
    (
        stream_df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_bronze_batch(batch_df: DataFrame, batch_id: int, out_path: str) -> None:
    """Idempotent micro-batch landing: each batch OVERWRITES its own
    ``batch_id=N`` subdirectory, so a replay of the same batch (crash
    after the parquet write but before the checkpoint offset commit)
    rewrites identical files instead of appending duplicates — the
    batch_id-keyed overwrite is what upgrades foreachBatch's native
    at-least-once to exactly-once on a plain parquet sink (the
    dependency-free analog of a Delta/Iceberg MERGE). Readers see
    ``batch_id`` as a normal discovered partition column."""
    batch_df.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")


def incremental_parquet_sink(stream_df: DataFrame, out_path: str, checkpoint_dir: str) -> None:
    """Land a stream into a parquet bronze table with Spark's built-in
    parquet file sink — the engine's incremental LOAD stage (reference:
    per-day CSV appends, daily_match_scraper.py:587-628, made
    exactly-once).

    The file sink is exactly-once on its own: each micro-batch's files
    are recorded under the batch id in ``out_path/_spark_metadata``.
    A batch replayed after a crash between that log entry and the
    checkpoint commit is skipped, because its id is already in the
    log. A batch that crashed before its log entry re-runs, and
    ``spark.read.parquet(out_path)`` lists files through the log, so
    the first attempt's orphan files are never read. The layout is
    flat: one set of part files per batch, no partition column.
    ``availableNow`` makes the same job a catch-up batch. At scale a
    Delta/Iceberg table takes the sink log's place.
    """
    (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def latest_silver_version(silver_path: str, below: int | None = None) -> int | None:
    """Largest COMMITTED snapshot version under ``silver_path``
    (``v=N`` dirs containing a ``_SUCCESS`` marker), optionally
    restricted to versions strictly below ``below``. Local-FS
    implementation — control-plane metadata only, a handful of
    directory entries; on a cluster this role is played by a table
    format's transaction log (Delta/Iceberg), never by listing."""
    import os

    if not os.path.isdir(silver_path):
        return None
    versions = []
    for name in os.listdir(silver_path):
        if name.startswith("v=") and os.path.exists(
            os.path.join(silver_path, name, "_SUCCESS")
        ):
            v = int(name[2:])
            if below is None or v < below:
                versions.append(v)
    return max(versions) if versions else None


def upsert_silver_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    silver_path: str,
    keys: tuple[str, ...],
    order_col: str,
) -> None:
    """Keyed MERGE-upsert into a versioned parquet silver table: union
    the previous snapshot with the incoming batch, keep the latest row
    per ``keys`` (highest ``order_col`` — last-writer-wins; callers
    must make (keys, order_col) unique, the usual CDC contract), and
    write the result as snapshot ``v=<batch_id>``.

    Exactly-once under foreachBatch replay: the previous snapshot is
    the latest committed version STRICTLY BELOW ``batch_id``, so a
    replayed batch (crash after write, before checkpoint commit)
    recomputes v=N from the same v=M + the same batch rows and
    overwrites it with identical content, instead of compounding on
    top of its own partial output. Readers always see the latest
    committed ``_SUCCESS``-marked snapshot (:func:`read_silver`).

    The full-snapshot rewrite is the plain-parquet stand-in for a
    Delta/Iceberg MERGE; at 100 TB the same foreachBatch body calls
    the table format's merge and everything else here is unchanged."""
    from pyspark.sql import Window

    prev = latest_silver_version(silver_path, below=batch_id)
    merged = batch_df
    if prev is not None:
        old = spark.read.parquet(f"{silver_path}/v={prev}")
        merged = old.select(*batch_df.columns).unionByName(batch_df)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    snap = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    snap.write.mode("overwrite").parquet(f"{silver_path}/v={batch_id}")


def merge_agg_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    agg_path: str,
    keys: tuple[str, ...],
    value_col: str,
    scale: int = 2,
) -> None:
    """ADDITIVE incremental view maintenance: fold one micro-batch into
    a versioned per-key aggregate table holding (n, scaled-long sum) —
    the IVM identity ``new_state = old_state + delta`` that every
    streaming materialized view rests on. The batch reduces to its own
    partial aggregate FIRST (map-side-combined, delta is key-sized not
    row-sized), then a full-outer coalescing merge with the previous
    snapshot adds the counters; both count and the 10^scale-scaled
    long sum are associative+commutative, so the result is EXACT and
    independent of how the feed was split into batches.

    Exactly-once under foreachBatch replay: same version discipline as
    :func:`upsert_silver_batch` — the base is the latest committed
    version STRICTLY BELOW ``batch_id``, so a replayed batch rewrites
    v=N from the same inputs instead of double-counting. At 100 TB
    the snapshot rewrite becomes a table-format MERGE and the delta
    stays key-cardinality-sized."""
    f = 10**scale
    delta = batch_df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        sum_i64_checked(F.round(F.col(value_col) * f).cast("long"), "silver_upsert_batch[s]").alias("s"),
    )
    prev = latest_silver_version(agg_path, below=batch_id)
    if prev is not None:
        old = spark.read.parquet(f"{agg_path}/v={prev}")
        on = list(keys)
        merged = old.alias("o").join(delta.alias("d"), on, "full_outer").select(
            *[F.coalesce(f"o.{k}", f"d.{k}").alias(k) for k in on],
            (
                F.coalesce(F.col("o.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("o.s"), F.lit(0))
                + F.coalesce(F.col("d.s"), F.lit(0))
            ).alias("s"),
        )
    else:
        merged = delta
    merged.write.mode("overwrite").parquet(f"{agg_path}/v={batch_id}")


def incremental_agg_sink(
    stream_df: DataFrame,
    agg_path: str,
    checkpoint_dir: str,
    keys: tuple[str, ...],
    value_col: str,
    scale: int = 2,
) -> None:
    """Stream → additively-maintained aggregate table via foreachBatch
    + :func:`merge_agg_batch` (the INCREMENTAL VIEW MAINTENANCE stage:
    where the silver sink keeps the latest ROW per key, this keeps the
    running AGGREGATE per key, merged by addition — no complete-mode
    state store, no re-scan of history). ``availableNow`` makes the
    same job a catch-up batch."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        merge_agg_batch(
            batch_df.sparkSession, batch_df, batch_id, agg_path, keys,
            value_col, scale,
        )

    _drain_foreach_batch(stream_df, checkpoint_dir, _write)


def read_silver(
    spark: SparkSession, silver_path: str, version: int | None = None
) -> DataFrame:
    """Read a committed silver snapshot — the latest by default, or a
    specific ``version`` for TIME TRAVEL (the v=N snapshot dirs double
    as a retained version history, the parquet-native analog of a
    Delta/Iceberg snapshot read; retention/vacuum policy is the
    caller's, exactly as in those formats)."""
    v = latest_silver_version(silver_path) if version is None else int(version)
    if v is None:
        raise FileNotFoundError(f"no committed silver snapshot under {silver_path}")
    if not _os.path.exists(_os.path.join(silver_path, f"v={v}", "_SUCCESS")):
        raise FileNotFoundError(f"no committed snapshot v={v} under {silver_path}")
    return spark.read.parquet(f"{silver_path}/v={v}")


def incremental_silver_sink(
    stream_df: DataFrame,
    silver_path: str,
    checkpoint_dir: str,
    keys: tuple[str, ...],
    order_col: str,
) -> None:
    """Stream → keyed-upsert silver table via foreachBatch +
    :func:`upsert_silver_batch` (the UPSERT stage above the
    append-only bronze sink). ``availableNow`` makes the same job a
    catch-up batch."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        upsert_silver_batch(
            batch_df.sparkSession, batch_df, batch_id, silver_path, keys, order_col
        )

    _drain_foreach_batch(stream_df, checkpoint_dir, _write)


def stream_static_enriched_totals(
    stream: DataFrame,
    dim: DataFrame,
    key: str = "event_type",
    dim_key: str = "k",
    value_col: str = "category",
) -> DataFrame:
    """Stream-static enrichment join + running totals — the canonical
    Structured Streaming dimension-lookup pattern (the one join family
    the streaming tier did not yet cover; stream-STREAM interval join
    is a separate entry). The static side is broadcast to every
    micro-batch; unmatched keys coalesce to themselves (same contract
    as operators/joins.lookup_join). Stateless join + a global
    aggregation: no watermark is needed for correctness because the
    aggregate is keyed by the low-cardinality category, and complete
    output mode re-emits the full (small) result each batch.

    100 TB shape: the static side is dictionary-sized and rides the
    broadcast; the stream never shuffles for the join — only the
    category-keyed aggregate state exists, bounded by the dictionary
    cardinality."""
    joined = stream.join(
        F.broadcast(dim), stream[key] == dim[dim_key], "left"
    ).select(
        F.coalesce(dim[value_col], stream[key]).alias("category"),
        stream["value"],
    )
    return joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        (sum_i64_checked(F.round(F.col("value") * 100).cast("long"), "stream_static_enrichment[total_value]") / 100.0).alias(
            "total_value"
        ),
    )


def fanout_two_sinks(
    stream_df: DataFrame,
    bronze_path: str,
    metrics_path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """ONE stream, TWO exactly-once sinks from the same foreachBatch —
    the standard bronze+metrics fanout every production ingest runs
    (land the raw rows AND maintain an ops rollup without a second
    read of the source). Both writes are keyed on the replay-stable
    ``batch_id`` (overwrite of a batch-scoped directory, the
    write_bronze_batch discipline), so a batch replayed after a crash
    ANYWHERE between the two writes lands idempotently on BOTH sinks
    — the failure mode a naive two-write body gets wrong is a crash
    between write 1 and write 2, which replays write 1; batch-keyed
    overwrite makes that replay a no-op-equivalent rewrite. The
    metrics leg stores per-batch PARTIALS (count + exact cents sum
    per group); the reader re-aggregates across batch dirs — partials
    are mergeable, so the rollup never needs the raw rows again.

    At 100 TB the two writes become a table-format MERGE and an
    aggregate MERGE, same body; the batch_id keying is unchanged."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        fanout_write_batch(
            batch_df, batch_id, bronze_path, metrics_path, group_col, value_col
        )

    _drain_foreach_batch(stream_df, checkpoint_dir, _write)


def fanout_write_batch(
    batch_df: DataFrame,
    batch_id: int,
    bronze_path: str,
    metrics_path: str,
    group_col: str = "event_type",
    value_col: str = "value",
) -> None:
    """The fanout's per-batch body, module-level so the crash-replay
    pytest can drive it directly: bronze rows then metrics partial,
    each an overwrite of its own ``batch_id`` directory — replaying
    the same (batch_df, batch_id) after a crash anywhere between the
    two writes rewrites identical content on both sinks."""
    batch_df.persist()
    try:
        write_bronze_batch(batch_df, batch_id, bronze_path)
        partial = batch_df.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("pn"),
            sum_i64_checked(F.round(F.col(value_col) * 100).cast("long"), "fanout_two_sinks[pcents]").alias(
                "pcents"
            ),
        )
        partial.write.mode("overwrite").parquet(
            f"{metrics_path}/batch_id={batch_id}"
        )
    finally:
        batch_df.unpersist()
