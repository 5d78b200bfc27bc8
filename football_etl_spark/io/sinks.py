"""Sinks — the reference's CSV/JSON writers re-expressed as Spark writers.

Reference sites: CSV sinks at /root/reference/processors/data_processor.py:119-374,
date-partitioned daily files at /root/reference/daily_match_scraper.py:617-620,
JSON record cache at /root/reference/scrapers/team_scraper.py:128-150,
summary-stats JSON at /root/reference/pipeline.py:103-118.

Engine-native persistence is parquet (optionally date-partitioned);
CSV/JSON remain as interchange sinks. All writers take a column
projection so the reference's fixed-field-order `csv.DictWriter`
behavior (extras ignored) is a plain ``select``.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame, path: str, columns: tuple[str, ...] = (), mode: str = "overwrite"
) -> None:
    """CSV sink with fixed column order; extra columns dropped
    (reference: extrasaction='ignore', daily_match_scraper.py:548)."""
    if columns:
        df = df.select(*columns)
    df.write.mode(mode).option("header", True).csv(path)


# JSON timestamp rendering at FULL microsecond precision — Spark's
# default truncates to milliseconds, silently losing fidelity on a
# write→read cycle. Paired with loader.read_json.
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("timestampFormat", JSON_TS_FORMAT).json(path)


def write_stats_json(stats: dict, path: str) -> None:
    """Driver-side summary-stats JSON (pipeline.py:103-118) — tiny
    dict of already-aggregated metrics, not a distributed write."""
    with open(path, "w") as f:
        json.dump(stats, f, indent=2, default=str)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    path: str,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) external table: co-locates join/agg
    keys at WRITE time so repeated joins on ``bucket_cols`` between
    same-bucketed tables need no shuffle at all — the 100 TB answer
    for a fact table joined on the same key every day. ``sort=True``
    additionally orders within buckets (sort-merge join without the
    sort). Readers use ``spark.table(table)``; plain parquet readers
    see normal files and ignore the clustering metadata."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort:
        w = w.sortBy(*bucket_cols)
    w.option("path", path).format("parquet").saveAsTable(table)


def write_parquet_observed(
    df: DataFrame,
    path: str,
    metrics: dict,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> dict:
    """Parquet sink instrumented with Spark's ``observe`` API:
    ``metrics`` maps name → aggregate Column (count, null counts,
    sums...), collected DURING the write job itself — data-quality
    numbers for free, with zero extra passes over the data (the
    alternative — count() then write — scans twice). Returns the
    observed metric values after the write completes. The
    write-audit-publish primitive: assert on the returned dict
    before promoting the output path."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    w = observed.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return dict(obs.get)


def write_orc(
    df: DataFrame, path: str, columns: tuple[str, ...] = (), mode: str = "overwrite"
) -> None:
    """ORC sink (JVM-native, no extra package): columnar with min/max
    stripe statistics — like parquet, filters push down into the scan
    on re-read. Fixed column projection as in write_csv."""
    if columns:
        df = df.select(*columns)
    df.write.mode(mode).orc(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 12,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet layout — the
    multi-dimensional generalization of a range-sorted layout
    (``repartitionByRange`` + ``sortWithinPartitions`` on one column).

    A single-column range sort gives tight min/max footer stats (and
    so file-level pruning) on its LEAD column only; a predicate on any
    other column still scans every file. Interleaving the bits of
    several columns into one Morton key and range-clustering on THAT
    makes every file cover a small hyper-rectangle of the combined key
    space, so parquet footer stats stay tight on EVERY participating
    column and a selective filter on any of them prunes most files —
    the standard lakehouse technique (Delta/Iceberg ``ZORDER BY``) for
    100 TB tables queried along more than one axis.

    Mechanics: one 1-row aggregate collects each column's min/max (the
    only extra pass — driver control-plane); values are linearly
    scaled to ``bits``-bit integers; the Morton key is built from pure
    JVM bitwise expressions (shift/and/or — whole-stage codegen, no
    UDF); then ``repartitionByRange`` + ``sortWithinPartitions`` on
    the key writes ``n_files`` z-contiguous files, exactly one
    shuffle like the 1-D layout. ``len(cols) * bits`` must fit a long
    (≤ 63). Nulls sort to z-bucket 0 (scaled via coalesce to the
    column minimum)."""
    from pyspark.sql import functions as F

    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a long")
    stats = df.agg(
        *[
            m(F.col(c).cast("double")).alias(f"{tag}_{c}")
            for c in cols
            for tag, m in (("min", F.min), ("max", F.max))
        ]
    ).collect()[0]
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo = stats[f"min_{c}"]
        hi = stats[f"max_{c}"]
        lo = 0.0 if lo is None else float(lo)
        span = max((0.0 if hi is None else float(hi)) - lo, 1e-300)
        scaled = F.least(
            F.lit(top).cast("long"),
            F.floor(
                (F.coalesce(F.col(c).cast("double"), F.lit(lo)) - F.lit(lo))
                / F.lit(span)
                * F.lit(float(1 << bits))
            ).cast("long"),
        )
        for b in range(bits):
            bit = F.shiftright(scaled, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + ci))
    zdf = df.withColumn("__z", z)
    (
        zdf.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: Sequence[str] = (),
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files and swap it into
    place. Returns the ACTUAL new parquet file count, counted from
    the swapped-in directory (with ``partition_by`` the layout is
    one file per partition value, not the byte budget).

    Streaming/incremental sinks accrete one-file-per-micro-batch
    layouts whose per-file open/footer cost eventually dominates
    scans — the canonical lakehouse maintenance job (OPTIMIZE /
    rewrite_data_files) this helper plays for plain parquet. Sizing
    reads file metadata only (no data pass); the rewrite is one
    round-robin repartition (even output sizes, no skew from the
    input layout). The swap is two renames (old aside, new in):
    POSIX offers no atomic directory exchange, so a reader racing
    the swap — or a crash between the two renames — can observe
    ``path`` missing for that instant, with all data intact at the
    sibling ``.precompact.<token>`` dir (recovery = one rename
    back). The safety property is that committed data is never lost
    or half-written; a single-writer maintenance window is assumed,
    and object-store/table-format deployments replace the renames
    with a manifest/transaction commit that closes the gap entirely.

    A streaming file sink's output (the bronze table of
    ``streaming.incremental.incremental_parquet_sink``) is read
    through its ``_spark_metadata`` log. The compacted directory is
    plain parquet with no such log, so compact it only once the
    stream that writes it is retired: a restarted stream would start
    a new log that hides the compacted files from readers.

    ``partition_by`` preserves a partitioned layout (e.g. the fanout
    sink's ``batch_id=N`` dirs): discovered partition columns are
    re-written as directories instead of silently demoted to data
    columns. The repartition then keys on the partition columns, so
    each partition value's rows colocate — i.e. ONE file per
    partition directory, the right shape for the many-small-batches
    case this maintenance job exists for. A single partition too big
    for one file would additionally salt the repartition keys (split
    count per value), which this helper deliberately leaves to the
    caller — it changes the layout contract."""
    import math
    import os
    import shutil
    import uuid

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / max(1, target_file_bytes)))
    token = uuid.uuid4().hex[:12]
    tmp_new = f"{path}.compact.{token}"
    tmp_old = f"{path}.precompact.{token}"
    src = spark.read.parquet(path)
    if partition_by:
        w = src.repartition(n_files, *[src[c] for c in partition_by]).write.partitionBy(
            *partition_by
        )
    else:
        w = src.repartition(n_files).write
    w.mode("overwrite").parquet(tmp_new)
    os.rename(path, tmp_old)
    os.rename(tmp_new, path)
    shutil.rmtree(tmp_old)
    written = 0
    for root, _, files in os.walk(path):
        written += sum(1 for f in files if f.endswith(".parquet"))
    return written
