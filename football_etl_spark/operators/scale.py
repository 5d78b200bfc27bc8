"""Partitioning/scale utilities shared by operators."""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException, PySparkAttributeError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import default_parallelism


def sum_i64_checked(x, what: str, w=None):
    """Σx on the long fast path with a LOUD int64-overflow backstop —
    the cusum/wedge assert_true idiom centralized (r11 VERDICT #1,
    closing the silent-wrap class registry-wide): ``try_sum`` uses
    checked adds and yields NULL on an int64 breach instead of
    wrapping under a non-ANSI session; the coalesce arm then runs
    ``assert_true``, which ERRORS unless the NULL is the legitimate
    empty-or-all-null-group sum (count(x) == 0). Non-breach plans are
    value-identical to plain F.sum, so every oracle stays hash-exact.
    The guard is structurally un-foldable: coalesce only evaluates
    the assert arm when the sum is NULL (try_sum is nullable, so no
    rule drops the arm), and assert_true is side-effecting. Pass
    ``w`` to apply the same contract over a window frame. Works in
    Structured Streaming aggregations too (try_sum/count are ordinary
    declarative aggregates)."""
    s, n = F.try_sum(x), F.count(x)
    if w is not None:
        s, n = s.over(w), n.over(w)
    return F.coalesce(
        s,
        F.assert_true(
            n == 0,
            F.lit(
                f"{what}: int64 sum overflow — the scaled-long "
                "accumulator breached 2^63; widen this aggregate to "
                "DECIMAL at this data scale"
            ),
        ).cast("long"),
    )


def session_parallelism(spark) -> int:
    """``spark``'s default task parallelism: the context's
    ``defaultParallelism``, or under Spark Connect (no
    ``sparkContext``) :func:`session.default_parallelism`."""
    try:
        return spark.sparkContext.defaultParallelism
    except PySparkAttributeError:  # Spark Connect: no sparkContext
        return default_parallelism()


# Inputs bigger than this are already split into plenty of scan tasks
# by spark.sql.files.maxPartitionBytes; only compact inputs need help.
_SMALL_INPUT_BYTES = 256 * 1024 * 1024

def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Compact dimension tables (one small parquet file → one
    partition) serialize CPU-heavy per-row work — shingling, K-way
    hashing, vector math — onto a single core. Round-robin
    repartition restores parallelism; on big (many-file) inputs this
    is a no-op.

    Full-parallelism fan-out is deliberate even for sub-MB tables:
    measured at sf0.1, shingle-heavy ops (n-gram/MinHash) run 8×
    slower on 1 partition and ~1.5× slower on byte-proportional
    partition counts (e.g. 64 KB/partition) than on
    defaultParallelism partitions — per-task overhead is noise next
    to the per-row CPU work this helper exists to spread.

    The smallness check uses file metadata only (no RDD translation,
    no job): if the source files are few and small, repartition.
    ``min_parts`` defaults to :func:`session_parallelism`."""
    if min_parts is None:
        min_parts = session_parallelism(df.sparkSession)
    try:
        files = df.inputFiles()
    except AnalysisException:
        # a streaming relation: inputFiles() plans it as a batch query,
        # which Spark refuses; other non-file relations return []
        files = []
    if not files:
        # non-file source (literal/derived frames): cheap to repartition
        return df.repartition(min_parts)
    if len(files) >= min_parts:
        return df
    total = 0
    for f in files:
        path = f.removeprefix("file:")
        try:
            total += os.path.getsize(path)
        except OSError:
            return df  # remote FS — trust maxPartitionBytes splitting
    if total < _SMALL_INPUT_BYTES:
        return df.repartition(min_parts)
    return df


def explode_salts(df: DataFrame, n_salts: int, salt_col: str = "__salt"):
    """Replicate each row once per salt value (the build/broadcast side
    of a salted join). Cost: n_salts× the SMALL side — the price of
    spreading one hot key over n_salts reducers on the big side."""
    from pyspark.sql import functions as F

    return df.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    n_salts: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-safe equi-join: the big (skewed) side gets a uniform salt
    in [0, n_salts), the small side is exploded across every salt, and
    the join runs on keys+salt — one hot key now lands on n_salts
    shuffle partitions instead of one straggler.

    Join RESULTS are identical to ``big.join(small, keys, how)``; the
    salt only changes data placement. Prefer AQE skew-join handling
    (on by default in the engine session) when it suffices — salting
    is for the pathological keys AQE's split thresholds miss, and for
    deterministic layout under a fixed partitioning.
    """
    from pyspark.sql import functions as F

    salt = F.floor(F.rand(seed) * n_salts).cast("int")
    b = big.withColumn("__salt", salt)
    s = explode_salts(small, n_salts)
    return b.join(s, [*keys, "__salt"], how).drop("__salt")


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
    hot_factor: float = 1.5,
) -> DataFrame:
    """Join-key skew diagnostic — the measurement half of the skew
    toolkit (salted_join is the treatment half): per-key row counts,
    each key's share of the relation, and a hot flag for keys whose
    count exceeds ``hot_factor``× the mean per-key load, top-N
    heaviest first. Run it on a join key BEFORE the join to decide
    whether AQE's skew split suffices or a salt is needed.

    Plan: one hash shuffle for the per-key count (map-side partial
    combine), a 1-row totals aggregate broadcast back (the scalar
    pattern), TakeOrderedAndProject for the top-N — profiling a
    100 TB key column costs one count pass, never a sort of all keys.
    All derived numbers are single IEEE divisions of exact longs, so
    an external oracle matches them bit-for-bit."""
    from pyspark.sql import functions as F

    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    mean_load = F.col("total").cast("double") / F.col("n_keys")
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            key_col,
            "n",
            ((F.lit(100.0) * F.col("n")) / F.col("total")).alias("share_pct"),
            (F.col("n") > F.lit(hot_factor) * mean_load).alias("is_hot"),
        )
        .orderBy(F.desc("n"), F.asc(key_col))
        .limit(top_n)
    )
