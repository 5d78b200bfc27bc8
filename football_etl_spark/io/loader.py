"""Table loaders over the driver testdata layout (TESTDATA.md).

Parquet is the engine-native format: columnar, predicate-pushdown and
column-pruning friendly, splittable at 100 TB. Loaders never infer —
parquet carries its schema; CSV/JSON readers take the explicit
StructType from ``schemas``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from ..schemas import TESTDATA, TESTDATA_TABLES

# Timestamp columns the driver has generated as TIMESTAMP(NANOS) in some
# rounds (Spark's vectorized reader rejects ns) and plain µs-NTZ in others.
# Normalize every variant to a session TimestampType µs column so operator
# semantics never depend on which testdata generation is on disk:
# ns → read as raw longs (legacy conf) and narrow with exact integer
# arithmetic (the same truncation DuckDB applies); µs-NTZ → plain cast.
_TS_NORM_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame."""
    ts_cols = _TS_NORM_COLS.get(name, ())
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for c in ts_cols:
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(df.schema[c].dataType, TimestampNTZType):
            # tz-FREE normalization: micros since the NTZ epoch via
            # timestampdiff (pure wall-clock arithmetic), then
            # timestamp_micros — the same path as the nanos branch. A
            # plain cast('timestamp') would interpret the wall-clock
            # in the SESSION timezone, silently shifting events.ts
            # under a non-UTC driver session (the driver contract runs
            # a stock session in the machine tz) relative to both the
            # nanos branch and the DuckDB oracle.
            micros = F.expr(
                f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{c}`)"
            )
            df = df.withColumn(c, F.timestamp_micros(micros))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Register every table as a temp view so all operators are also
    reachable through ``spark.sql`` (SURVEY.md §7.0 dual surface)."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


def _schema(table_or_schema):
    from pyspark.sql.types import StructType

    if isinstance(table_or_schema, StructType):
        return table_or_schema
    return TESTDATA[table_or_schema]


def read_csv(spark: SparkSession, path: str, table) -> DataFrame:
    """CSV scan with the declared schema (no inference) — mirrors the
    reference's pd.read_csv loads (/root/reference/examples/visualize_data.py:39-51).
    ``table`` is a TESTDATA table name or an explicit StructType
    (e.g. schemas.FIXTURES for reference-domain files)."""
    return spark.read.schema(_schema(table)).option("header", True).csv(path)


def read_json(spark: SparkSession, path: str, table) -> DataFrame:
    """JSON records source — mirrors the per-team JSON cache reads
    (/root/reference/scrapers/team_scraper.py:89-126). ``table`` as in
    :func:`read_csv`. Timestamp format pairs with sinks.write_json
    (full microsecond precision)."""
    return (
        spark.read.schema(_schema(table))
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the third columnar interchange format next to
    parquet and CSV/JSON. ORC files carry their own schema (and
    column statistics usable for predicate pushdown), so no declared
    StructType is needed; pairs with sinks.write_orc."""
    return spark.read.orc(path)
