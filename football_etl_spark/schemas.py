"""Explicit StructType registry — the engine's schema contract.

The reference infers schemas from CSV/HTML and then defensively
repairs them (/root/reference/utils/data_utils.py:194-235,
/root/reference/processors/data_processor.py:56-99). The engine
inverts that: schemas are explicit and declared here; the repair
layer (operators/cleaning.py) reconciles dirty input *to* these
contracts with pure DataFrame transforms.

Two families:
- reference-domain tables (fixtures / team_history) per FIXTURES.md;
- the driver's synthetic TPC-H-ish testdata tables (TESTDATA.md),
  used by the query registry and benchmarks.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Reference-domain schemas (FIXTURES.md §1-2)
# --------------------------------------------------------------------------

FIXTURES = T.StructType(
    [
        T.StructField("match_id", T.StringType(), False),
        T.StructField("date", T.DateType(), True),
        T.StructField("home_team", T.StringType(), True),
        T.StructField("away_team", T.StringType(), True),
        T.StructField("league", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("venue", T.StringType(), True),
        T.StructField("kickoff_time", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("competition_stage", T.StringType(), True),
    ]
)

TEAM_HISTORY = T.StructType(
    [
        T.StructField("team", T.StringType(), False),
        T.StructField("season", T.StringType(), True),
        T.StructField("date", T.DateType(), True),
        T.StructField("competition", T.StringType(), True),
        T.StructField("venue", T.StringType(), True),
        T.StructField("opponent", T.StringType(), True),
        T.StructField("result", T.StringType(), True),
        T.StructField("goals_for", T.DoubleType(), True),
        T.StructField("goals_against", T.DoubleType(), True),
        T.StructField("is_home", T.IntegerType(), True),
        T.StructField("home_team", T.StringType(), True),
        T.StructField("away_team", T.StringType(), True),
        T.StructField("match_id", T.StringType(), True),
        T.StructField("match_url", T.StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# Driver testdata schemas (TESTDATA.md)
# --------------------------------------------------------------------------

TESTDATA = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TESTDATA_TABLES = tuple(TESTDATA)
