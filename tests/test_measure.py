"""tools/measure.py: the replica generator and the DuckDB views over
its Spark-written, directory-style output."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from football_etl_spark.schemas import TESTDATA_TABLES
from tools.measure import ALPHA, KEY_COLS, OFFSET, duckdb_views, replicate

from .conftest import SF_SMOKE

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="no sf0.001 testdata")


@pytest.fixture(scope="module")
def x2(spark, tmp_path_factory):
    return replicate(spark, SF_SMOKE, str(tmp_path_factory.mktemp("scale") / "x2"), 2, OFFSET)


def test_replica_doubles_facts_and_shifts_keys(spark, x2):
    assert os.path.exists(f"{x2}/_DONE")
    for t, cols in KEY_COLS.items():
        src = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
        out = spark.read.parquet(f"{x2}/{t}.parquet")
        assert out.count() == 2 * src.count(), t
        for k in cols:
            base = {r[0] for r in src.select(k).collect()}
            got = {r[0] for r in out.select(k).collect()}
            assert got == base | {v + OFFSET for v in base}, (t, k)


def test_replica_keeps_dimensions_single_copy(spark, x2):
    for t in ("region", "nation"):
        src = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
        out = spark.read.parquet(f"{x2}/{t}.parquet")
        assert sorted(out.collect()) == sorted(src.collect()), t


def test_replica_one_text_is_rotated_by_one(spark, x2):
    src = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rep1 = (
        spark.read.parquet(f"{x2}/documents.parquet")
        .where(F.col("doc_id") >= OFFSET)
        .select((F.col("doc_id") - OFFSET).alias("doc_id"), F.col("text").alias("rotated"))
    )
    pairs = src.join(rep1, "doc_id").select("text", "rotated").collect()
    assert len(pairs) == src.count()
    shift = str.maketrans(ALPHA, ALPHA[1:] + ALPHA[:1])
    assert all(r.rotated == r.text.translate(shift) for r in pairs)
    assert any(r.rotated != r.text for r in pairs)


def test_replica_one_vectors_are_rotated_by_one(spark, x2):
    src = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rep1 = (
        spark.read.parquet(f"{x2}/embeddings.parquet")
        .where(F.col("vec_id") >= OFFSET)
        .select((F.col("vec_id") - OFFSET).alias("vec_id"), F.col("embedding").alias("rotated"))
    )
    pairs = src.join(rep1, "vec_id").select("embedding", "rotated").collect()
    assert len(pairs) == src.count()
    assert all(r.rotated == r.embedding[1:] + r.embedding[:1] for r in pairs)


def test_duckdb_views_read_directory_output(spark, x2):
    assert os.path.isdir(f"{x2}/orders.parquet")
    with duckdb_views(x2) as con:
        for t in TESTDATA_TABLES:
            (n,) = con.execute(f"SELECT count(*) FROM {t}").fetchone()
            assert n == spark.read.parquet(f"{x2}/{t}.parquet").count(), t
