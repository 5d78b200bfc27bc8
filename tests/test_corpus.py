"""Corpus-preparation operators: boundary semantics the oracle
queries can't isolate (tiny crafted inputs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from football_etl_spark.functions import text as T
from football_etl_spark.functions import vectors as V
from football_etl_spark.operators import corpus


def test_chunk_documents_boundaries(spark):
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # 10 toks: 1 chunk
            (2, " ".join(f"t{i}" for i in range(130))),  # 130: starts 1,49,97
            (3, ""),                                     # empty: no rows
            (4, "solo"),                                 # 1 token
        ],
        "doc_id long, text string",
    )
    out = corpus.chunk_documents(docs, chunk_tokens=64, overlap=16)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert {k[0] for k in rows} == {1, 2, 4}
    assert rows[(1, 0)]["chunk_n_tokens"] == 10
    assert [rows[(2, i)]["chunk_n_tokens"] for i in range(3)] == [64, 64, 34]
    # overlap: chunk 1 starts at token 49 → first token 't48'
    assert rows[(2, 1)]["chunk_text"].split()[0] == "t48"
    # full coverage: every token of doc 2 appears in some chunk
    seen = set()
    for i in range(3):
        seen.update(rows[(2, i)]["chunk_text"].split())
    assert seen == {f"t{i}" for i in range(130)}


def test_pack_shards_budget_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, " ".join("w" for _ in range(100))) for i in range(64)],
        "doc_id long, text string",
    )
    out = corpus.pack_shards(docs, budget_tokens=250, n_buckets=4)
    rows = out.collect()
    assert len(rows) == 64
    # within a bucket, shards fill in id order: 100-token docs → docs
    # 0..2 of the bucket land in shard 0 (cum-before 0,100,200), doc 3
    # starts shard 1
    by_shard: dict[str, int] = {}
    for r in rows:
        by_shard[r["shard_id"]] = by_shard.get(r["shard_id"], 0) + r["n_tokens"]
    # every full shard holds ceil(250/100)=3 docs = 300 tokens; the
    # running-total rule bounds a shard at budget + one doc
    assert all(v <= 250 + 100 for v in by_shard.values())
    again = corpus.pack_shards(docs.repartition(7), budget_tokens=250, n_buckets=4)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_stratified_sample_exact_k(spark):
    docs = spark.createDataFrame(
        [(i, f"lang{i % 3}", f"src{i % 2}") for i in range(120)],
        "doc_id long, lang string, source string",
    )
    out = corpus.stratified_sample(docs, ["lang", "source"], k=4)
    counts = {
        (r["lang"], r["source"]): r["n"]
        for r in out.groupBy("lang", "source").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts.values()) == {4} and len(counts) == 6
    # deterministic under relayout
    again = corpus.stratified_sample(docs.repartition(11), ["lang", "source"], k=4)
    assert {r["doc_id"] for r in again.collect()} == {r["doc_id"] for r in out.collect()}
    # small stratum: takes all of it
    tiny = corpus.stratified_sample(docs.filter(F.col("doc_id") < 2), ["lang"], k=4)
    assert tiny.count() == 2


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.co.uk please"),
            (2, "server 192.168.001.12 answered"),
            (3, "call 555-123-4567 or 555 987 6543"),
            (4, "not-an-email @ nothing, version 1.2.3, id 12345"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", T.redact_pii("text").alias("red")).collect()}
    assert got[1] == "mail me at <EMAIL> please"
    assert got[2] == "server <IP> answered"
    assert got[3] == "call <PHONE> or <PHONE>"
    assert got[4] == "not-an-email @ nothing, version 1.2.3, id 12345"


def test_quantize_and_normalize(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = df.select("vec_id", V.quantize_int8("embedding").alias("s"))
    rows = {r["vec_id"]: r["s"] for r in out.collect()}
    # scale = 2.0 → [1/2*127+.5→64, -127, 0.5/2*127+.5→32]
    assert rows[1]["q8"] == [64, -127, 32]
    assert rows[2]["q8"] == [0, 0, 0]          # zero vector: all zeros
    assert abs(rows[1]["l2_norm"] - 5.25 ** 0.5) < 1e-12
    assert rows[2]["l2_norm"] == 0.0           # no div-by-0


def test_vocabulary_rank_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "B b")],
        "doc_id long, text string",
    )
    out = corpus.vocabulary(docs, top_k=2).collect()
    assert [(r["rank"], r["term"], r["tf"], r["df"]) for r in out] == [
        (1, "a", 3, 2),
        (2, "b", 3, 2),
    ]


def test_global_shuffle_index_layout_independent(spark):
    """Positions are a pure function of the data: a different input
    partitioning must produce the identical permutation, and positions
    must be exactly 0..n-1."""
    from football_etl_spark.operators import corpus as C

    d = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {
        r["doc_id"]: r["position"]
        for r in C.global_shuffle_index(d, prefix_len=1).collect()
    }
    b = {
        r["doc_id"]: r["position"]
        for r in C.global_shuffle_index(d.repartition(13), prefix_len=2).collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(1000))
