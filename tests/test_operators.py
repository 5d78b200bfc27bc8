"""Unit tests for operator modules beyond what the oracle suite covers:
cleaning/schema-repair, as-of join semantics, dedup (minhash/simhash),
similarity (LSH vs brute force), text functions, multimodal plumbing."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from football_etl_spark.functions import text, vectors
from football_etl_spark.operators import cleaning, dedup, joins, multimodal, similarity, windows


# ---------------------------------------------------------------- cleaning


def test_canonicalize_and_repair(spark):
    df = spark.createDataFrame([("2024-01-01", "2", "x")], ["Match Date", "GF", "other"])
    out = cleaning.canonicalize_columns(df, {"date": ["date"], "goals_for": ["gf"]})
    assert set(out.columns) == {"date", "goals_for", "other"}
    out2 = cleaning.add_missing_columns(out, {"venue": None, "other": "IGNORED"})
    assert "venue" in out2.columns
    assert out2.collect()[0]["other"] == "x"  # existing column untouched


def test_flatten_header(spark):
    df = spark.createDataFrame([(1.0,)], ["Pass Completion %"])
    assert cleaning.flatten_header(df).columns == ["pass_completion_pct"]


def test_coerce_numerics(spark):
    df = spark.createDataFrame([("55%", "3"), ("bad", None)], ["possession", "shots"])
    rows = cleaning.coerce_numerics(df, ["possession", "shots"]).collect()
    assert rows[0]["possession"] == 55.0 and rows[0]["shots"] == 3.0
    assert rows[1]["possession"] is None


def test_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [("k", 2, "second"), ("k", 1, "first"), ("j", 9, "only")], ["id", "seq", "tag"]
    )
    rows = cleaning.dedup_deterministic(df, ["id"], [F.asc("seq")]).collect()
    assert {(r["id"], r["tag"]) for r in rows} == {("k", "first"), ("j", "only")}


# ---------------------------------------------------------------- joins


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-10"), (1, "2024-01-01"), (2, "2024-01-05")], ["k", "lts"]
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-05", 100.0), (1, "2024-01-09", 200.0), (1, "2024-02-01", 999.0)],
        ["k", "rts", "v"],
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = joins.asof_join(left, right, "k", "lts", "rts", ["v"])
    got = {(r["k"], str(r["lts"])): r["asof_v"] for r in out.collect()}
    assert got[(1, "2024-01-10 00:00:00")] == 200.0  # latest at-or-before
    assert got[(1, "2024-01-01 00:00:00")] is None  # nothing before
    assert got[(2, "2024-01-05 00:00:00")] is None  # key with no right rows
    assert out.count() == left.count()  # never fans out


def test_asof_join_tie_at_equal_ts(spark):
    """A right row AT the left timestamp is visible (<= semantics)."""
    left = spark.createDataFrame([(1, "2024-01-05")], ["k", "lts"]).withColumn(
        "lts", F.col("lts").cast("timestamp")
    )
    right = spark.createDataFrame([(1, "2024-01-05", 7.0)], ["k", "rts", "v"]).withColumn(
        "rts", F.col("rts").cast("timestamp")
    )
    assert joins.asof_join(left, right, "k", "lts", "rts", ["v"]).collect()[0]["asof_v"] == 7.0


def test_lookup_join_defaults(spark):
    df = spark.createDataFrame([("Man United",), ("Arsenal",)], ["team"])
    dim = spark.createDataFrame([("Man United", "Manchester United")], ["alias", "canonical"])
    out = joins.lookup_join(df, dim, "team", "alias", "canonical", out_col="norm")
    got = dict((r["team"], r["norm"]) for r in out.collect())
    assert got == {"Man United": "Manchester United", "Arsenal": "Arsenal"}


# ---------------------------------------------------------------- windows


def test_rolling_time_metrics_window_bounds(spark):
    rows = [
        ("t", "2024-01-01", 1.0, "W"),
        ("t", "2024-02-01", 3.0, "L"),
        ("t", "2024-06-01", 5.0, "D"),  # >90d after the first two
    ]
    df = spark.createDataFrame(rows, ["team", "date", "gf", "result"]).withColumn(
        "date", F.col("date").cast("date")
    )
    out = windows.rolling_time_metrics(
        df, ["team"], "date", avg_cols=["gf"], sum_cols=["gf"], result_col="result"
    )
    got = {str(r["date"]): r for r in out.collect()}
    assert got["2024-01-01"]["rolling_avg_gf"] == 1.0
    assert got["2024-02-01"]["rolling_avg_gf"] == 2.0
    assert got["2024-06-01"]["rolling_avg_gf"] == 5.0  # old rows left the window
    assert got["2024-02-01"]["rolling_total_gf"] == 4.0
    assert got["2024-02-01"]["win_ratio"] == 0.5


def test_sessionize(spark):
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"), (1, "2024-01-01 02:00:00")]
    df = spark.createDataFrame(rows, ["u", "ts"]).withColumn("ts", F.col("ts").cast("timestamp"))
    out = windows.sessionize(df, "u", "ts", gap_seconds=1800)
    assert [r["session_id"] for r in out.orderBy("ts").collect()] == [1, 1, 2]


# ---------------------------------------------------------------- text & dedup


def test_text_functions(spark):
    df = spark.createDataFrame([("the cat, sat!",), ("",)], ["text"])
    out = df.select(
        text.token_count("text").alias("n"),
        text.punct_count("text").alias("p"),
        text.lang_id("text").alias("lang"),
        text.fingerprint("text").alias("fp"),
    ).collect()
    assert out[0]["n"] == 3 and out[0]["p"] == 2 and out[0]["lang"] == "en"
    assert out[1]["n"] == 0 and out[1]["lang"] == "und"
    assert len(out[0]["fp"]) == 32


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "Same  Doc"), (2, "same doc"), (3, "other")], ["doc_id", "text"]
    )
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df).collect())
    assert kept == [1, 3]  # whitespace/case-normalized fingerprint


def test_minhash_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely different words everywhere nothing shared at all " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = dedup.minhash_near_dup_pairs(df, threshold=0.4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}

    jac = dedup.ngram_jaccard_pairs(df, threshold=0.4).collect()
    assert {(r["id_a"], r["id_b"]) for r in jac} == {(1, 2)}


def test_simhash_near_dups(spark):
    # a realistic doc: many distinct tokens so single-token edits only
    # nudge a few majority votes
    base = " ".join(f"tok{i}" for i in range(120))
    near = base.replace("tok37 ", "tokXX ")
    far = " ".join(f"other{i}" for i in range(120))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}
    assert bin(sh[1] ^ sh[2]).count("1") < bin(sh[1] ^ sh[3]).count("1")
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=12, band_bits=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got


# ---------------------------------------------------------------- similarity


def test_vectors_and_lsh_topk(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    d = df.select(
        vectors.dot(F.col("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("d"),
        vectors.norm("embedding").alias("n"),
    )
    ds = [(r["d"], r["n"]) for r in d.orderBy("d", ascending=False).collect()]
    assert ds[0] == (pytest.approx(1.0), pytest.approx(1.0))
    assert ds[2] == (pytest.approx(-1.0), pytest.approx(1.0))

    exact = similarity.cosine_topk(df, df.filter("vec_id = 0"), k=1)
    assert exact.collect()[0]["neighbor_id"] == 1

    approx = similarity.lsh_topk(df, df.filter("vec_id = 0"), k=1, dim=2, n_planes=2)
    rows = approx.collect()
    # LSH bucket of vec 0 contains its near neighbor, not the opposite vector
    assert all(r["neighbor_id"] != 2 for r in rows)


# ---------------------------------------------------------------- multimodal


def test_multimodal_pipeline(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "world")], ["doc_id", "text"])
    media = docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )

    decoded = multimodal.decode_media(media)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert len(rows) == 2
    assert rows[1]["width"] >= 16 and len(rows[1]["features"]) == 8

    per_row = decoded.select(
        F.size(multimodal.sampled_frame_indices(every_n=2)).alias("n_sampled"),
        multimodal.resized_features(out_dim=4).alias("features_resized"),
    ).collect()
    assert sum(r["n_sampled"] for r in per_row) >= 2
    assert all(len(r["features_resized"]) == 4 for r in per_row)


def test_pgm_render_decode_round_trip(spark):
    """render_pgm_payload emits REAL binary PGM bytes; decode_media's
    default decoder parses them back — verify against an independent
    pure-Python re-derivation of header and pixel ramp."""
    docs = spark.createDataFrame(
        [(3, "hello"), (260, "a longer document body"), (7, "x" * 50)],
        ["doc_id", "text"],
    )
    media = multimodal.render_pgm_payload(docs, "doc_id", "text")
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for did, text in [(3, "hello"), (260, "a longer document body"), (7, "x" * 50)]:
        w, h = 8 + len(text) % 24, 8 + (len(text) * 3) % 24
        seed = did % 256
        expect = f"P5\n{w} {h}\n255\n".encode() + bytes(
            (seed + i) % 256 for i in range(w * h)
        )
        assert raw[did] == expect  # byte-exact standard PGM
    decoded = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    for did, text in [(3, "hello"), (260, "a longer document body")]:
        seed = did % 256
        r = decoded[did]
        assert r["width"] == 8 + len(text) % 24
        assert r["height"] == 8 + (len(text) * 3) % 24
        assert r["n_frames"] == 1 + seed % 8
        got_px = [round(f * 255) for f in r["features"]]
        assert got_px == [(seed + i) % 256 for i in range(8)]


def test_bmp_render_decode_round_trip(spark):
    """render_bmp_payload emits a REAL 8-bit grayscale BMP; verify the
    container byte-for-byte against an independent pure-Python
    construction (struct-packed little-endian headers + BGRA palette),
    then decode_media's stdlib BMP branch must recover dimensions and
    the ramp pixels."""
    import struct

    docs = spark.createDataFrame(
        [(3, "hello"), (260, "a longer document body"), (7, "x" * 50)],
        ["doc_id", "text"],
    )
    media = multimodal.render_bmp_payload(docs, "doc_id", "text")
    raw = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    for did, text in [(3, "hello"), (260, "a longer document body"), (7, "x" * 50)]:
        w = 8 + (len(text) % 6) * 4
        h = 8 + (len(text) * 3) % 24
        seed = did % 256
        offset = 14 + 40 + 1024
        plane = bytes((seed + i) % 256 for i in range(w * h))
        expect = (
            b"BM"
            + struct.pack("<IIII", offset + w * h, 0, offset, 40)
            + struct.pack("<iiHHIIIIII", w, h, 1, 8, 0, w * h, 0, 0, 256, 0)
            + palette
            + plane
        )
        assert raw[did] == expect  # byte-exact standard BMP
    decoded = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    for did, text in [(3, "hello"), (260, "a longer document body")]:
        seed = did % 256
        r = decoded[did]
        assert r["width"] == 8 + (len(text) % 6) * 4
        assert r["height"] == 8 + (len(text) * 3) % 24
        assert r["n_frames"] == 1 + seed % 8
        got_px = [round(f * 255) for f in r["features"]]
        assert got_px == [(seed + i) % 256 for i in range(8)]


# ---------------------------------------------------------------- sampling


def test_hash_split_deterministic_and_layout_independent(spark):
    """Content-hash split: every row gets exactly one split, the
    assignment is identical regardless of partition layout, and the
    fractions land near the designed 80/9/11."""
    from football_etl_spark.operators import sampling

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(df, F.col("doc_id")).collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(
            df.repartition(17), F.col("doc_id")
        ).collect()
    }
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n for s in ("train", "val", "test")}
    assert 0.74 < frac["train"] < 0.86
    assert 0.04 < frac["val"] < 0.14
    assert 0.06 < frac["test"] < 0.16


def test_hash_sample_is_subset_and_stable(spark):
    from football_etl_spark.operators import sampling

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    s1 = {r["doc_id"] for r in sampling.hash_sample(df, F.col("doc_id")).collect()}
    s2 = {
        r["doc_id"]
        for r in sampling.hash_sample(df.repartition(7), F.col("doc_id")).collect()
    }
    assert s1 == s2
    assert 0.10 < len(s1) / 2000 < 0.22  # ~16% design point


# ------------------------------------------------------- connected components


def test_connected_components_chain_triangle_singleton(spark):
    """Min-label propagation: a 4-node chain (diameter 3 — needs
    multiple rounds), a triangle, and an isolated doc; clusters are
    labeled by their smallest member."""
    from football_etl_spark.operators import dedup as dd

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame(
        [(i, "x" * i) for i in [1, 2, 3, 4, 10, 11, 12, 99]],
        "doc_id long, text string",
    )
    clusters = dd.near_dup_clusters(docs, edges)
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in clusters.collect()}
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 3), 11: (10, 3), 12: (10, 3),
        99: (99, 1),
    }
    kept = {r["doc_id"] for r in dd.canonical_docs(docs, clusters).collect()}
    # longest text wins per cluster: 4 ('xxxx'), 12, and the singleton
    assert kept == {4, 12, 99}


def test_weighted_hash_sample_respects_weights(spark):
    """Weighted sampling: w=0 keeps nothing, w=1 keeps ~everything,
    and a 0.5-weight population lands near half — all deterministic
    across partition layouts."""
    from football_etl_spark.operators import sampling

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        (F.when(F.col("id") % 3 == 0, 0.0)
         .when(F.col("id") % 3 == 1, 0.5)
         .otherwise(1.0)).alias("w"),
    )
    kept = sampling.weighted_hash_sample(df, F.col("doc_id"), F.col("w"))
    by_w = {r["w"]: r["n"] for r in kept.groupBy("w").agg(F.count("*").alias("n")).collect()}
    assert 0.0 not in by_w
    assert 400 < by_w[0.5] < 600        # 1000 candidates at p≈0.5
    assert by_w[1.0] >= 995             # w=1 keeps all but ~1/65536
    again = sampling.weighted_hash_sample(df.repartition(13), F.col("doc_id"), F.col("w"))
    assert {r["doc_id"] for r in again.collect()} == {r["doc_id"] for r in kept.collect()}


def _simhash_reference(text: str | None, bits: int = 56) -> int | None:
    """Pure-Python SimHash with the JVM path's semantics: SQL ``trim``
    strips only the space character 0x20; ``split`` on Java ``\\s+``
    (``[ \\t\\n\\x0B\\f\\r]``) keeps empty edge tokens; each token
    hashes to the first ``bits/4`` hex chars of its md5; each bit
    votes ±1 and a non-negative sum sets it. None when there is no
    token."""
    import hashlib
    import re

    if text is None or not text.strip(" "):
        return None
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))
    votes = [0] * bits
    for tok in toks:
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[: bits // 4], 16)
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] >= 0)


def test_simhash_arrow_jvm_bit_parity(spark):
    """The JVM explode-and-vote SimHash must be BIT-IDENTICAL to an
    independent pure-Python reference — including whitespace edge
    cases (leading/trailing tabs and newlines produce empty edge
    tokens, whitespace-only docs tokenize by kind)."""
    from football_etl_spark.operators import dedup as dd

    docs = [
        (1, "plain doc with several tokens here"),
        (2, "\thello world"),          # leading tab → '' edge token
        (3, "hello world\n"),          # trailing newline → '' edge token
        (4, "  spaced  out  "),        # SQL trim strips only 0x20
        (5, "\t"),                     # whitespace-only, non-space
        (6, "   "),                    # space-only → zero tokens, absent
        (7, "mixed\ttabs and  spaces\r\nnewlines"),
        (8, None),                     # null text → absent
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    jvm = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(df).collect()}
    ref = {d: _simhash_reference(t) for d, t in docs}
    assert jvm == {d: h for d, h in ref.items() if h is not None}
    assert 6 not in jvm and 8 not in jvm  # token-less docs are absent
    # the edge-token cases really differ from their trimmed twins
    assert jvm[2] != _simhash_reference("hello world")
    assert jvm[3] != _simhash_reference("hello world")


def test_weighted_hash_sample_clamps_out_of_range(spark):
    """Negative weights keep NOTHING (clamped to 0 — unclamped they
    would hex-format as two's-complement and keep nearly everything);
    weights > 1 behave as 1; null weights drop the row."""
    from football_etl_spark.operators import sampling

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.when(F.col("id") % 3 == 0, -0.5)
         .when(F.col("id") % 3 == 1, 2.0)
         .otherwise(F.lit(None).cast("double"))).alias("w"),
    )
    kept = sampling.weighted_hash_sample(df, F.col("doc_id"), F.col("w"))
    by_w = {r["w"]: r["n"] for r in kept.groupBy("w").agg(F.count("*").alias("n")).collect()}
    assert -0.5 not in by_w
    assert None not in by_w
    assert by_w.get(2.0, 0) >= 330      # ≈ all 334 of the w=2 rows


def test_connected_components_warns_on_nonconvergence(spark):
    """A path graph with diameter > max_iter must not return silently:
    partially-propagated labels are surfaced as a RuntimeWarning."""
    import warnings

    import pytest as _pytest

    from football_etl_spark.operators import dedup as dd

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        dd.connected_components(chain, max_iter=2).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # converged run must NOT warn
        out = dd.connected_components(chain, max_iter=25).collect()
    assert {r["cluster_id"] for r in out} == {0}


def test_range_join_boundaries_and_buckets(spark):
    """Inclusive [lower, upper] bounds at exact microsecond edges, and
    matches that span bucket boundaries (the explode-into-2-buckets
    path) must all be found."""
    import datetime as dt

    from football_etl_spark.operators import joins as J

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, 7, t0)], "lid long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (10, 7, t0 - dt.timedelta(seconds=3600)),               # exactly lower
            (11, 7, t0 - dt.timedelta(seconds=3600, microseconds=1)),  # 1µs below
            (12, 7, t0),                                            # exactly upper
            (13, 7, t0 + dt.timedelta(microseconds=1)),             # 1µs above
            (14, 7, t0 - dt.timedelta(seconds=1800)),               # mid-window
            (15, 8, t0 - dt.timedelta(seconds=10)),                 # other key
        ],
        "rid long, user_id long, ts timestamp",
    )
    out = J.range_join(left, right, "user_id", "ts", "ts", -3600, 0)
    assert sorted(r["r_rid"] for r in out.collect()) == [10, 12, 14]


def test_connected_components_long_chain_logarithmic(spark):
    """Pointer-jumping must close a 200-node chain (diameter 200) in
    far fewer rounds than the diameter — max_iter=12 would fail plain
    min-label propagation by an order of magnitude."""
    import warnings

    from football_etl_spark.operators import dedup as dd

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = dd.connected_components(chain, max_iter=12).collect()
    assert len(out) == 201
    assert {r["cluster_id"] for r in out} == {0}


def test_contamination_report_counts_and_clean_docs(spark):
    from football_etl_spark.operators import dedup as dd

    train = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # shingles: abcde bcdef
            (2, "x y z w q v"),        # no overlap with eval
            (3, "a b c d e"),          # single shingle, shared
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(99, "a b c d e")], "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_hits"], r["contaminated"])
        for r in dd.contamination_report(train, ev, shingle_n=5).collect()
    }
    assert out[1] == (2, 1, True)    # 'a b c d e' shared, 'b c d e f' not
    assert out[2] == (2, 0, False)   # clean doc still present in audit
    assert out[3] == (1, 1, True)


def test_hll_sketch_rollup_bounds_and_mergeability(spark):
    from football_etl_spark.operators import sketches
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(i, f"2024-01-{1 + (i // 3) % 9:02d} 00:00:00", i % 137, "t%d" % (i % 3))
         for i in range(4000)],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    daily = sketches.daily_hll_sketches(ev, "user_id", "event_type", "ts")
    # one sketch row per (type, day); binary column, never raw keys
    assert daily.count() == 3 * 9
    assert dict(daily.dtypes)["sketch"] == "binary"
    merged = {r["grp"]: r for r in sketches.merge_hll(daily).collect()}
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for g, row in merged.items():
        assert row["days_merged"] == 9
        # lgK=14 on ~137 distincts: sparse-mode HLL, ≤2% error bound
        assert abs(row["approx_distinct"] - exact[g]) <= max(2, 0.02 * exact[g])


def test_approx_percentiles_close_to_exact(spark):
    from football_etl_spark.operators import sketches
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i % 4, float(i)) for i in range(8000)], "g int, v double"
    )
    got = {r["grp"]: r for r in
           sketches.approx_group_percentiles(df, "v", "g", (0.5, 0.9)).collect()}
    ex = {
        r["g"]: (r["m"], r["p9"])
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.5)").alias("m"),
             F.expr("percentile(v, 0.9)").alias("p9"))
        .collect()
    }
    for g, row in got.items():
        # accuracy=10000 over 2000 values/group: within one step of exact
        assert abs(row["p_5"] - ex[g][0]) <= 8.0
        assert abs(row["p_9"] - ex[g][1]) <= 8.0


def test_scd2_intervals_invariants(spark):
    from football_etl_spark.operators import windows as W
    from pyspark.sql import functions as F

    # interleaved keys, ts ties broken by seq, no-op updates present
    rows = [
        (1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "b"), (1, 5, "a"),
        (2, 1, "x"), (2, 2, "y"),
        (3, 7, "only"),
    ]
    df = spark.createDataFrame(rows, "k long, ts long, state string")
    out = W.scd2_intervals(df, ["k"], "ts", "state", tiebreak=[]).collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    # no-op updates collapsed: k=1 has 3 intervals (a, b, a), not 5
    assert [r["state"] for r in sorted(by_key[1], key=lambda r: r["valid_from"])] == ["a", "b", "a"]
    for k, ivs in by_key.items():
        ivs = sorted(ivs, key=lambda r: r["valid_from"])
        # exactly one open (current) interval per key, and it is the last
        assert [r["is_current"] for r in ivs] == [False] * (len(ivs) - 1) + [True]
        # intervals chain: each valid_to equals the next valid_from
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]


def test_rate_mixture_rates_and_determinism(spark):
    from football_etl_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.range(0, 4000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("grp"),
    )
    rates = {"big": 0.5, "small": 1.0}
    out = sampling.rate_mixture(df, "grp", rates, F.col("id"))
    counts = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 2000          # rate >= 1.0 keeps everything
    assert abs(counts["big"] - 1000) < 150  # ~50% of 2000, hash-uniform
    # determinism and layout-independence: same rows after repartition
    a = {r["id"] for r in out.collect()}
    b = {r["id"] for r in sampling.rate_mixture(df.repartition(13), "grp", rates, F.col("id")).collect()}
    assert a == b
    # unknown strata are dropped
    df2 = df.withColumn("grp", F.lit("unlisted"))
    assert sampling.rate_mixture(df2, "grp", rates, F.col("id")).count() == 0


def test_approx_count_distinct_within_documented_error(spark):
    """Guards the rows-only registry entry approx_distinct_users: the
    HLL++ estimate must sit within a generous multiple of the default
    5% relative standard deviation of the exact distinct computed in
    the same row (small groups run in HLL++'s near-exact sparse mode,
    so 3x rsd is conservative)."""
    from football_etl_spark.plans.queries import REGISTRY
    from tests.conftest import SF_ORACLE

    rows = REGISTRY["approx_distinct_users"].fn(spark, SF_ORACLE).collect()
    assert rows, "entry returned no groups"
    for r in rows:
        exact = r["exact_users"]
        approx = r["approx_users"]
        assert exact > 0
        assert abs(approx - exact) <= max(2, 0.15 * exact), (
            f"{r['event_type']}: approx={approx} exact={exact}"
        )


def test_kmeans_fit_decreases_inertia_and_is_deterministic(spark):
    """Lloyd's invariant: total within-cluster squared distance is
    non-increasing across iterations; fixed init + fixed iteration
    count must reproduce the exact same centroids on every run."""
    from football_etl_spark.operators import similarity
    from football_etl_spark.plans.queries import _q8_rows, _t
    from tests.conftest import SF_ORACLE

    e = _t(spark, SF_ORACLE, "embeddings")
    init = _q8_rows(spark, SF_ORACLE, e)

    def inertia(cent):
        rows = similarity.kmeans_assign(e, cent).collect()
        return sum(r["d2"] for r in rows)

    i0 = inertia(init)
    c1 = similarity.kmeans_fit(e, init, n_iter=1)
    i1 = inertia(c1)
    c2 = similarity.kmeans_fit(e, init, n_iter=2)
    i2 = inertia(c2)
    # rounding to 6dp perturbs each update by <=5e-7 per component,
    # so allow a hair of slack on the monotonicity check
    assert i1 <= i0 + 1e-3, (i0, i1)
    assert i2 <= i1 + 1e-3, (i1, i2)
    assert similarity.kmeans_fit(e, init, n_iter=2) == c2  # deterministic


def test_semantic_dedup_marks_known_pairs(spark):
    """kept=false rows must each name a lower-id canonical in the same
    cell whose cosine clears the threshold; kept=true rows have no
    canonical; the kept set must be a strict subset of the corpus."""
    from football_etl_spark.operators import similarity
    from football_etl_spark.plans.queries import _q8_rows, _t
    from tests.conftest import SF_ORACLE

    e = _t(spark, SF_ORACLE, "embeddings")
    out = similarity.semantic_dedup(e, _q8_rows(spark, SF_ORACLE, e), threshold=0.35)
    rows = out.collect()
    assert len(rows) == e.count()
    dropped = [r for r in rows if not r["kept"]]
    assert dropped, "sf0.01 plants near-dups; none found"
    cid_of = {r["vec_id"]: r["cid"] for r in rows}
    for r in dropped:
        assert r["canonical_id"] is not None and r["canonical_id"] < r["vec_id"]
        assert cid_of[r["canonical_id"]] == r["cid"], "canonical in another cell"
    # spot-verify the cosine claim for the first dropped pair
    d0 = dropped[0]
    pair = {d0["vec_id"], d0["canonical_id"]}
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in e.filter(F.col("vec_id").isin(list(pair))).collect()
    }
    import numpy as np

    a = np.asarray(vecs[d0["vec_id"]], dtype=np.float64)
    b = np.asarray(vecs[d0["canonical_id"]], dtype=np.float64)
    cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert cos >= 0.35 - 1e-9, cos


def test_wav_render_decode_round_trip(spark):
    """render_wav_payload must emit bytes the stdlib `wave` reader
    accepts as a genuine WAV file (independent validation, not our own
    parser), and decode_audio must recover the exact sample plane."""
    import io
    import wave

    from football_etl_spark.operators import multimodal
    from football_etl_spark.plans.queries import _t
    from tests.conftest import SF_ORACLE

    d = _t(spark, SF_ORACLE, "documents").limit(20)
    media = multimodal.render_wav_payload(d, "doc_id", "text")
    rows = media.collect()
    assert rows
    for r in rows[:5]:
        with wave.open(io.BytesIO(bytes(r["payload"]))) as w:
            assert w.getnchannels() == 1
            assert w.getframerate() == 8000
            assert w.getsampwidth() == 1  # 8-bit PCM
            frames = w.readframes(w.getnframes())
        seed = r["media_id"] % 256
        expect = bytes((seed + i) % 256 for i in range(len(frames)))
        assert frames == expect, "decoded sample plane != rendered ramp"
    decoded = {r["media_id"]: r for r in multimodal.decode_audio(media).collect()}
    for r in rows:
        dr = decoded[r["media_id"]]
        seed = r["media_id"] % 256
        n = dr["n_samples"]
        assert dr["sample_rate"] == 8000 and dr["n_channels"] == 1
        assert dr["s8_sum"] == sum((seed + i) % 256 for i in range(8))
        assert dr["energy_sum"] == sum(((seed + i) % 256) ** 2 for i in range(n))


def test_decode_audio_corrupt_payloads_yield_nulls(spark):
    """Garbage / truncated / wrong-container payloads must surface as
    null feature rows, not task failures (the decode contract)."""
    from football_etl_spark.operators import multimodal

    rows = [
        (1, bytearray(b"not audio at all")),
        (2, bytearray(b"RIFF\x04\x00\x00\x00WAVE")),  # no fmt/data chunks
        (3, bytearray(b"RIFF")),                      # truncated header
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in multimodal.decode_audio(df).collect()}
    assert len(out) == 3
    for r in out.values():
        assert r["sample_rate"] is None and r["energy_sum"] is None


def test_incremental_dedup_screens_incoming_against_corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely different words everywhere nothing shared at all " * 5
    corpus = spark.createDataFrame(
        [(1, base), (3, far), (5, base + " extra tail tokens here")],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [(10, near), (20, "brand new unseen content with its own words " * 5)],
        ["doc_id", "text"],
    )
    out = {
        r["new_id"]: r
        for r in dedup.incremental_minhash_dedup(
            corpus, incoming, threshold=0.4
        ).collect()
    }
    assert set(out) == {10, 20}  # one verdict row per incoming doc
    assert out[10]["is_dup"] and out[10]["best_match_id"] in (1, 5)
    assert not out[20]["is_dup"] and out[20]["best_match_id"] is None
    # corpus self-pairs must never surface: every row keys an incoming doc
    assert all(k in (10, 20) for k in out)


def test_y4m_render_decode_round_trip(spark):
    """render_y4m_payload must emit a structurally valid YUV4MPEG2
    stream (validated by an independent re-parse here, byte layout per
    the public y4m spec), and decode_video must recover every frame's
    own phase-shifted luma plane."""
    from football_etl_spark.operators import multimodal
    from football_etl_spark.plans.queries import _t
    from tests.conftest import SF_ORACLE

    d = _t(spark, SF_ORACLE, "documents").limit(20)
    media = multimodal.render_y4m_payload(d, "doc_id", "text")
    rows = media.collect()
    assert rows
    for r in rows[:5]:
        b = bytes(r["payload"])
        head, rest = b.split(b"\n", 1)
        toks = head.split(b" ")
        assert toks[0] == b"YUV4MPEG2" and b"Cmono" in toks
        w = int(next(t[1:] for t in toks if t[:1] == b"W"))
        h = int(next(t[1:] for t in toks if t[:1] == b"H"))
        seed, f = r["media_id"] % 256, 0
        while rest:
            assert rest[:6] == b"FRAME\n", "frame marker missing"
            plane, rest = rest[6 : 6 + w * h], rest[6 + w * h :]
            assert plane == bytes((seed + f + i) % 256 for i in range(w * h))
            f += 1
        assert f == 2 + r["media_id"] % 4  # all frames present
    decoded = multimodal.decode_video(media).collect()
    by_doc: dict = {}
    for dr in decoded:
        by_doc.setdefault(dr["media_id"], []).append(dr)
    for mid, frames in by_doc.items():
        seed = mid % 256
        assert len(frames) == frames[0]["n_frames"] == 2 + mid % 4
        for dr in frames:
            expect = sum((seed + dr["frame_idx"] + i) % 256 for i in range(8))
            assert dr["y8_sum"] == expect


def test_decode_video_corrupt_payloads_yield_null_rows(spark):
    """Garbage / truncated / non-mono streams must surface as a single
    null-fact row per payload, not task failures."""
    from football_etl_spark.operators import multimodal

    rows = [
        (1, bytearray(b"not video at all")),
        (2, bytearray(b"YUV4MPEG2 W4 H4 Cmono\nFRAME\nxx")),     # truncated frame
        (3, bytearray(b"YUV4MPEG2 W4 H4 C420\nFRAME\n" + b"x" * 24)),  # chroma planes
        (4, bytearray(b"YUV4MPEG2 F25:1 Cmono\n")),              # no dimensions
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = multimodal.decode_video(df).collect()
    assert len(out) == 4  # exactly one verdict row per corrupt payload
    assert {r["media_id"] for r in out} == {1, 2, 3, 4}
    for r in out:
        assert r["width"] is None and r["frame_idx"] is None and r["y8_sum"] is None


def test_key_skew_profile_flags_planted_hot_key(spark):
    from football_etl_spark.operators.scale import key_skew_profile

    rows = [(i, "hot") for i in range(80)] + [
        (100 + i, f"cold{i % 4}") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id long, k string")
    out = {r["k"]: r for r in key_skew_profile(df, "k", top_n=10).collect()}
    assert out["hot"]["is_hot"] and out["hot"]["n"] == 80
    assert abs(out["hot"]["share_pct"] - 80.0) < 1e-12
    assert not any(r["is_hot"] for k, r in out.items() if k != "hot")


def test_winsorized_mean_clamps_outliers(spark):
    from football_etl_spark.operators.windows import winsorized_stats

    # 18 well-behaved values + 2 extreme outliers in one group
    vals = [float(i) for i in range(1, 19)] + [1e6, -1e6]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, v double"
    )
    r = winsorized_stats(df, "grp", "v").collect()[0]
    # ceil(0.05*20)=1 → p_lo is the minimum of the sorted set (-1e6
    # itself occupies rank 1), ceil(0.95*20)=19 → p_hi clamps the 1e6
    assert r["p_hi"] == 18.0
    assert r["n_rows"] == 20
    # the +1e6 outlier is pulled down to 18; mean is finite and sane
    assert r["winsorized_mean"] < 100.0


def test_ppm_render_decode_round_trip(spark):
    """render_ppm_payload must emit a structurally valid binary P6
    (independent re-parse here), and decode_color_image must recover
    each DE-INTERLEAVED channel plane exactly."""
    import re

    from football_etl_spark.operators import multimodal
    from football_etl_spark.plans.queries import _t
    from tests.conftest import SF_ORACLE

    d = _t(spark, SF_ORACLE, "documents").limit(12)
    media = multimodal.render_ppm_payload(d, "doc_id", "text")
    rows = media.collect()
    for r in rows[:4]:
        b = bytes(r["payload"])
        m = re.match(rb"^P6\n(\d+) (\d+)\n255\n", b)
        assert m, b[:30]
        w, h = int(m.group(1)), int(m.group(2))
        px = b[m.end():]
        seed = r["media_id"] % 256
        assert px == bytes((seed + i) % 256 for i in range(3 * w * h))
    decoded = {r["media_id"]: r for r in multimodal.decode_color_image(media).collect()}
    for r in rows:
        dr = decoded[r["media_id"]]
        seed = r["media_id"] % 256
        for ch, col in enumerate(("r8_sum", "g8_sum", "b8_sum")):
            assert dr[col] == sum((seed + 3 * i + ch) % 256 for i in range(8))


def test_decode_color_image_corrupt_payloads_yield_nulls(spark):
    from football_etl_spark.operators import multimodal

    rows = [
        (1, bytearray(b"P5\n4 4\n255\n" + b"x" * 16)),  # grayscale, not P6
        (2, bytearray(b"P6\n4 4\n255\nxx")),            # truncated plane
        (3, bytearray(b"garbage")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = multimodal.decode_color_image(df).collect()
    assert len(out) == 3
    assert all(r["r8_sum"] is None and r["width"] is None for r in out)


def test_cms_rollup_never_undercounts_and_merges_exactly(spark):
    """Count-Min frequency sketches: (1) the merged-from-daily probe
    NEVER undercounts and stays within the eps·N overcount bound,
    (2) mergeability is EXACT — same-seed sketches share hash
    functions, so the union of per-day sketches must estimate
    identically to one sketch built over the whole stream."""
    from pyspark.sql import functions as F

    from football_etl_spark.operators import sketches

    ev = spark.createDataFrame(
        [
            (i, f"2024-02-{1 + (i // 500) % 8:02d} 00:00:00", i % 53, "t%d" % (i % 2))
            for i in range(4000)
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    eps = 0.001
    daily = sketches.daily_cms_sketches(ev, "user_id", "event_type", "ts", eps=eps)
    assert dict(daily.dtypes)["cms"] == "binary"
    probes = list(range(8)) + [52, 999]  # present keys + one absent
    got = {
        (r["grp"], r["key"]): (r["est_count"], r["n_rows"])
        for r in sketches.cms_merge_and_probe(spark, daily, probes).collect()
    }
    exact = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(g for g, _ in got) == {"t0", "t1"}
    for (g, k), (est, n_rows) in got.items():
        ex = exact.get((g, k), 0)
        assert n_rows == totals[g]
        assert est >= ex, (g, k, est, ex)  # CMS never undercounts
        assert est - ex <= max(1, eps * n_rows * 5), (g, k, est, ex)

    # exact mergeability: merged dailies == one global sketch (same seed)
    global_sketch = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count_min_sketch("user_id", F.lit(eps), F.lit(0.99), F.lit(17)).alias("cms"),
        F.count("*").alias("n_rows"),
    )
    direct = {
        (r["grp"], r["key"]): r["est_count"]
        for r in sketches.cms_merge_and_probe(spark, global_sketch, probes).collect()
    }
    assert direct == {k: v[0] for k, v in got.items()}


def test_approx_top_keys_exact_within_tracked_budget(spark):
    """approx_top_k with all distinct keys inside the counter budget
    evicts nothing, so the long-form heavy-hitters output must equal
    the exact groupBy-count top-k (ties broken by count desc as the
    aggregate emits them)."""
    from pyspark.sql import functions as F

    from football_etl_spark.operators import sketches

    # Zipf-ish: key k appears (60 - k) times per group
    rows = [
        ("g%d" % g, k)
        for g in range(2)
        for k in range(50)
        for _ in range(60 - k)
    ]
    df = spark.createDataFrame(rows, "grp_src string, key long")
    got = sketches.approx_top_keys(df, "key", "grp_src", k=5, max_items_tracked=1000)
    out = {
        (r["grp"], r["rank"]): (r["key"], r["est_count"]) for r in got.collect()
    }
    assert len(out) == 10
    for g in ("g0", "g1"):
        for rank in range(1, 6):
            key, cnt = out[(g, rank)]
            assert key == rank - 1  # key 0 is most frequent
            assert cnt == 60 - key  # exact: nothing evicted


def test_pq_train_encode_adc_properties(spark):
    """Product quantization end-to-end on the real embeddings table:
    (1) training is deterministic (identical codebooks across runs),
    (2) encoding is map-only with in-range codes, (3) the ADC distance
    equals the exact squared distance to the code-RECONSTRUCTED vector
    (the defining PQ identity), and (4) PQ top-k recalls a healthy
    fraction of the exact L2 neighbors at 32x compression."""
    import contextlib
    import io

    import numpy as np
    from pyspark.sql import functions as F

    from football_etl_spark.io.loader import load_table
    from football_etl_spark.operators import similarity

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    m, k = 8, 16
    books = similarity.pq_train(emb, m=m, k=k, n_iter=2)
    books2 = similarity.pq_train(emb, m=m, k=k, n_iter=2)
    assert books == books2  # deterministic trajectory
    assert len(books) == m and all(len(b) == k for b in books)

    codes = similarity.pq_encode(emb, books)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        codes.explain("simple")
    assert "Exchange" not in buf.getvalue()  # map-only encode
    rows = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(0 <= c < k for cs in rows.values() for c in cs)

    # ADC identity: adc_d2(q, x) == ||q - reconstruct(codes(x))||^2
    qrows = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    top = similarity.pq_adc_topk(codes, books, qrows, k_top=5).collect()
    B = [np.asarray(b) for b in books]
    qv = dict(qrows)
    full = {
        r["vec_id"]: np.asarray([float(v) for v in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 2000).collect()
    }
    for r in top:
        recon = np.concatenate([B[s][rows[r["vec_id"]][s]] for s in range(m)])
        exact = float(((np.asarray(qv[r["query_id"]]) - recon) ** 2).sum())
        assert abs(r["adc_d2"] - exact) < 1e-4, (r, exact)

    # recall@10 vs exact L2 over the full corpus for the 4 queries
    X = np.asarray([full[i] for i in sorted(full)])
    ids = np.asarray(sorted(full))
    got10 = similarity.pq_adc_topk(codes, books, qrows, k_top=10).collect()
    hits, total = 0, 0
    for qid, q in qrows:
        d = ((X - np.asarray(q)) ** 2).sum(1)
        exact10 = set(ids[np.argsort(d, kind="stable")[:10]].tolist())
        pq10 = {r["vec_id"] for r in got10 if r["query_id"] == qid}
        hits += len(exact10 & pq10)
        total += 10
    assert hits / total >= 0.3, hits / total


def test_pq_encode_null_vector_codes_to_null(spark):
    """A NULL embedding must code to NULL (clean per-row degradation),
    not crash the Arrow kernel."""
    from football_etl_spark.operators import similarity

    books = [[[0.0, 0.0], [1.0, 1.0]] for _ in range(2)]  # m=2, k=2, dsub=2
    df = spark.createDataFrame(
        [(0, [0.1, 0.1, 0.9, 0.9]), (1, None), (2, [1.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r["codes"] for r in similarity.pq_encode(df, books).collect()}
    assert rows[0] == [0, 1]
    assert rows[1] is None
    assert rows[2] == [1, 0]


def test_fuzzy_join_edit_distance_lossless_vs_bruteforce(spark):
    """PassJoin segment blocking must be LOSSLESS: on random short
    strings (including empties) the blocked join's output equals the
    brute-force n-squared theta join exactly, for every tested
    max_dist. This is the pigeonhole guarantee the operator's 100 TB
    claim rests on — candidates come from an equi-join, results from
    the exact levenshtein filter."""
    import itertools
    import random

    from football_etl_spark.operators import dedup

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    rng = random.Random(7)
    strs = list(
        {"".join(rng.choice("abc") for _ in range(rng.randint(0, 8))) for _ in range(45)}
    )
    strs.append("")  # force the empty-string edge case regardless of draw
    strs = list(dict.fromkeys(strs))
    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows, "id long, s string")
    other = df.withColumnRenamed("id", "id2").withColumnRenamed("s", "s2")
    for d in (1, 2):
        out = dedup.fuzzy_join_edit_distance(df, other, "id", "s", "id2", "s2", max_dist=d)
        got = {(r["id"], r["id2"], r["edit_distance"]) for r in out.collect()}
        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.product(rows, rows)
            if lev(a, b) <= d
        }
        assert got == want, (d, sorted(want - got)[:5], sorted(got - want)[:5])


def test_fuzzy_join_probe_fanout_is_constant(spark):
    """The probe side's key fan-out per string is bounded by the
    (2d+1)(d+1)(2d+1) constant, independent of corpus size — the
    property that separates PassJoin from an n-squared candidate
    generator. Counted directly on the probe relation, per string."""
    from pyspark.sql import functions as F

    from football_etl_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, "abcdefghij"[: 4 + (i % 6)]) for i in range(40)], "id long, s string"
    )
    for d in (1, 2):
        bound = (2 * d + 1) * (d + 1) * (2 * d + 1)
        per_string = (
            dedup._passjoin_probe(df, "id", "s", d)
            .groupBy("__lid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert len(per_string) == 40
        assert max(r["n"] for r in per_string) <= bound, (d, bound)
    # and the candidate generation is an equi-join, never a cartesian
    out = dedup.fuzzy_join_edit_distance(
        df, df.withColumnRenamed("id", "id2").withColumnRenamed("s", "s2"),
        "id", "s", "id2", "s2", max_dist=2,
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_fuzzy_join_duplicate_ids_keep_all_string_matches(spark):
    """Candidates dedup on the full (id, string) pair: duplicate ids
    carrying DIFFERENT strings must each keep their own matches (set
    semantics over pairs, not over ids)."""
    from football_etl_spark.operators import dedup

    left = spark.createDataFrame(
        [(1, "abc"), (1, "xyz")], "id long, s string"
    )
    right = spark.createDataFrame(
        [(7, "abd"), (8, "xyw")], "rid long, rs string"
    )
    out = dedup.fuzzy_join_edit_distance(
        left, right, "id", "s", "rid", "rs", max_dist=1
    )
    got = {(r["s"], r["rs"], r["edit_distance"]) for r in out.collect()}
    assert got == {("abc", "abd", 1), ("xyz", "xyw", 1)}, got


def test_apply_cdc_changes_edge_semantics(spark):
    """MERGE legs: delete of an absent key is a no-op, an 'insert' for
    a key already in base REPLACES it (matched-update and not-matched-
    insert share one code path), and untouched rows pass through."""
    from football_etl_spark.operators import joins

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [(2, "B", "U"),     # matched update
         (4, "d", "I"),     # not-matched insert
         (3, None, "D"),    # matched delete
         (99, None, "D"),   # delete of absent key: no-op
         (5, "e", None),    # NULL op code: must take the upsert leg
         (1, "A", "I")],    # 'insert' colliding with base: replaces
        "k long, v string, op string",
    )
    got = {
        (r["k"], r["v"])
        for r in joins.apply_cdc_changes(base, changes, ["k"]).collect()
    }
    assert got == {(1, "A"), (2, "B"), (4, "d"), (5, "e")}, got


def test_apply_cdc_changes_delete_wins_and_null_keys(spark):
    """Guard rails beyond the one-row-per-key contract: a key carrying
    BOTH a delete and an upsert row stays deleted (the upsert must not
    resurrect it), and NULL keys follow SQL join semantics — NULL-key
    base rows are kept, NULL-key upserts insert alongside them, a
    NULL-key delete deletes nothing."""
    from football_etl_spark.operators import joins

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "nb")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [(1, None, "D"),      # delete ...
         (1, "A!", "U"),      # ... must NOT be resurrected by this
         (None, "nu", "U"),   # NULL-key upsert: inserts, matches nothing
         (None, None, "D")],  # NULL-key delete: deletes nothing
        "k long, v string, op string",
    )
    got = {
        (r["k"], r["v"])
        for r in joins.apply_cdc_changes(base, changes, ["k"]).collect()
    }
    assert got == {(2, "b"), (None, "nb"), (None, "nu")}, got


def test_pq_adc_topk_skips_null_codes(spark):
    """pq_encode emits NULL codes for NULL vectors; pq_adc_topk must
    skip those rows instead of crashing the Arrow kernel, and ranks
    must come only from the live rows."""
    from football_etl_spark.operators import similarity

    books = [[[0.0, 0.0], [1.0, 1.0]] for _ in range(2)]  # m=2, k=2
    df = spark.createDataFrame(
        [(0, [0.1, 0.1, 0.9, 0.9]), (1, None), (2, [1.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    codes = similarity.pq_encode(df, books)
    top = similarity.pq_adc_topk(
        codes, books, [(7, [0.0, 0.0, 1.0, 1.0])], k_top=10
    ).collect()
    assert [r["vec_id"] for r in top] == [0, 2]
    assert [r["rank"] for r in top] == [1, 2]


def test_approx_top_keys_quoted_column_name(spark):
    """Column names that need backtick quoting must work — the
    aggregate is built via F.expr, so the identifier is quoted (and
    embedded backticks doubled) rather than interpolated raw."""
    from pyspark.sql import functions as F

    from football_etl_spark.operators import sketches

    df = spark.createDataFrame(
        [("g", 1)] * 3 + [("g", 2)], "grp string, `the key` long"
    )
    got = sketches.approx_top_keys(df, "the key", "grp", k=2).collect()
    assert [(r["key"], r["est_count"]) for r in got] == [(1, 3), (2, 1)]


def test_asof_join_tolerance_bounds_match_age(spark):
    """tolerance_sec nulls out matches older than the bound: the
    boundary-age match (exactly tolerance old) is KEPT, one second
    older is nulled, and a key with no prior right row stays null —
    same single-exchange plan, the bound applies to the carried match
    timestamp."""
    from football_etl_spark.operators import joins

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"),   # fresh match (10 min old)
         (2, "2024-01-01 10:00:00"),   # boundary match (exactly 1h old)
         (3, "2024-01-01 10:00:00"),   # stale match (1h 1s old)
         (4, "2024-01-01 10:00:00")],  # no right row at all
        "k long, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:50:00", 11),
         (2, "2024-01-01 09:00:00", 22),
         (3, "2024-01-01 08:59:59", 33)],
        "k long, ts string, v long",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = {
        r["k"]: r["asof_v"]
        for r in joins.asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts",
            value_cols=["v"], tolerance_sec=3600,
        ).collect()
    }
    assert out == {1: 11, 2: 22, 3: None, 4: None}, out


def test_temperature_resample_rates_and_determinism(spark):
    """Temperature resampling: the rarest stratum's rate is exactly
    1.0 (keeps everything), rates decrease with stratum size for
    alpha<1, and the kept set is identical across reruns."""
    from football_etl_spark.operators import sampling

    rows = (
        [("en", i) for i in range(400)]
        + [("fr", 1000 + i) for i in range(100)]
        + [("zh", 2000 + i) for i in range(25)]
    )
    df = spark.createDataFrame(rows, "lang string, doc_id long")
    kept = sampling.temperature_resample(
        df, "lang", F.col("doc_id"), alpha=0.5, rate_col="rate"
    )
    rates = {
        r["lang"]: r["rate"] for r in kept.select("lang", "rate").distinct().collect()
    }
    assert rates["zh"] == 1.0
    assert rates["zh"] > rates["fr"] > rates["en"]
    # expected boost ratio: (p_zh/p_fr)^-0.5 = (25/100)^-0.5 = 2 -> fr rate 0.5
    assert abs(rates["fr"] - 0.5) < 1e-6
    assert abs(rates["en"] - 0.25) < 1e-6
    counts = {r["lang"]: r["cnt"] for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts["zh"] == 25  # rate 1.0 keeps the whole stratum
    rerun = sampling.temperature_resample(df, "lang", F.col("doc_id"), alpha=0.5)
    assert sorted(r["doc_id"] for r in rerun.collect()) == sorted(
        r["doc_id"] for r in kept.collect()
    )


def test_unigram_logprob_scores_values(spark):
    """Self-trained unigram LM on a 3-token corpus: tf(a)=2, tf(b)=1,
    T=3 — doc1 scores 2·ln(2/3)+ln(1/3) with 6dp per-token rounding
    and an exact decimal sum; the empty doc scores 0 tokens and NULL
    logprob."""
    import math

    from football_etl_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in corpus.unigram_logprob_scores(df).collect()}
    lp_a = round(math.log(2 / 3), 6)
    lp_b = round(math.log(1 / 3), 6)
    assert out[1]["n_tokens"] == 3
    assert abs(out[1]["logprob"] - (2 * lp_a + lp_b)) < 1e-9
    assert abs(out[1]["mean_logprob"] - round((2 * lp_a + lp_b) / 3, 6)) < 1e-9
    assert out[2]["n_tokens"] == 0
    assert out[2]["logprob"] is None and out[2]["mean_logprob"] is None


def test_grouped_zscore_matches_window_twin(spark):
    """The applyInArrow grouped-map (r12: per-group math still pandas
    mean/std — see operators/windows.grouped_zscore) must match the
    built-in window-function twin exactly after 6dp rounding, incl.
    the NULL cases: 1-row groups (std undefined) and zero-variance
    groups (std = 0 → NULL via NaN)."""
    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 40.0),
        ("b", 4, 5.0),                       # 1-row group
        ("c", 5, 7.0), ("c", 6, 7.0),        # zero variance
        ("d", 7, -3.5), ("d", 8, 0.0), ("d", 9, 99.25), ("d", 10, 1e12),
    ]
    df = spark.createDataFrame(rows, "k string, i long, v double")
    got = {
        r["i"]: r["z"]
        for r in windows.grouped_zscore(df, ["k"], "v")
        .select("i", F.round("zscore", 6).alias("z"))
        .collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("k")
    sd = F.stddev_samp("v").over(w)
    twin = {
        r["i"]: r["z"]
        for r in df.select(
            "i",
            F.round(
                F.when(
                    sd.isNotNull() & (sd != 0), (F.col("v") - F.avg("v").over(w)) / sd
                ),
                6,
            ).alias("z"),
        ).collect()
    }
    assert got == twin
    assert got[4] is None and got[5] is None and got[6] is None
