"""Deduplication operators — exact and near-dup (LLM-pipeline extensions).

Designed for 100 TB document tables:

- exact dedup: hash-groupBy on a content fingerprint — one shuffle.
- MinHash+LSH: shingle → K minhashes (single agg pass over exploded
  shingles) → banded bucket keys → candidate pairs via equi-join on
  (band, key) → signature-similarity verification. Never a cross
  join; candidate volume is bounded by band collisions.
- SimHash: per-row bit aggregation over the token array with
  higher-order functions — zero shuffle to compute, near-dup pairs
  via exact-bucket or rotated-prefix joins.
- n-gram Jaccard: exact verification on shingle sets for candidate
  pairs (or bounded self-join at small scale).

Hashing is engine-reproducible (the DuckDB oracle mirrors it exactly):
each shingle is md5'd ONCE into a 48-bit integer (12 hex chars through
conv/hex-cast — both engines agree), and the K minhash values derive
from that single hash by affine mixing ``(a_k·h + b_k) mod P`` over
exact int64 arithmetic — the classic universal-hash construction,
16× cheaper than hashing every shingle K times. Where a hash is only
an internal join key (not part of the output), Spark-native xxhash64
is used instead — outputs stay engine-identical.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, shingles_from_tokens, tokens
from .scale import ensure_min_partitions

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the content fingerprint, deterministic survivor
    (lowest id). One shuffle on the 128-bit key — uniform by
    construction, no skew."""
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# Affine-mixing constants for the minhash family (a_k·h + b_k) mod P.
# P is the largest prime below 2^48; with h < 2^48 and a_k ≤ 33 the
# product stays well inside int64, so both engines compute it exactly.
MINHASH_P = 281474976710597


def minhash_params(k: int) -> tuple[int, int]:
    return 3 + 2 * k, 1 + 7 * k


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: explode token n-gram shingles, md5
    each shingle ONCE into a 48-bit int, then take K affine-mixed mins
    in ONE groupBy pass (K aggregate expressions, map-side partial
    agg). No distinct pass is needed: min over the shingle bag ≡ min
    over the set.

    The token array is materialized in its own projection below the
    shingle explode (r12): inlining ``shingles(text)`` into the
    Generate bakes the ``split`` into the explode argument FOUR times
    (the when/transform/slice/else branches all re-derive it, and
    Generate's interpreted eval has no codegen subexpression
    elimination), so every document was re-split 4× per row. One
    aliased Project splits once; the Generate reads the attribute."""
    src = ensure_min_partitions(df.select(id_col, text_col))
    toked = src.select(id_col, tokens(text_col).alias("__toks"))
    sh = toked.select(
        id_col, F.explode(shingles_from_tokens("__toks", shingle_n)).alias("__s")
    ).select(
        id_col,
        F.conv(F.substring(F.md5("__s"), 1, 12), 16, 10).cast("long").alias("__h"),
    )
    aggs = []
    for k in range(num_hashes):
        a, b = minhash_params(k)
        aggs.append(F.min((F.col("__h") * a + b) % MINHASH_P).alias(f"mh{k}"))
    return sh.groupBy(id_col).agg(*aggs)


def _banded(signatures: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, signature array, band, bkey) — one row per band per doc."""
    rows_per_band = num_hashes // bands
    sig = F.array(*[F.col(f"mh{k}") for k in range(num_hashes)])
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        id_col, sig.alias("sig"), F.posexplode(band_keys).alias("band", "bkey")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: candidates from LSH
    banding, verified by estimated Jaccard = fraction of matching
    signature positions. Returns (id_a, id_b, est_jaccard).

    Signatures ride along through the band join as arrays, so
    verification is a zip_with over the pair — no join back to the
    signature table (two fewer shuffles than the naive plan).

    ``max_bucket_size`` is the banded-join analogue of
    ngram_jaccard_pairs' df-cap and the recorded CORPUS-SCALE default
    (None = exact, the verification twin): a band bucket of B docs
    emits B² candidate pairs, so one boilerplate-degenerate bucket
    dominates the whole join (the d² fan-out that spilled the
    uncapped x1000 run past the box's disk). The cap drops buckets
    larger than the bound BEFORE the self-join via a window count
    over (band, bkey) — the count exchange hash-partitions on
    exactly the join key, so the join itself adds no further
    shuffle of that side. Standard MinHash-LSH practice: oversized
    buckets are boilerplate clusters better handled by exact-dedup
    passes than by pairwise verification."""
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = _banded(sigs, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        bw = Window.partitionBy("band", "bkey")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(bw))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "bkey")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "bkey")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    matches = F.aggregate(
        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # est_jaccard is scored per CANDIDATE ROW (before the multi-band
    # dedup), then the pair dedup runs on (id_a, id_b, est_jaccard)
    # only (r12): deduping rows that still carry the signature ARRAYS
    # forces first(array) — not a mutable-buffer type, so the plan
    # fell to Sort + SortAggregate; with just a double riding along
    # the same dedup is a HashAggregate and the sort disappears. A
    # pair's est_jaccard is identical in every duplicate row (it is a
    # pure function of the two signatures), so first() is
    # deterministic and results are unchanged; the ≤bands-fold row
    # duplication costs one 16-element zip_with per extra row.
    return (
        pairs.withColumn("est_jaccard", matches / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .dropDuplicates(["id_a", "id_b"])
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental corpus dedup: screen an INCOMING batch against the
    EXISTING corpus with an asymmetric banded MinHash join — the
    day-2 problem of a 100 TB pipeline, where re-running all-pairs
    dedup over corpus ∪ increment would redo corpus×corpus work that
    is already settled. Banding both sides and equi-joining
    incoming-bands → corpus-bands makes candidate volume proportional
    to the INCREMENT (each incoming band probes one bucket), while
    the corpus pays only its signature scan + one (band, bkey)
    shuffle — no corpus self-pairs are ever generated.

    Returns one verdict row per incoming doc:
    (new_id, is_dup, best_match_id, best_jaccard) — best = highest
    estimated Jaccard ≥ threshold, ties to the lowest corpus id;
    novel docs keep NULL match columns. Signatures ride through the
    band join as arrays (no join back), same as
    minhash_near_dup_pairs."""
    c_sig = minhash_signatures(corpus, id_col, text_col, num_hashes, shingle_n)
    i_sig = minhash_signatures(incoming, id_col, text_col, num_hashes, shingle_n)
    cb = _banded(c_sig, id_col, num_hashes, bands).select(
        F.col(id_col).alias("corpus_id"), F.col("sig").alias("sig_c"), "band", "bkey"
    )
    ib = _banded(i_sig, id_col, num_hashes, bands).select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_i"), "band", "bkey"
    )
    matches = F.aggregate(
        F.zip_with(F.col("sig_i"), F.col("sig_c"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    pairs = (
        ib.join(cb, ["band", "bkey"])
        .select("new_id", "corpus_id", "sig_i", "sig_c")
        .dropDuplicates(["new_id", "corpus_id"])
        .withColumn("est_jaccard", matches / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("est_jaccard"), F.asc("corpus_id")
    )
    best = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("new_id").alias("__bid"),
            F.col("corpus_id").alias("best_match_id"),
            F.col("est_jaccard").alias("best_jaccard"),
        )
    )
    return (
        incoming.select(F.col(id_col).alias("new_id"))
        .join(best, F.col("new_id") == F.col("__bid"), "left")
        .select(
            "new_id",
            F.col("best_match_id").isNotNull().alias("is_dup"),
            "best_match_id",
            "best_jaccard",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via a shingle-inverted
    index: explode distinct shingles, self-join on shingle to count
    intersections, derive |A∪B| from per-doc set sizes.

    ``max_shingle_df`` drops ubiquitous shingles (document frequency
    > cap) BEFORE the self-join — a shingle with df=d fans out d²
    candidate pairs, so one boilerplate phrase shared by a million
    documents would otherwise dominate the whole job (the classic
    inverted-index blowup on a skewed key). Capped BY DEFAULT because
    at 100 TB an uncapped run is not survivable; pass ``None``
    explicitly for the exact small-corpus verification twin. The drop
    also removes the capped shingles from the per-doc set sizes, i.e.
    Jaccard is computed over the rare-shingle subspace — the standard
    trade (ubiquitous shingles carry no near-dup signal anyway).

    Shingles are joined by xxhash64 key, not by string — the hash is
    purely an internal equi-join key (never in the output), so the
    cheap Spark-native hash is safe; a collision would need two
    distinct shingles of the same doc pair among ~2^64 values."""
    src = ensure_min_partitions(df.select(id_col, text_col))
    # tokens materialized below the explode — see minhash_signatures
    # (the inlined form re-splits every document 4× inside Generate)
    toked = src.select(id_col, tokens(text_col).alias("__toks"))
    sh = (
        toked.select(
            id_col, F.explode(shingles_from_tokens("__toks", shingle_n)).alias("__s")
        )
        .select(id_col, F.xxhash64("__s").alias("s"))
        .distinct()
    )
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("s").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("s")
        )
        sh = sh.join(rare, "s")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "s")
    b = sh.select(F.col(id_col).alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _passjoin_segments(lb, i, k: int):
    """Segment geometry for PassJoin's fixed partition rule: a string
    of length ``lb`` splits into ``k`` contiguous segments, the first
    ``k - lb%k`` of length ``lb//k`` and the rest one longer. Returns
    (start, length) Column expressions for segment ``i`` — pure
    integer arithmetic, shared verbatim by the probe and index sides
    so their keys agree by construction."""
    base = F.floor(lb / k).cast("int")
    rem = (lb % k).cast("int")
    seg_len = base + F.when(i >= (F.lit(k) - rem), F.lit(1)).otherwise(F.lit(0))
    seg_start = i * base + F.greatest(F.lit(0), i - (F.lit(k) - rem))
    return seg_start, seg_len


def _passjoin_index(right: DataFrame, right_id: str, right_col: str, d: int) -> DataFrame:
    """Index side of PassJoin: each right string emits its d+1
    (length, seg_id, segment) keys. Output: (__rid, __rs, __lb, __i,
    __seg)."""
    k = d + 1
    idx = right.select(
        F.col(right_id).alias("__rid"), F.col(right_col).alias("__rs")
    ).withColumn("__lb", F.length("__rs"))
    idx = idx.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(d))))
    r_start, r_len = _passjoin_segments(F.col("__lb"), F.col("__i"), k)
    return idx.select(
        "__rid", "__rs", "__lb", "__i",
        F.col("__rs").substr(r_start + 1, r_len).alias("__seg"),
    )


def _passjoin_probe(left: DataFrame, left_id: str, left_col: str, d: int) -> DataFrame:
    """Probe side of PassJoin: for every candidate right length within
    ±d and every segment slot, the bounded substring windows a no-edit
    segment could occupy — ≤ (2d+1)(d+1)(2d+1) keys per string, a
    CONSTANT (the fan-out bound tests/test_operators.py pins by
    counting these rows). Output: (__lid, __ls, __lb, __i, __seg)."""
    k = d + 1
    probe = left.select(
        F.col(left_id).alias("__lid"), F.col(left_col).alias("__ls")
    ).withColumn("__la", F.length("__ls"))
    probe = probe.withColumn(
        "__lb",
        F.explode(
            F.sequence(F.greatest(F.lit(0), F.col("__la") - d), F.col("__la") + d)
        ),
    ).withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(d))))
    p_start, p_len = _passjoin_segments(F.col("__lb"), F.col("__i"), k)
    lo = F.greatest(F.lit(0), p_start - d)
    hi = F.least(F.col("__la") - p_len, p_start + d)
    return probe.withColumn(
        "__s",
        F.explode(
            F.when(hi >= lo, F.sequence(lo, hi)).otherwise(
                F.array().cast("array<int>")
            )
        ),
    ).select(
        "__lid", "__ls", "__lb", "__i",
        F.col("__ls").substr(F.col("__s") + 1, p_len).alias("__seg"),
    )


def fuzzy_join_edit_distance(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Edit-distance similarity join WITHOUT the n² shuffle: PassJoin
    segment blocking (Li, Deng, Wang & Feng, VLDB 2012 — the pigeonhole
    scheme production record-linkage runs). If lev(a, b) <= d, then
    splitting b into d+1 segments leaves at least one segment with NO
    edits, so it occurs VERBATIM in a with its start shifted at most d
    — an equality the join can key on:

    - index side: each right string emits its d+1 (length, seg_id,
      segment) keys — d+1 rows per string;
    - probe side: each left string emits, for every candidate right
      length within ±d and every segment slot, the <= 2d+1 substrings
      a no-edit segment could occupy — a constant ~ (2d+1)²(d+1)
      fan-out per string, NOT a function of corpus size;
    - candidates join on the (length, seg_id, segment) equi-key (one
      content-distributed shuffle — the skew profile of a hash join on
      text, not a cross product), dedup per pair, then the exact
      ``levenshtein`` filter keeps true matches only.

    Blocking is LOSSLESS (the pytest property test certifies equality
    with the brute-force n² join on random strings): every pair within
    ``max_dist`` survives, so the output is exactly the theta-join
    ``lev(a,b) <= d`` at equi-join cost. All expressions are JVM-side
    (sequence/substring/levenshtein) — zero Python in the hot path.

    Output: (left_id, left_col, right_id, right_col, edit_distance),
    SET semantics over (id, string) pairs — input row multiplicity
    does not multiply output rows, and duplicate ids with DIFFERENT
    strings are handled correctly (candidates dedup on the full
    (id, string) pair, never on ids alone). Self-join callers filter
    ``left < right`` downstream. Empty segments (length < d+1) still
    key correctly — a zero-length substring matches its zero-length
    segment.
    """
    d = int(max_dist)
    idx = _passjoin_index(right, right_id, right_col, d)
    probe = _passjoin_probe(left, left_id, left_col, d)
    cand = (
        probe.join(idx, ["__lb", "__i", "__seg"])
        .select("__lid", "__ls", "__rid", "__rs")
        .dropDuplicates(["__lid", "__ls", "__rid", "__rs"])
    )
    dist = F.levenshtein("__ls", "__rs")
    # a string keyed by itself (id_col == value_col) emits one column
    out_cols = [F.col("__lid").alias(left_id)]
    if left_col != left_id:
        out_cols.append(F.col("__ls").alias(left_col))
    out_cols.append(F.col("__rid").alias(right_id))
    if right_col != right_id:
        out_cols.append(F.col("__rs").alias(right_col))
    out_cols.append(dist.cast("long").alias("edit_distance"))
    return cand.filter(dist <= d).select(*out_cols)


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    min_hits: int = 1,
    broadcast_eval: bool = True,
    eval_hashes: list[int] | None = None,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of
    its distinct ``shingle_n``-gram shingles also occur anywhere in
    the evaluation corpus — the train/test-overlap check every
    training-data pipeline runs before a corpus ships (the n-gram
    overlap method used for GPT-3/PaLM-style decontamination).

    Returns one row per training doc:
    ``(id, n_shingles, n_hits, contaminated)`` with ``contaminated =
    n_hits >= min_hits``; docs with zero overlap are kept (left join),
    so the output is a complete audit, not just the flagged subset.

    Scale shape — ONE pass over the training corpus: per-doc shingle
    dedup is ``array_distinct`` inside the row (no global distinct
    shuffle), the eval side is a benchmark suite — millions of
    shingles, not billions — so its distinct-hash set is broadcast
    (``broadcast_eval=True``) and hit-marking is a map-side left
    join; a single groupBy(id) then counts rows (= n_shingles) and
    hit markers (= n_hits) together. Total cost: one scan + one
    shuffle of (id, shingle) pairs. Set ``broadcast_eval=False`` if
    the eval corpus is genuinely large and let AQE pick the strategy.
    Shingles are compared by xxhash64 (internal key only, never
    output), as in :func:`ngram_jaccard_pairs`.

    ``eval_hashes`` (a precollected, benchmark-suite-sized list of
    the eval corpus's distinct shingle xxhash64 values) switches to
    the MAP-ONLY path: both counts become per-row facts — n_shingles
    is the distinct-shingle array size, n_hits one batch-flattened
    searchsorted probe of that array against the closure-held sorted
    eval set — so the (id, shingle) explode, the join, and the
    groupBy shuffle all disappear. The closure plays the same role
    broadcast did (ship the suite to every worker once). Measured at
    sf0.1 both paths run 0.72s steady — tokenize+shingle compute
    dominates and both do it once — so the win is purely structural:
    at 100 TB the join path shuffles one (id, hash) row per shingle
    (corpus-token-scale I/O), the map-only path shuffles nothing."""
    if eval_hashes is not None:
        import hashlib
        import warnings

        import numpy as np
        from pyspark import Broadcast

        from ..session import session_memo

        # Materialised once, so a one-shot iterable serves every path
        # and the digest below sees exactly the suite that is probed.
        ev_sorted = np.sort(np.fromiter((int(h) for h in eval_hashes), dtype=np.int64))
        # The sorted eval-hash array ships as a BROADCAST variable
        # (r13, guide §3/§4.5): the closure-pickled list form re-sent
        # the whole suite inside every task binary and re-built the
        # int64 array on every Arrow BATCH (np.asarray of a Python
        # list is O(|eval|) per call). Broadcast + iterator-form UDF
        # load it once per Python worker (PySpark caches loaded
        # broadcasts per process across tasks under worker reuse) —
        # at a real suite size (millions of shingles) that is the
        # difference between MBs-per-task and bytes-per-task. The
        # memo keys it by content: an unchanged suite reuses ONE
        # broadcast, a changed one (even a list mutated in place)
        # replaces it and unpersists the old copy. Under Spark Connect
        # (no sparkContext) the array rides the UDF closure instead —
        # the pre-r13 behavior.
        spark = train.sparkSession
        try:
            sc = spark.sparkContext
        except AttributeError:  # Spark Connect: PySparkAttributeError
            sc = None
            warnings.warn(
                "contamination_report: no sparkContext (Spark Connect); "
                "the eval suite ships in the UDF closure, not a broadcast",
                stacklevel=2,
            )
        ev_bc = (
            None
            if sc is None
            else session_memo(
                spark,
                "contamination_eval_broadcast",
                lambda: sc.broadcast(ev_sorted),
                token=hashlib.blake2b(ev_sorted.tobytes(), digest_size=16).digest(),
                release=Broadcast.unpersist,
            )
        )
        ev_arr = ev_sorted if ev_bc is None else None

        @F.pandas_udf("long")
        def _n_hits(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            # one flat searchsorted over the whole Arrow batch + a
            # segmented sum — NOT per-row np.isin, which re-merges the
            # eval array per document (measured 7.3s vs 0.3s at sf0.1)
            import numpy as np
            import pandas as pd

            ev = ev_arr if ev_bc is None else ev_bc.value  # once per worker
            for arrs in batches:
                lens = np.fromiter(
                    (0 if a is None else len(a) for a in arrs),
                    dtype=np.int64,
                    count=len(arrs),
                )
                if lens.sum() == 0:
                    yield pd.Series(np.zeros(len(arrs), dtype=np.int64))
                    continue
                flat = np.concatenate(
                    [np.asarray(a, dtype=np.int64) for a in arrs if a is not None and len(a)]
                )
                idx = np.searchsorted(ev, flat)
                idx_c = np.minimum(idx, len(ev) - 1)
                hit = (
                    (ev[idx_c] == flat).astype(np.int64)
                    if len(ev)
                    else np.zeros(len(flat), np.int64)
                )
                bounds = np.concatenate(([0], np.cumsum(lens)))
                csum = np.concatenate(([0], np.cumsum(hit)))
                yield pd.Series(csum[bounds[1:]] - csum[bounds[:-1]], dtype="int64")

        # The hashed distinct-shingle array is materialized in its own
        # projection (r12): inlining it meant the WHOLE tokenize +
        # shingle + hash chain was evaluated twice per row — once as
        # the ArrowEvalPython input and once re-derived (interpreted,
        # split ×4) for size() in the post-UDF Project. CollapseProject
        # keeps the alias because it is non-cheap and referenced twice.
        sh_arr = ensure_min_partitions(train).select(
            id_col,
            F.transform(
                F.array_distinct(shingles_from_tokens(tokens(text_col), shingle_n)),
                lambda s: F.xxhash64(s),
            ).alias("__sh"),
        )
        return sh_arr.select(
            id_col,
            F.size("__sh").cast("long").alias("n_shingles"),
            _n_hits("__sh").alias("n_hits"),
        ).withColumn("contaminated", F.col("n_hits") >= min_hits)

    toked = train.select(id_col, tokens(text_col).alias("__toks"))
    tr = toked.select(
        id_col,
        F.explode(
            F.array_distinct(shingles_from_tokens("__toks", shingle_n))
        ).alias("__s"),
    ).select(id_col, F.xxhash64("__s").alias("s"))
    ev = (
        eval_df.select(tokens(text_col).alias("__toks"))
        .select(F.explode(shingles_from_tokens("__toks", shingle_n)).alias("__s"))
        .select(F.xxhash64("__s").alias("s"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    marked = tr.join(ev, "s", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 56,
) -> DataFrame:
    """Per-doc SimHash (first ``bits/4`` hex chars of each token's md5
    → per-bit ±1 votes → sign bits). Returns (id_col, simhash); docs
    with zero tokens are absent.

    Explode + ONE groupBy(id) with ``bits`` codegen'd ±1 vote sums
    (map-side partial agg, JVM md5) — measured 3.5× faster than a
    per-document pandas-UDF signature at sf0.1 (5k docs), because
    JVM-native md5 beats a Python hashlib loop and the 56-int-per-doc
    shuffle is small."""
    src = ensure_min_partitions(df.select(id_col, text_col))
    toks = src.select(id_col, F.explode(tokens(text_col)).alias("__tok"))
    # The hash is INLINED into the vote sums (pre-r12 form, restored
    # r13): r12 materialized it in its own projection on the theory
    # that the md5/conv subtree was re-evaluated in all `bits` partial
    # sums, but aggregate codegen's subexpression elimination already
    # evaluates it once, so the extra Project only cost — the r12
    # driver measured the materialized form 0.79x, and the r13
    # same-session interleaved A/B (BENCH_NOTES "Round 13
    # OPTIMIZATION round, wave 1", simhash_near_dups row) confirmed
    # the revert faster at every depth: 0.927x at sf0.1, 0.909x at
    # x10, 0.950x at x100 (VERDICT r12 ask #1).
    h = F.conv(F.substring(F.md5("__tok"), 1, bits // 4), 16, 10).cast("long")
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(bits)
        ]
    )
    sig: Column = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"__v{b}") >= 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(id_col, sig.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 56,
    max_hamming: int = 3,
    band_bits: int = 14,
) -> DataFrame:
    """SimHash near-dup pairs: band the simhash into ``bits/band_bits``
    exact-match segments — any pair within hamming distance
    ``max_hamming`` (< number of bands) collides in ≥1 band
    (pigeonhole). Candidates verified by popcount of XOR."""
    sh = simhash_signatures(df, id_col, text_col, bits)
    n_bands = bits // band_bits
    assert max_hamming < n_bands, "need max_hamming < n_bands for pigeonhole guarantee"
    mask = (1 << band_bits) - 1
    segs = F.array(
        *[
            F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    bands_df = sh.select(
        id_col, "simhash", F.posexplode(segs).alias("band", "seg")
    )
    a = bands_df.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "seg"
    )
    b_ = bands_df.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "seg"
    )
    cands = (
        a.join(b_, ["band", "seg"]).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b").distinct()
    )
    x = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    # native popcount: one codegen'd instruction vs a 56-term shift/mask sum
    return (
        cands.withColumn("hamming", F.bit_count(x).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node starts labeled with its own id;
    each round every node takes the minimum label among itself and its
    neighbors; fixpoint = each component labeled by its smallest node
    id. Returns (node, cluster_id).

    This is the standard distributed CC (what GraphX/GraphFrames run
    under the hood): per round one equi-join + one min-agg — both
    shuffle on the node key, no cross join, state is one row per node.
    Each round additionally POINTER-JUMPS (``comp ← comp[comp]``, one
    more self-join on the label), so label distance roughly doubles
    per round and convergence is O(log diameter) instead of
    O(diameter) — a 200-node chain closes in ~9 rounds, not 200.
    Near-dup graphs are usually shallow, but templated/boilerplate
    corpora produce exactly the long-chain shape that makes plain
    propagation unsurvivable at 100 TB. The driver-side loop is
    inherent to iterative fixpoints; each round's ``count`` action is
    the convergence check, and ``localCheckpoint`` truncates lineage
    so round N's plan doesn't re-derive rounds 1..N-1 (at cluster
    scale use ``checkpoint`` to reliable storage instead).
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(sym["a"].alias("node"))
            .agg(F.min("comp").alias("neigh_comp"))
        )
        propagated = labels.join(neigh, "node", "left").select(
            "node",
            F.least(
                F.col("comp"), F.coalesce("neigh_comp", F.col("comp"))
            ).alias("comp"),
        )
        # pointer-jumping shortcut: follow the label one hop
        # (comp ← label-of-comp); comp is always the id of a real
        # node, so the self-join hits. Distance to the component
        # minimum roughly doubles per round.
        hop = propagated.select(
            F.col("node").alias("__hn"), F.col("comp").alias("__hc")
        )
        new_labels = (
            propagated.join(hop, propagated["comp"] == hop["__hn"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("__hc", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # labels are only a fixpoint when the last round changed
        # nothing; exiting hot means distinct components may share
        # partially-propagated labels — surface it, don't return
        # silently-wrong clusters
        import warnings

        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); increase max_iter "
            "(rounds needed = graph diameter)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("comp").alias("cluster_id"))


def near_dup_clusters(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Assign every document a near-dup cluster id: connected
    components over the candidate-pair graph, singletons keep their
    own id. Output (doc_id, cluster_id, cluster_size)."""
    comp = connected_components(edges, src, dst)
    w = Window.partitionBy("cluster_id")
    return (
        docs.select(id_col)
        .join(comp, docs[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count("*").over(w))
    )


def canonical_docs(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep one canonical document per near-dup cluster: the longest
    text, ties broken by smallest id — the 'keep best' reduction that
    turns pair detection into an actual corpus dedup. One ranking
    window over the cluster key."""
    joined = docs.join(clusters, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.length(text_col).desc(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "cluster_id", "cluster_size")
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 8,
) -> DataFrame:
    """Per-document repeated-span coverage — the exact-substring-dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", the suffix-array half), re-expressed at
    fixed token grain so it distributes: a span is an ``span_n``-token
    window; a span is DUPLICATED if the identical window occurs
    anywhere else in the corpus (another doc, or again in the same
    doc). Emits per doc the window count, the duplicated-window
    count, and their ratio — the quantity pipelines threshold to drop
    or trim boilerplate-heavy documents.

    Plan: tokenize once, slide the n-token window map-side (sequence +
    transform — no explode of single tokens), explode the windows,
    hash them to a compact key, then ONE shuffle on the span key with
    a window count(*) tags every occurrence with its corpus frequency
    in place — no separate frequency relation and no join back (the
    first cut's groupBy(span) + semi-join shuffled the exploded span
    stream TWICE and re-ran the explode for both sides; measured 3.8x
    behind DuckDB at x100, the window form removes a full pass) — and
    one fused doc groupBy counts total and duplicated windows
    together. Docs shorter than ``span_n`` tokens have zero windows
    and NULL ratio, restored by a docs-sized left join. Unlike the
    pair-join dedup family there is NO d² fan-out anywhere —
    occurrence counting is linear in corpus tokens and a hot
    boilerplate span costs one heavy window partition, not a
    quadratic join — so no df-cap is needed (the reason
    ngram_jaccard_pairs caps and this operator does not).

    Spans are keyed by xxhash64, internal-only (never emitted), same
    collision argument as ngram_jaccard_pairs."""
    src = ensure_min_partitions(df.select(id_col, text_col))
    toked = src.select(id_col, tokens(text_col).alias("__t"))
    win = F.transform(
        F.sequence(F.lit(1), F.size("__t") - (span_n - 1)),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice("__t", i, span_n))),
    )
    spans = toked.select(
        id_col,
        F.explode(
            F.when(F.size("__t") >= span_n, win).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("s"),
    )
    freq = Window.partitionBy("s")
    per_doc = (
        spans.withColumn("df", F.count(F.lit(1)).over(freq))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans_nz"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    totals = toked.select(
        id_col,
        F.greatest(F.size("__t") - (span_n - 1), F.lit(0))
        .cast("long")
        .alias("n_spans"),
    )
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.col("n_spans") > 0,
            F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"),
        ).alias("dup_ratio"),
    )
