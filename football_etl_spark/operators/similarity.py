"""Similarity search over embedding columns (array<float>).

Two tiers:

- ``cosine_topk`` — exact brute-force top-k: broadcast the (small)
  query set against the corpus, one scan, per-query top-k via a rank
  window partitioned by query id. The corpus is never collected; at
  100 TB the scan is embarrassingly parallel and the shuffle is
  bounded by |queries| × k after AQE.
- ``lsh_topk`` — random-hyperplane LSH: deterministic seeded
  hyperplanes, sign-bit bucket per vector, candidates restricted to
  matching buckets (multi-probe over all bands), then exact re-rank.
  Trades recall for a corpus-partition-pruned candidate set.

Math is built-in higher-order functions (functions/vectors.py) —
JVM-side, no Python UDF in the scan path.

A third tier, product quantization (``pq_train`` / ``pq_encode`` /
``pq_adc_topk``), compresses vectors ~32x into codeword indices and
answers distance queries from the codes alone (ADC lookup tables) —
the candidate-generation layer a 100 TB embedding corpus needs before
the exact re-rank; measured recall@10 = 0.40 on the sf0.001 corpus at
m=8, k=16, 2 Lloyd iterations (production sizing uses k=256 + more
iterations + exact re-rank of the ADC candidates). The oracle-gated
entry is ``pq_adc_ann_topk`` in plans/queries.py — the deterministic
rounded trajectory is replayed in SQL like kmeans_embedding_clusters.
"""

from __future__ import annotations

import uuid

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm
from .scale import ensure_min_partitions


def _pair_cosine(qv: str, cv: str, qn: str, cn: str) -> Column:
    """Cosine from a pair's dot product and the two PREcomputed norms
    (one norm per vector instead of one per pair — the norms of an
    N×M scoring job cost N+M instead of 2·N·M). Zero-norm pairs score
    0.0."""
    d = F.col(qn) * F.col(cn)
    return F.when(d > 0, dot(qv, cv) / d).otherwise(F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, cosine_sim). Queries are
    broadcast; ranking ties broken by neighbor id for determinism.
    Norms are computed once per vector, not once per pair."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            norm(vec_col).alias("__qn"),
        )
    )
    c = ensure_min_partitions(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(vec_col).alias("__cn"),
    )
    pairs = q.crossJoin(c)
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _pair_cosine("__qv", "__cv", "__qn", "__cn").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(df: DataFrame, vec_col: str, planes: list[list[float]]) -> DataFrame:
    """Sign-bit bucket id from dot products with fixed hyperplanes: one
    Arrow-batched pandas UDF whose whole batch of sign bits comes from
    a single float64 matmul (N×D @ D×B). A literal-tree expression
    form (per-plane ``dot`` over array literals; Catalyst interprets
    HOF lambdas per element) measured slower inside the full top-k
    query: 1.75 s vs 1.14 s, because the big literal tree is
    re-analyzed and re-evaluated across the join.

    The matmul accumulates in float64; its sign differs from a
    sequential sum (the DuckDB oracle's ``_sql_lsh_bucket``) only when
    |dot| ≲ 1e-13·‖v‖, vanishingly rare for gaussian hyperplanes."""
    planes_list = [[float(x) for x in p] for p in planes]

    @F.pandas_udf("long")
    def _bucket(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype="int64")
        P = np.asarray(planes_list, dtype=np.float64)
        M = np.stack(v.to_numpy()).astype(np.float64)
        bits = (M @ P.T) > 0.0
        weights = np.int64(1) << np.arange(P.shape[0], dtype=np.int64)
        return pd.Series((bits @ weights).astype(np.int64))

    return df.withColumn("__bucket", _bucket(F.col(vec_col)))


def _literal_rows_df(spark, rows: list[dict], schema: str) -> DataFrame:
    """A tiny driver-held relation as a pure-JVM literal plan:
    explode(array(struct(...))) over range(1). ``createDataFrame``
    would wrap the rows in a Python RDD (``applySchemaToPythonRDD``)
    whose every execution launches a Python worker to emit them —
    ~0.2-0.3s per run for 8 rows; the literal plan evaluates inside
    the JVM for free. Only for control-plane-sized data: every value
    becomes an expression-tree literal."""
    pairs = [f.split(":", 1) for f in schema.split(",")]
    fields = [(n.strip(), t.strip()) for n, t in pairs]

    def lit_of(v, typ):
        if isinstance(v, list):
            return F.array(*[F.lit(x) for x in v]).cast(typ)
        return F.lit(v).cast(typ)

    entries = [
        F.struct(*[lit_of(r[name], typ).alias(name) for name, typ in fields])
        for r in rows
    ]
    base = spark.range(1).select(F.explode(F.array(*entries)).alias("__r"))
    return base.select(*[F.col(f"__r.{name}").alias(name) for name, _ in fields])


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    exclude_self: bool = True,
    query_rows: list | None = None,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket
    are scored. With 2^n_planes buckets the candidate set shrinks
    ~2^n_planes×; recall is tunable via n_planes (fewer planes →
    bigger buckets → higher recall).

    ``query_rows`` (precollected (id, vector) rows) switches the query
    side to a driver-built local relation — bucket + norm computed in
    one numpy pass — removing the query-side Arrow stage entirely.
    Right only for a broadcast-sized query set (it broadcasts into the
    bucket join anyway); measured at sf0.1 |Q|=8: 0.82s → 0.55s."""
    planes = _hyperplanes(dim, n_planes, seed)
    if query_rows is not None:
        P = np.asarray([[float(x) for x in p] for p in planes], dtype=np.float64)
        weights = np.int64(1) << np.arange(P.shape[0], dtype=np.int64)
        local = []
        for r in query_rows:
            qv = np.asarray([float(x) for x in r[1]], dtype=np.float64)
            bucket = int((((P @ qv) > 0.0) @ weights))
            local.append(
                {
                    "query_id": int(r[0]),
                    "__qv": qv.tolist(),
                    "__qn": float(np.sqrt((qv * qv).sum())),
                    "__bucket": bucket,
                }
            )
        qb = _literal_rows_df(
            queries.sparkSession,
            local,
            "query_id: long, __qv: array<double>, __qn: double, __bucket: long",
        )
    else:
        qb = lsh_bucket(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("__qv"),
                norm(vec_col).alias("__qn"),
            ),
            "__qv",
            planes,
        )
    cb = lsh_bucket(
        ensure_min_partitions(corpus.select(id_col, vec_col)).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            norm(vec_col).alias("__cn"),
        ),
        "__cv",
        planes,
    )
    # observe() audit boundary = single-evaluation pin (the ingest
    # module's from_json trick): the inner join infers
    # IsNotNull(__bucket) and PushDownPredicates would push it through
    # the repartition Exchange by DUPLICATING the Arrow bucket UDF
    # below it — the whole corpus hashed twice (measured: 2×
    # ArrowEvalPython in the physical plan, ~0.4s extra at sf0.1).
    # Predicates cannot cross a CollectMetrics node, and the bucketed-
    # corpus count is a legitimate index-build metric anyway.
    cb = cb.observe(
        f"lsh_bucketed_corpus_{uuid.uuid4().hex[:12]}",
        F.count(F.lit(1)).alias("n_corpus_bucketed"),
    )
    pairs = F.broadcast(qb).join(cb, "__bucket")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", _pair_cosine("__qv", "__cv", "__qn", "__cn").alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def lsh_band_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_bands: int,
    planes_per_band: int,
    seed: int = 42,
) -> DataFrame:
    """All band bucket ids in ONE Arrow matmul: stack every band's
    hyperplanes into a single (n_bands*planes_per_band) x dim matrix,
    compute sign bits for the whole batch at once, then pack each
    band's bit group into its own bucket id. Output column
    ``__bands``: array<long> of length n_bands. Band b's planes are
    seeded ``seed + b`` so bands are independent draws (and an
    ANSI-SQL oracle can regenerate them plane-by-plane)."""
    all_planes = [
        [float(x) for x in plane]
        for b in range(n_bands)
        for plane in _hyperplanes(dim, planes_per_band, seed + b)
    ]
    r = planes_per_band
    nb = n_bands

    @F.pandas_udf("array<long>")
    def _bands(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        P = np.asarray(all_planes, dtype=np.float64)
        M = np.stack(v.to_numpy()).astype(np.float64)
        bits = ((M @ P.T) > 0.0).reshape(len(M), nb, r)
        weights = np.int64(1) << np.arange(r, dtype=np.int64)
        codes = bits @ weights  # (N, nb)
        return pd.Series([row.astype(np.int64).tolist() for row in codes])

    return df.withColumn("__bands", _bands(F.col(vec_col)))


def lsh_topk_banded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 16,
    planes_per_band: int = 4,
    dim: int = 64,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """OR-amplified LSH ANN: a corpus vector is a candidate if it
    shares ANY band's bucket with the query (vs ``lsh_topk``'s single
    AND-only code). Per-band match probability p = (1 - theta/pi)^r
    composes to 1-(1-p)^B — the standard banding construction that
    buys recall without growing any single bucket: B bands of r
    planes keep each band's buckets 2^r-coarse while the union
    approaches exact-top-k recall. Defaults are the tuned config from
    a (B, r) sweep against exact top-10 on the sf0.01 corpus (near-
    uniform synthetic vectors — the hard case for LSH): 16×4 → mean
    recall@10 = 0.94 with each band bucket holding ~7% of the corpus
    (4×4 → 0.41, 8×3 → 0.84, 16×3 → 0.99 at 2× the bucket size;
    single-band 8-plane AND-code → 0.0). On a clustered real corpus
    buckets are more selective, so 16×4 is a conservative floor.

    Plan shape: one Arrow matmul per side for ALL band codes, then
    posexplode to (band, bucket) and ONE equi-join on the pair —
    identical to the MinHash-LSH banding join (operators/dedup.py),
    never a cross product; duplicate candidates from multi-band hits
    collapse in the rank window's input via distinct."""
    # the observe() nodes are single-evaluation pins (see lsh_topk):
    # without them the equi-join's inferred IsNotNull(band/bkt)
    # predicates push below each side's repartition Exchange by
    # duplicating the Arrow band-code UDF — 4 ArrowEvalPython nodes in
    # the physical plan instead of 2, every vector hashed twice
    qb = lsh_band_buckets(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            norm(vec_col).alias("__qn"),
        ),
        "__qv", dim, n_bands, planes_per_band, seed,
    ).observe(
        f"lsh_banded_queries_{uuid.uuid4().hex[:12]}",
        F.count(F.lit(1)).alias("n_queries_banded"),
    ).select(
        "query_id", "__qv", "__qn",
        F.posexplode("__bands").alias("band", "bkt"),
    )
    cb = lsh_band_buckets(
        ensure_min_partitions(corpus.select(id_col, vec_col)).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        ),
        "__cv", dim, n_bands, planes_per_band, seed,
    ).observe(
        f"lsh_banded_corpus_{uuid.uuid4().hex[:12]}",
        F.count(F.lit(1)).alias("n_corpus_banded"),
    ).select("neighbor_id", F.posexplode("__bands").alias("band", "bkt"))

    cand = (
        F.broadcast(qb)
        .join(cb, ["band", "bkt"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))

    corp = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(vec_col).alias("__cn"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(vec_col).alias("__qn"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(corp, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            _pair_cosine("__qv", "__cv", "__qn", "__cn").alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. Default path buckets by
    LSH first (near-identical vectors share all sign bits with high
    probability) and verifies exactly; ``exact=True`` forces the
    all-pairs O(n²) check (only sane for dimension-sized tables)."""
    src = ensure_min_partitions(df.select(id_col, vec_col)).select(
        id_col, vec_col, norm(vec_col).alias("__n")
    )
    if exact:
        a = src.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__n").alias("__na")
        )
        b = src.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb")
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        bucketed = lsh_bucket(src, vec_col, _hyperplanes(dim, n_planes, seed))
        a = bucketed.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
            F.col("__n").alias("__na"), "__bucket",
        )
        b = bucketed.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
            F.col("__n").alias("__nb"), "__bucket",
        )
        pairs = a.join(b, "__bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", _pair_cosine("__va", "__vb", "__na", "__nb").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    query_rows: list,
    centroids: list,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) ANN: every corpus vector is assigned to its
    nearest centroid cell, each query probes its ``n_probe`` nearest
    cells, and only corpus vectors in a probed cell are scored. The
    classic coarse-quantization alternative to ``lsh_topk``: recall is
    tuned by ``n_probe`` instead of plane count, and the centroid
    table is pluggable (the query vectors themselves, or trained
    ``kmeans_fit`` centers).

    ``query_rows`` and ``centroids`` are collected ``(id, vector)``
    rows: both are dimension-table-sized control planes the caller
    already holds on the driver, so building the plan runs no Spark
    job. The query probe cells are computed once on the driver; cell
    assignment, probing and cosine scoring then run as ONE Arrow
    kernel per corpus batch — the Faiss scan shape (query block and
    centroids in the closure, one matmul per batch, emit only the
    probed (query, cosine) hits) — so the plan is map → explode →
    top-k window with no join and no per-pair interpreted math. This
    fused scan measured 0.5 s end-to-end at sf0.1 (5000x64, K=8,
    |Q|=8), against 1.01 s with driver-side probing plus a probe join
    and 1.28 s with Arrow assignment and probe stages. Driver work is
    O(|Q|*K*D) and the closure O(|Q|*D) bytes: keep |Q| at
    broadcast-table size.

    Ties in centroid distance break toward the lower cid; candidate
    ranking ties break by neighbor id — fully deterministic."""
    cv_list = [v for _, v in sorted((int(c), [float(x) for x in v]) for c, v in centroids)]
    q_ids = [int(r[0]) for r in query_rows]
    q_vecs = [[float(x) for x in r[1]] for r in query_rows]
    if q_vecs:
        Qm = np.asarray(q_vecs, dtype=np.float64)
        Cm = np.asarray(cv_list, dtype=np.float64)
        qd2 = ((Qm[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=2)
        # stable argsort over cid-sorted centroids: distance ties break
        # toward the lower cid
        q_order = np.argsort(qd2, axis=1, kind="stable")[:, : int(n_probe)]
        # probe_mask_list[cell_index][query_index] = query probes that cell
        mask = np.zeros((len(cv_list), len(q_vecs)), dtype=bool)
        mask[q_order, np.arange(len(q_vecs))[:, None]] = True
        probe_mask_list = mask.tolist()
    else:
        probe_mask_list = [[] for _ in cv_list]

    @F.pandas_udf("array<struct<query_id: long, cosine_sim: double>>")
    def _fused_hits(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        Q = np.asarray(q_vecs, dtype=np.float64)
        qids = np.asarray(q_ids, dtype=np.int64)
        qn = np.sqrt((Q * Q).sum(axis=1)) if len(Q) else np.zeros(0)
        C = np.asarray(cv_list, dtype=np.float64)
        mask = np.asarray(probe_mask_list, dtype=bool)
        M = np.stack(v.to_numpy()).astype(np.float64)
        d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cell_idx = np.argmin(d2, axis=1)
        cn = np.sqrt((M * M).sum(axis=1))
        if len(Q) == 0:
            return pd.Series([[] for _ in range(len(M))])
        dots = M @ Q.T  # (N, |Q|)
        denom = cn[:, None] * qn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, dots / denom, 0.0)
        allowed = mask[cell_idx]  # (N, |Q|)
        out = []
        for i in range(len(M)):
            js = np.nonzero(allowed[i])[0]
            out.append(
                [
                    {"query_id": int(qids[j]), "cosine_sim": float(cos[i, j])}
                    for j in js
                ]
            )
        return pd.Series(out)

    corp = ensure_min_partitions(corpus.select(id_col, vec_col)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    hits = corp.select(
        "neighbor_id", F.explode(_fused_hits("__cvec")).alias("h")
    ).select(
        F.col("h.query_id").alias("query_id"),
        "neighbor_id",
        F.col("h.cosine_sim").alias("cosine_sim"),
    )
    if exclude_self:
        hits = hits.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def label_centroids_long(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Long-form per-label centroid: one row per (label, pos) with the
    averaged component ``c`` and the label's ``n_vectors``. This is
    the distributed-native shape — the (label, pos) shuffle key gives
    D× the parallelism of a per-label reduce, and downstream consumers
    (IVF cell assignment, drift monitors) join on (label, pos) without
    ever materializing a driver-side array."""
    ex = df.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
    per = ex.groupBy(label_col, "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), round_to).alias("c")
    )
    counts = df.groupBy(label_col).agg(F.count("*").alias("n_vectors"))
    return per.join(F.broadcast(counts), label_col).select(
        label_col, F.col("pos").cast("long").alias("pos"), "c", "n_vectors"
    )


def _nearest_cell_col(vec_col: str, cent_pairs: list[tuple[int, list[float]]]) -> Column:
    """struct<cid, d2> of the nearest centroid for every row, as ONE
    Arrow-batched kernel: a (batch x K x D) float64 distance tensor per
    Arrow batch — the Faiss assignment shape — with argmin over
    cid-sorted centroids so distance ties break toward the lower cid
    (np.argmin returns the first minimum). The centroid table is a
    dimension-table-sized closure constant (K*D floats), exactly what
    broadcast would ship anyway, so the kernel is embarrassingly
    parallel at any corpus size."""
    pairs = sorted((int(c), [float(x) for x in v]) for c, v in cent_pairs)
    cid_list = [c for c, _ in pairs]
    cv_list = [v for _, v in pairs]

    @F.pandas_udf("struct<cid: long, d2: double>")
    def _assign(v):
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.DataFrame({"cid": [], "d2": []})
        C = np.asarray(cv_list, dtype=np.float64)
        ids = np.asarray(cid_list, dtype=np.int64)
        M = np.stack(v.to_numpy()).astype(np.float64)
        d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        best = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {"cid": ids[best], "d2": d2[np.arange(len(M)), best]}
        )

    return _assign(vec_col)


def kmeans_fit(
    corpus: DataFrame,
    init_pairs: list[tuple[int, list[float]]],
    n_iter: int = 2,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's iterations, Spark-native: each round is
    (1) one Arrow assignment pass against the current centroid
    literals, (2) a posexplode + groupBy(cid, pos) average — the same
    D-wide shuffle key as ``label_centroids_long``, so a hot cluster
    never pins a single reducer — and (3) a K*D-row collect of the new
    centroids (control plane: K*D is dimension-sized, the same table a
    broadcast join would ship). Centroids are rounded to ``round_to``
    decimals every update so the whole trajectory is reproducible
    across engines and summation orders; clusters that lose all
    members drop out (standard Lloyd's on fixed data — deterministic,
    and any SQL mirror reproduces it by construction).

    This is the trainer behind ``ivf_topk``'s pluggable centroid
    table: at 100 TB each iteration is one map pass + one (cid, pos)
    shuffle of K*D cells, and the driver only ever holds K*D floats."""
    cent = sorted((int(c), [float(x) for x in v]) for c, v in init_pairs)
    for _ in range(int(n_iter)):
        assigned = corpus.select(
            _nearest_cell_col(vec_col, cent)["cid"].alias("cid"),
            F.col(vec_col).alias("__v"),
        )
        per = (
            assigned.select("cid", F.posexplode("__v").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), round_to).alias("c"))
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in per.collect():
            by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = float(r["c"])
        cent = [
            (cid, [comp[p] for p in range(len(comp))])
            for cid, comp in sorted(by_cid.items())
        ]
    return cent


def kmeans_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Final cluster assignment under a fixed centroid table:
    (id, cid, d2) with d2 rounded for cross-engine reproducibility.
    One map-only Arrow pass — no shuffle, no join."""
    a = _nearest_cell_col(vec_col, centroids)
    return corpus.select(
        F.col(id_col),
        a["cid"].alias("cid"),
        F.round(a["d2"], round_to).alias("d2"),
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style embedding-space deduplication (Abbas et al.
    2023, arXiv:2303.09540): cluster the corpus with a coarse centroid
    table, then look for near-duplicate pairs ONLY within a cluster —
    the cluster id turns the quadratic all-pairs scan into a
    per-cell equi-join, the same blowup-kill as MinHash banding but
    driven by embedding geometry instead of shingle hashes.

    Within each cell every (i < j) pair with cosine >= ``threshold``
    marks j as a duplicate of i; a duplicate row records its canonical
    (lowest-id) twin. Output is one row per vector:
    (id, cid, kept, canonical_id) — kept=false rows are the ones a
    training pipeline drops. Deterministic: ties and chains resolve by
    MIN id, no randomness.

    The per-cell pair scan is ONE normalized matmul per cell
    (applyInPandas grouped-map): the corpus crosses the Arrow boundary
    once — N*D floats, not N²/cells pair rows — and the cell's cosine
    matrix is a single BLAS call, the exact kernel shape the SemDeDup
    paper runs per cluster. The interpreted-HOF alternative (pair
    equi-join + zip_with cosine per pair) does K*(N/K)²*D lambda ops
    and loses by orders of magnitude at corpus scale.

    At 100 TB: assignment is the map-only Arrow pass above; the pair
    scan shuffles on cid so each cell lands on one worker; cell sizes
    are bounded by the centroid count chosen at train time (size K so
    cells fit a worker's matmul budget, and cap a runaway cell the
    same way ngram_jaccard_pairs_capped caps hot shingles)."""
    a = _nearest_cell_col(vec_col, centroids)
    assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__v"),
        a["cid"].alias("cid"),
    )
    thr = float(threshold)

    def _cell_dedup(key, pdf):
        # the whole verdict is decidable inside the cell, so emit the
        # final per-vector rows here — one Arrow stage total. A
        # pairs-then-join formulation re-references `assigned`, which
        # re-RUNS the Arrow assignment kernel per reference (measured
        # 0.67s vs 0.48s at sf0.1).
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        M = np.stack(pdf["__v"].to_numpy()[order]).astype(np.float64)
        n = np.sqrt((M * M).sum(axis=1))
        denom = n[:, None] * n[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (M @ M.T) / denom, 0.0)
        dup = np.triu(cos >= thr, k=1)  # dup[i, j]: i < j near-identical
        has_twin = dup.any(axis=0)
        first_i = dup.argmax(axis=0)  # first True = lowest id (sorted)
        canonical = pd.array(
            [int(ids[first_i[j]]) if has_twin[j] else None for j in range(len(ids))],
            dtype="Int64",
        )
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cid": np.full(len(ids), key[0], dtype=np.int64),
                "kept": ~has_twin,
                "canonical_id": canonical,
            }
        )

    return assigned.groupBy("cid").applyInPandas(
        _cell_dedup, "vec_id long, cid long, kept boolean, canonical_id long"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): train / encode / ADC probe
# ---------------------------------------------------------------------------


def _pq_codes_col(
    vec_col: str, books: list[list[list[float]]], round_to: int = 6
) -> Column:
    """Arrow kernel assigning every subspace's nearest codeword in ONE
    pass: the closure holds the m codebooks as plain nested lists
    (self-contained — no module globals, per the worker-pickling
    contract), each batch is packed into one (n, D) float64 matrix and
    each subspace argmin is a single vectorized distance computation.
    Ties break to the lowest code index (np.argmin), deterministic.
    Distances are rounded to ``round_to`` dp BEFORE the argmin so a
    near-tie between two codewords cannot flip cross-engine on
    summation order — the SQL twin (_sql_pq_assign) rounds its d2
    identically, making sub-resolution near-ties exact ties resolved
    by the same lowest-code rule on both engines. NULL vectors code to
    NULL (no executor-side crash; downstream ADC/posexplode skips them
    like any null array — pq_adc_topk filters them out explicitly)."""
    import numpy as _np

    m = len(books)
    dsub = len(books[0][0])
    # converted ONCE at closure-build time — ndarrays pickle by value,
    # staying self-contained, and the per-Arrow-batch list→ndarray
    # conversion cost disappears
    books_np = [_np.asarray(b, dtype=_np.float64) for b in books]

    @F.pandas_udf("array<int>")
    def _codes(vs):
        import numpy as np
        import pandas as pd

        vals = list(vs)
        live_idx = [i for i, v in enumerate(vals) if v is not None]
        out: list = [None] * len(vals)
        if live_idx:
            X = np.asarray(
                [np.asarray(vals[i], dtype=np.float64) for i in live_idx]
            )
            codes = np.empty((X.shape[0], m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d = ((Xs[:, None, :] - books_np[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = np.round(d, round_to).argmin(1)
            for row_i, i in enumerate(live_idx):
                out[i] = codes[row_i].tolist()
        return pd.Series(out)

    return _codes(F.col(vec_col))


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split the D-dim space into
    ``m`` subspaces and run deterministic per-subspace Lloyd's — the
    standard ANN compression layer (Jégou et al.'s PQ), trained with
    the same Spark shapes as :func:`kmeans_fit`:

    - initialization: the sub-vectors of the first ``k`` vectors by id
      (deterministic, like the first-k IVF centroid table);
    - each iteration: ONE Arrow assignment pass codes every subspace
      simultaneously, then ONE posexplode + groupBy(subspace, code,
      component) average updates all m·k·(D/m) codebook cells in a
      single D-wide-keyed shuffle (hot codes never pin a reducer);
    - the driver holds only the m·k·(D/m) = D·k codebook floats
      (control plane), rounded to ``round_to`` each update so the
      trajectory is reproducible across engines and summation orders;
    - a codeword that loses all members keeps its previous value
      (codes must stay dense 0..k-1 — unlike ``kmeans_fit``'s drop).

    Returns ``books[s][c] = list of D/m floats``. At 100 TB each
    iteration is one map pass + one (s, code, j) shuffle of D·k cells."""
    init_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in corpus.select(id_col, vec_col).filter(F.col(id_col) < k).collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"need {k} init vectors with {id_col} < {k}")
    D = len(init_rows[0][1])
    if D % m:
        raise ValueError(f"dim {D} not divisible by m={m}")
    dsub = D // m
    books = [
        [init_rows[c][1][s * dsub : (s + 1) * dsub] for c in range(k)]
        for s in range(m)
    ]
    for _ in range(int(n_iter)):
        coded = corpus.select(
            _pq_codes_col(vec_col, books).alias("__codes"),
            F.col(vec_col).alias("__v"),
        )
        cells = (
            coded.select("__codes", F.posexplode("__v").alias("pos", "x"))
            .select(
                (F.col("pos") / dsub).cast("int").alias("s"),
                (F.col("pos") % dsub).alias("j"),
                F.element_at("__codes", (F.col("pos") / dsub).cast("int") + 1).alias(
                    "code"
                ),
                F.col("x").cast("double").alias("x"),
            )
            .groupBy("s", "code", "j")
            .agg(F.round(F.avg("x"), round_to).alias("c"))
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in cells.collect():
            got.setdefault((int(r["s"]), int(r["code"])), {})[int(r["j"])] = float(
                r["c"]
            )
        books = [
            [
                [got[(s, c)][j] for j in range(dsub)] if (s, c) in got else books[s][c]
                for c in range(k)
            ]
            for s in range(m)
        ]
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress every vector to its m nearest-codeword indices — one
    map-only Arrow pass, no shuffle. 64 float32 components at m=8
    become 8 small ints: the ~32x footprint drop that lets a 100 TB
    embedding corpus's codes live in memory while the float vectors
    stay on disk for the exact re-rank tier."""
    return corpus.select(
        F.col(id_col), _pq_codes_col(vec_col, books).alias("codes")
    )


def pq_adc_topk(
    codes_df: DataFrame,
    books: list[list[list[float]]],
    query_rows: list[tuple[int, list[float]]],
    k_top: int = 10,
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a
    lookup table of m·k partial squared distances (query sub-vector vs
    every codeword — computed driver-side, it is codebook-sized) turns
    each corpus distance into m table lookups + a sum, evaluated in
    one Arrow pass over the CODES alone — the float vectors are never
    read. Exactness property (pinned by the unit test): the ADC
    distance equals the true squared distance between the query and
    the code-reconstructed vector. Output: (query_id, rank, vec_id,
    adc_d2), rank windows partitioned per query like cosine_topk."""
    if not query_rows:
        raise ValueError("pq_adc_topk needs at least one query vector")
    m = len(books)
    luts = []  # per query: m x k partials
    qids = []
    for qid, qv in sorted((int(q), [float(x) for x in v]) for q, v in query_rows):
        dsub = len(books[0][0])
        lut = [
            [
                sum((qv[s * dsub + j] - books[s][c][j]) ** 2 for j in range(dsub))
                for c in range(len(books[s]))
            ]
            for s in range(m)
        ]
        luts.append(lut)
        qids.append(qid)

    @F.pandas_udf("array<double>")
    def _adc(codes):
        import numpy as np
        import pandas as pd

        L = np.asarray(luts, dtype=np.float64)  # (q, m, k)
        # NULL codes (pq_encode's output for NULL vectors) emit NULL
        # distance arrays — the kernel must be null-safe itself
        # because Spark collapses chained pandas UDFs (_codes -> _adc)
        # into one ArrowEval node, so an isNotNull filter between them
        # cannot protect this closure
        vals = list(codes)
        live = [i for i, c in enumerate(vals) if c is not None]
        out: list = [None] * len(vals)
        if live:
            C = np.asarray([np.asarray(vals[i], dtype=np.int64) for i in live])
            # gather: for each query q, sum_s L[q, s, C[:, s]]
            n = C.shape[0]
            d = np.zeros((n, L.shape[0]), dtype=np.float64)
            for s in range(L.shape[1]):
                d += L[:, s, :][:, C[:, s]].T  # (n, q)
            for row_i, i in enumerate(live):
                out[i] = d[row_i].tolist()
        return pd.Series(out)

    qid_map = F.array(*[F.lit(int(q)) for q in qids])
    # NULL codes rows (pq_encode's output for NULL vectors) yield NULL
    # distance arrays from _adc, which posexplode then skips — they
    # never reach the ranking window
    exploded = (
        codes_df.select(id_col, _adc(F.col("codes")).alias("__d"))
        .select(id_col, F.posexplode("__d").alias("qpos", "adc_d2"))
        .select(
            F.element_at(qid_map, F.col("qpos") + 1).alias("query_id"),
            F.col(id_col),
            F.round("adc_d2", round_to).alias("adc_d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc(id_col)
    )
    return (
        exploded.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_top)
        .select("query_id", "rank", id_col, "adc_d2")
    )


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Distributed Gram matrix X'X over an embedding column — the
    building block of PCA / covariance / whitening at corpus scale
    (the reference has no linear-algebra surface; this is the
    LLM-pipeline extension the embeddings table exists for).

    Embeddings are first quantized to integers q = floor(x * scale)
    so every partial sum is EXACT int64 arithmetic — floor (not
    round) because floor of an identical double is deterministic on
    any engine, with no half-way tie semantics to align. Each Arrow
    batch computes its full dim×dim partial Gram with one BLAS
    matmul and emits dim*(dim+1)/2 upper-triangle rows; a final
    groupBy(i, j) sums the partials.

    100 TB shape: the shuffle volume is n_batches × dim² ROWS —
    independent of the corpus row count — and the reduce side is
    dim²-bounded. This is the canonical map-side-matmul/reduce-sum
    covariance; the N×dim data never shuffles at all. Overflow
    headroom: |q| ≤ scale, so each partial entry is ≤ batch_rows ×
    scale², and the global sum fits int64 up to ~9e12 corpus rows at
    scale=1000.

    The worker closure is fully self-contained (numpy/pandas only,
    no package imports) per the driver-contract rule: executors may
    not have this repo on PYTHONPATH."""
    d, sc = int(dim), int(scale)

    def op(batches):
        import numpy as _np
        import pandas as _pd

        iu = _np.triu_indices(d)
        for pdf in batches:
            vecs = [v for v in pdf[vec_col] if v is not None and len(v) == d]
            if not vecs:
                continue
            q = _np.floor(
                _np.asarray(vecs, dtype=_np.float64) * sc
            ).astype(_np.int64)
            g = q.T @ q  # exact: int64 matmul
            yield _pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int32"),
                    "j": (iu[1] + 1).astype("int32"),
                    "partial": g[iu],
                }
            )

    part = df.select(vec_col).mapInPandas(op, "i int, j int, partial long")
    return part.groupBy("i", "j").agg(F.sum("partial").alias("g"))


def pca_top_component_from_rows(
    spark,
    rows,
    dim: int = 64,
    n_iter: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top principal axis by DETERMINISTIC power iteration over an
    already-COLLECTED Gram upper triangle (list of (i, j, g) rows, see
    gram_matrix) — the eigen step of distributed PCA: the corpus-sized
    work is already reduced to dim² rows, so the iteration is
    dimension-sized driver control plane, the same contract as IVF's
    k-means centroids. Pure driver arithmetic + a literal result
    relation: runs zero Spark jobs, which is what makes the
    per-session Gram row cache deliver its 'distributed job paid
    once' contract.

    Determinism spec (so a SQL oracle can replay it literally): start
    from the all-ones vector; each step computes w = G·v in float64,
    max-normalizes (divide by max|w| — no sqrt, so no libm variance),
    and ROUNDS each component to ``round_to`` dp half-away-from-zero
    before the next multiply. The rounding quantizes away the last-bit
    noise of differing summation orders, which is what makes the
    loadings hash-comparable cross-engine. n_iter is part of the spec,
    not a convergence knob."""
    import numpy as np

    d = int(dim)
    G = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        G[r["i"] - 1, r["j"] - 1] = r["g"]
        G[r["j"] - 1, r["i"] - 1] = r["g"]

    def rnd(x):
        # half-away-from-zero at round_to dp (SQL ROUND semantics;
        # numpy.round is banker's and would diverge on exact halves)
        q = 10.0**round_to
        return np.sign(x) * np.floor(np.abs(x) * q + 0.5) / q

    w = G.sum(axis=1)  # G @ ones
    for _ in range(n_iter - 1):
        v = rnd(w / np.abs(w).max())
        w = G @ v
    loading = rnd(w / np.abs(w).max())
    return _literal_rows_df(
        spark,
        [{"i": i + 1, "loading": float(loading[i])} for i in range(d)],
        "i: int, loading: double",
    )
