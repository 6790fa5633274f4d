"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k. The scoring loop is a vectorized
Arrow ``mapInPandas`` kernel: the (small) query set is collected once,
L2-normalized into a numpy matrix, and each corpus batch is scored with
one BLAS GEMM (C_norm @ Q_norm.T) — thousands of dot products per
matrix multiply, zero per-row Python. Each batch emits only its local
top-k candidates per query (map-side partial top-k, the same trick as
partial aggregation), so the final exact top-k window touches
``#batches x q x k`` rows, not ``n x q``.

Scale path: LSH sign-bucketing — corpus and queries are hashed to a
bucket key, the join is an equi-join on the bucket, and only
same-bucket pairs are scored. This is the shape that survives a
10^9-vector corpus; the brute-force GEMM is the per-bucket inner loop.

Plain Column-expression dot/norm helpers are kept for small/ad-hoc use
and for oracle-equivalent SQL forms, but the hot paths all go through
the GEMM kernel: interpreted higher-order-function lambdas cost ~100x
a BLAS inner product at d=64+.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import pin_partitions


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str):
    """Collect + L2-normalize the query side (assumed small: it is the
    probe set, not the corpus)."""
    pdf = queries.select(id_col, vec_col).toPandas()
    q_ids = pdf[id_col].to_numpy()
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    return q_ids, Qn


def _topk_candidates(corpus: DataFrame, q_ids, Qn, k: int,
                     id_col: str, vec_col: str) -> DataFrame:
    """mapInPandas GEMM scorer emitting per-batch top-k per query."""
    spark = corpus.sparkSession
    bcast = spark.sparkContext.broadcast((q_ids, Qn))

    def score(batches):
        ids, Qm = bcast.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            Cn = C / np.maximum(
                np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            S = Cn @ Qm.T                      # (batch, q) all cosines
            n_ids = pdf[id_col].to_numpy()
            # self-match exclusion by id
            for qi, qid in enumerate(ids):
                col = S[:, qi]
                mask = n_ids != qid
                cand_idx = np.flatnonzero(mask)
                if cand_idx.size == 0:
                    continue
                take = min(k, cand_idx.size)
                # partial top-k inside the batch (argpartition = O(n))
                part = cand_idx[np.argpartition(-col[cand_idx], take - 1)[:take]]
                yield pd.DataFrame({
                    "query_id": np.repeat(qid, take),
                    "neighbor_id": n_ids[part],
                    "cos_raw": col[part],
                })

    id_type = dict(corpus.dtypes)[id_col]
    return corpus.select(id_col, vec_col).mapInPandas(
        score,
        schema=f"query_id {id_type}, neighbor_id {id_type}, cos_raw double")


def _make_pair_cos_udf():
    """Row-aligned exact cosine over two vector columns (Arrow-batched;
    used by the rescoring joins). Factory form: decorating at import
    time needs an active session for the return-type parse."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def pair_cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in cv])
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / np.maximum(den, 1e-300))

    return pair_cos


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query.

    Output: (query_id, neighbor_id, rank, cos). Self-matches excluded.
    Plan: corpus scan -> GEMM batch scorer (map-side partial top-k) ->
    one small shuffle on query_id -> final exact top-k window. The only
    shuffled data is #batches x q x k candidate rows.
    """
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)
    cands = _topk_candidates(corpus, q_ids, Qn, k, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cos_raw", 6).alias("cos"))
    )


def _sign_pack_expr(vec_col: str) -> Column:
    """Sign-bit packing: 64 dimensions per long word, bit j of word w
    set iff ``vec[64w+j] > 0``. Pure Column expr — packing happens at
    scan time inside codegen, no Python."""
    return F.expr(
        f"transform(sequence(0, int((size({vec_col}) - 1) / 64)), "
        f"w -> aggregate(sequence(0, 63), 0L, (acc, j) -> "
        f"CASE WHEN 64 * w + j < size({vec_col}) "
        f"AND {vec_col}[64 * w + j] > 0 "
        f"THEN acc + shiftleft(1L, j) ELSE acc END))")


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    candidates: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-bit binary-quantized ANN: sign-bit pack every vector (64
    dims/long → 32x smaller than float32), shortlist the ``candidates``
    nearest per query by Hamming distance (``bit_count(xor)`` — pure
    whole-stage codegen, no float math, no Python), then exact-cosine
    rescore ONLY the shortlist. Output (query_id, neighbor_id, rank,
    cos) like :func:`cosine_topk`.

    Determinism: both stages break ties by ``neighbor_id`` asc, so the
    shortlist SET (not just the final ranking) is reproducible — the
    oracle mirrors the exact two-stage semantics.

    Scale shape: the packed corpus scan streams d/64 longs per row;
    per-partition partial top-C (``array_sort``+``slice`` of
    per-partition structs) bounds the only shuffle to #partitions x
    #queries x C tiny rows; the rescore joins the broadcast shortlist
    back into the corpus scan, so float vectors never shuffle. The
    partial top-C is NOT memory-bounded: its ``collect_list`` buffers
    every (hamming, id) struct of a (partition, query) group before the
    slice, so task memory grows with partition rows x queries — keep
    corpus partitions small for large query sets. The Hamming stage is
    the standard binary-quantization prefilter (a Faiss
    ``IndexBinaryFlat`` shaped relationally); recall is tuned by
    ``candidates``.
    """
    qp = (queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _sign_pack_expr(vec_col).alias("_qbits")))
    packed = corpus.select(id_col, _sign_pack_expr(vec_col).alias("_bits"))
    scored = (
        packed.crossJoin(F.broadcast(qp.select("query_id", "_qbits")))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"),
            F.expr("aggregate(zip_with(_bits, _qbits, "
                   "(x, y) -> bit_count(x ^ y)), 0, (a, b) -> a + b)")
            .alias("hamming")))
    # per-partition partial top-C (bounds the shuffle, not the
    # collect_list buffer), then global top-C
    part = (scored
            .groupBy(F.spark_partition_id().alias("_p"), "query_id")
            .agg(F.slice(F.array_sort(F.collect_list(
                F.struct("hamming", "neighbor_id"))), 1, candidates)
                .alias("_top")))
    pooled = (part.select("query_id", F.explode("_top").alias("t"))
              .select("query_id", F.col("t.hamming").alias("hamming"),
                      F.col("t.neighbor_id").alias("neighbor_id")))
    wh = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc())
    shortlist = (pooled.withColumn("_hr", F.row_number().over(wh))
                 .filter(F.col("_hr") <= candidates)
                 .select("query_id", "neighbor_id"))
    # exact rescore on the shortlist only: broadcast it INTO the corpus
    # scan, broadcast the (query-set-sized) float query vectors
    dot = ("aggregate(zip_with(_v, _qv, (x, y) -> "
           "cast(x as double) * cast(y as double)), 0D, (a, b) -> a + b)")
    rescored = (
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_v"))
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qp.select("query_id", "_qv")), "query_id")
        .withColumn("_cos", F.expr(
            f"({dot}) / (sqrt(aggregate(transform(_v, x -> "
            f"cast(x as double) * cast(x as double)), 0D, (a, b) -> a + b)) "
            f"* sqrt(aggregate(transform(_qv, x -> "
            f"cast(x as double) * cast(x as double)), 0D, (a, b) -> a + b)))")))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id").asc())
    return (rescored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("_cos", 6).alias("cos")))


def embedding_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label dimension-wise mean vector, in long
    ``(label, dim, centroid)`` form — the centroid-update step of a
    distributed k-means / IVF retrain, and the class-prototype table
    for embedding-space analyses.

    ``posexplode`` + hash aggregate: map-side partial sums shrink the
    shuffle to ``#labels x dim`` partials per input partition no matter
    the corpus size — 10^9 vectors shuffle the same few thousand rows
    per task. Long form keeps it relational (and exactly
    oracle-checkable); re-assemble a vector column downstream with
    ``array_agg`` ordered by dim when one is needed.
    """
    ex = embeddings.select(
        label_col, F.posexplode(F.col(vec_col)).alias("dim", "val"))
    return ex.groupBy(label_col, "dim").agg(
        F.round(F.avg("val"), 6).alias("centroid"))


def embedding_all_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_target: int = 4096,
    n_blocks: int | None = None,
) -> DataFrame:
    """All-pairs cosine >= threshold via a DISTRIBUTED block x block
    self-join: vectors hash into B blocks, every (b1 <= b2) block pair
    cogroups into one task, and each task scores its two blocks with a
    single GEMM, emitting only above-threshold (id1 < id2) pairs.

    Exact — the oracle-checkable baseline. Nothing corpus-sized ever
    reaches the driver (the round-1 version collected the full matrix
    driver-side, which caps at driver memory; this shape replicates each
    vector B times through one shuffle instead, the standard blocked
    all-pairs cost). At 10^9 vectors the LSH bucket join
    (``lsh_bucket_topk``) is still the real scale path — B grows as
    n/block_target, so replication is O(n^2/block_target) work no matter
    how it is partitioned; that is inherent to exact all-pairs.
    """
    spark = embeddings.sparkSession
    if n_blocks is None:
        n = embeddings.count()
        n_blocks = max(1, -(-n // block_target))
    pair_rows = [(b1, b2) for b1 in range(n_blocks)
                 for b2 in range(b1, n_blocks)]
    def side(join_key: str, tag: int):
        # each vector fans out to every block pair touching its block;
        # the side tag says which half of the GEMM it lands in. A union
        # + single grouping avoids a self-cogroup (and its analyzer
        # ambiguity) — one shuffle on (b1, b2).
        pairs = spark.createDataFrame(pair_rows, "b1 int, b2 int")
        blocked = embeddings.select(
            id_col, vec_col,
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
            .cast("int").alias("_b"))
        return (blocked.join(F.broadcast(pairs),
                             F.col("_b") == F.col(join_key))
                .select("b1", "b2", id_col, vec_col,
                        F.lit(tag).alias("_side")))

    # CPU-bound GEMM kernel shuffle: pin the partition count or AQE's
    # byte-based coalescer can serialize the stage (CLAUDE.md invariant)
    both = pin_partitions(side("b1", 0).unionByName(side("b2", 1)),
                          "b1", "b2")

    def score(key, pdf):
        cols = ["id1", "id2", "cos_raw"]
        lpdf = pdf[pdf["_side"] == 0]
        rpdf = pdf[pdf["_side"] == 1]
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(columns=cols)
        A = np.stack([np.asarray(v, dtype=np.float64) for v in lpdf[vec_col]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in rpdf[vec_col]])
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
        S = An @ Bn.T
        l_ids = lpdf[id_col].to_numpy()
        r_ids = rpdf[id_col].to_numpy()
        if key[0] == key[1]:
            # same block on both sides: each unordered pair appears
            # twice in S — keep the l < r orientation only
            mask = (S >= threshold) & (l_ids[:, None] < r_ids[None, :])
        else:
            # distinct blocks: each unordered pair appears exactly once;
            # orient by id below
            mask = (S >= threshold) & (l_ids[:, None] != r_ids[None, :])
        rows_i, cols_j = np.nonzero(mask)
        a, b = l_ids[rows_i], r_ids[cols_j]
        return pd.DataFrame({
            "id1": np.minimum(a, b), "id2": np.maximum(a, b),
            "cos_raw": S[rows_i, cols_j]})

    id_type = dict(embeddings.dtypes)[id_col]
    out = both.groupBy("b1", "b2").applyInPandas(
        score, schema=f"id1 {id_type}, id2 {id_type}, cos_raw double")
    return out.select("id1", "id2", F.round("cos_raw", 6).alias("cos"))


def _kmeans(X: np.ndarray, k: int, iterations: int = 10,
            seed: int = 0) -> np.ndarray:
    """Seeded Lloyd's k-means on a driver-side sample — the IVF coarse
    quantizer. Sample-sized (not corpus-sized), so driver-local is the
    right place; the trained centroids broadcast to executors."""
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(X.shape[0], size=min(k, X.shape[0]),
                        replace=False)]
    for _ in range(iterations):
        assign = np.argmax(X @ cent.T, axis=1)   # cosine on normalized X
        for j in range(cent.shape[0]):
            members = X[assign == j]
            if members.shape[0]:
                c = members.mean(axis=0)
                cent[j] = c / max(np.linalg.norm(c), 1e-300)
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_size: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into cells; each query probes its ``n_probe``
    nearest cells and scores only those vectors exactly.

    The scale shape: centroids train on a driver-side sample, the cell
    assignment is one GEMM per Arrow batch, and the probe is an
    equi-join on cell_id — the corpus shuffles once by cell (or is
    written bucketed by cell and never shuffles again). Recall rises
    with n_probe; n_probe == n_centroids degenerates to brute force.
    """
    # deterministic sample: ordered top-N by id (TakeOrderedAndProject —
    # bounded shuffle), so the trained centroids are reproducible across
    # partitionings and by the single-node oracle
    samp = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_size).toPandas())
    S = np.stack([np.asarray(v, dtype=np.float64) for v in samp[vec_col]])
    Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-300)
    from .kernels import stable_seed
    cent = _kmeans(Sn, n_centroids, seed=stable_seed("ivf", n_centroids))

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(cent)

    def assign_cells(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            Mn = M / np.maximum(
                np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = np.argmax(Mn @ C.T, axis=1)
            yield out

    id_type = dict(corpus.dtypes)[id_col]
    vec_type = dict(corpus.dtypes)[vec_col]
    cells = corpus.select(id_col, vec_col).mapInPandas(
        assign_cells,
        schema=f"{id_col} {id_type}, {vec_col} {vec_type}, cell int"
    ).select(F.col(id_col).alias("neighbor_id"),
             F.col(vec_col).alias("cv"), "cell")

    q_pdf = queries.select(id_col, vec_col).toPandas()
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    probes = np.argsort(-(Qn @ cent.T), axis=1)[:, :n_probe]
    q = spark.createDataFrame(pd.DataFrame({
        "query_id": np.repeat(q_pdf[id_col].to_numpy(), n_probe),
        "qv": [list(map(float, v))
               for v in np.repeat(q_pdf[vec_col].to_numpy(), n_probe)],
        "cell": probes.reshape(-1),
    }))

    @F.pandas_udf("double")
    def pair_cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in cv])
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / np.maximum(den, 1e-300))

    scored = (
        cells.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", pair_cos(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("cos", 6).alias("cos"))
    )


def _plane_matrix(planes: int, dim: int) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (planes x dim), seeded from the
    plane index — no stored codebook, identical on every executor."""
    from .kernels import stable_seed

    rows = [np.random.default_rng(stable_seed("lsh-plane", p))
            .standard_normal(dim) for p in range(planes)]
    return np.stack(rows)


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: equi-join on a sign-LSH bucket, then exact
    cosine within bucket. 2^planes buckets; recall trades off with
    planes. The join is a plain hash join on the bucket key — this is
    the shape that survives a 10^9-vector corpus (bucket + shuffle),
    unlike a brute-force crossJoin.

    Bucket bits and cosines are both numpy kernels: sign(C @ P.T) packs
    into an int bucket per batch (one GEMM), and the per-bucket scoring
    is a vectorized pandas UDF over the joined pairs. Zero interpreted
    per-element expressions.
    """
    q_pdf = queries.select(id_col, vec_col).toPandas()
    dim = len(q_pdf[vec_col].iloc[0])
    P = _plane_matrix(planes, dim)
    weights = 1 << np.arange(planes)

    def bucket_of(M: np.ndarray) -> np.ndarray:
        return ((M @ P.T) > 0).astype(np.int64) @ weights

    spark = corpus.sparkSession
    bc_planes = spark.sparkContext.broadcast(P)

    def add_bucket(batches):
        Pm = bc_planes.value
        w = 1 << np.arange(Pm.shape[0])
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            out = pdf[[id_col, vec_col]].copy()
            out["bucket"] = ((M @ Pm.T) > 0).astype(np.int64) @ w
            yield out

    id_type = dict(corpus.dtypes)[id_col]
    vec_type = dict(corpus.dtypes)[vec_col]
    c = corpus.select(id_col, vec_col).mapInPandas(
        add_bucket,
        schema=f"{id_col} {id_type}, {vec_col} {vec_type}, bucket long"
    ).select(F.col(id_col).alias("neighbor_id"),
             F.col(vec_col).alias("cv"), "bucket")

    Q = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    q_buckets = bucket_of(Q)
    q = spark.createDataFrame(
        pd.DataFrame({
            "query_id": q_pdf[id_col],
            "qv": [list(map(float, v)) for v in q_pdf[vec_col]],
            "bucket": q_buckets,
        }))

    @F.pandas_udf("double")
    def pair_cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in cv])
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / np.maximum(den, 1e-300))

    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", pair_cos(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def embedding_kmeans(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed spherical k-means over the FULL corpus (unlike the
    IVF coarse quantizer, which trains on a driver-side sample): the
    unsupervised twin of ``embedding_centroids``, used for corpus
    bucketing / topic discovery / curation-mix balancing.

    Per Lloyd iteration the corpus never moves: a broadcast k x d
    centroid matrix rides to each Arrow batch, the batch assigns with
    one GEMM and emits only its k x d partial sums + per-cluster counts
    (map-side combine in pandas); one tiny groupBy((cluster, dim))
    shuffle of #batches x k x d partial rows rebuilds the centroids on
    the driver — the only driver-held state is the k x d matrix itself.
    Empty clusters keep their previous centroid. Initialization is the
    k lowest-id vectors (TakeOrderedAndProject — deterministic under
    any partitioning, reproducible by the single-node oracle).

    Returns one row per vector: (id, cluster, cos to its centroid
    rounded 4dp — coarse enough that the ~1e-13 cross-engine float
    drift of partial-sum ordering cannot flip it).
    """
    spark = embeddings.sparkSession
    id_type = dict(embeddings.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, cluster int, cos double"
    init = (embeddings.select(id_col, vec_col).orderBy(id_col)
            .limit(k).toPandas())
    if init.empty:
        return spark.createDataFrame([], out_schema)
    C = np.stack([np.asarray(v, dtype=np.float64) for v in init[vec_col]])
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    src = embeddings.select(id_col, vec_col)
    for _ in range(iterations):
        bc = spark.sparkContext.broadcast(C)

        def partials(batches):
            Ct = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.stack([np.asarray(v, dtype=np.float64)
                              for v in pdf[vec_col]])
                Mn = M / np.maximum(
                    np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
                assign = np.argmax(Mn @ Ct.T, axis=1)
                for j in np.unique(assign):
                    members = Mn[assign == j]
                    yield pd.DataFrame({
                        "cluster": int(j),
                        "pos": np.arange(Ct.shape[1]),
                        "s": members.sum(axis=0),
                        "cnt": members.shape[0],
                    })

        agg = (
            src.mapInPandas(
                partials,
                schema="cluster int, pos int, s double, cnt long")
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        newC = C.copy()
        counts = {}
        for r in agg:
            newC[r["cluster"], r["pos"]] = r["s"]
            counts[r["cluster"]] = r["cnt"]
        for j, cnt in counts.items():
            c = newC[j] / cnt
            n = np.linalg.norm(c)
            newC[j] = c / max(n, 1e-300) if n > 0 else C[j]
        C = newC
        bc.destroy()

    bc = spark.sparkContext.broadcast(C)

    def assign_final(batches):
        Ct = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            Mn = M / np.maximum(
                np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            S = Mn @ Ct.T
            a = np.argmax(S, axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "cluster": a.astype(np.int32),
                "cos": np.round(S[np.arange(S.shape[0]), a], 4),
            })

    return src.mapInPandas(assign_final, schema=out_schema)


def _kmeans_l2(X: np.ndarray, k: int, iterations: int = 10,
               seed: int = 0) -> np.ndarray:
    """Seeded Euclidean Lloyd's — the PQ sub-quantizer trainer (the
    cosine variant above is wrong for sub-vector codebooks: subspace
    chunks are not unit vectors)."""
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(X.shape[0], size=min(k, X.shape[0]),
                        replace=False)].copy()
    for _ in range(iterations):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for j in range(cent.shape[0]):
            members = X[assign == j]
            if members.shape[0]:
                cent[j] = members.mean(axis=0)
    return cent


def _pq_codebooks(Sn: np.ndarray, m: int, ksub: int) -> list[np.ndarray]:
    """Per-subspace codebooks from an L2-normalized training matrix.
    Contiguous dim chunks via np.array_split; seeds derive from the
    subspace index so executors and the single-node oracle train
    identical books."""
    from .kernels import stable_seed

    chunks = np.array_split(np.arange(Sn.shape[1]), m)
    return [
        _kmeans_l2(np.ascontiguousarray(Sn[:, ch]), ksub,
                   seed=stable_seed("pq", j))
        for j, ch in enumerate(chunks)
    ]


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 10_000,
    rescore_factor: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI'11): the corpus is
    compressed to ``m`` uint8-sized codes per vector and searched with
    asymmetric-distance lookup tables — the memory-bound scale path
    where even the raw float vectors no longer fit the cluster
    (d floats -> m bytes is a 32x shrink at d=64, m=8).

    Train: sub-codebooks on a driver-side id-ordered sample (bounded,
    deterministic — the IVF pattern). Encode: one mapInPandas pass,
    per-batch argmin GEMM per subspace; ONLY the (id, m-byte code) table
    shuffles/persists downstream, never the embeddings. Search: each
    query precomputes an m x ksub inner-product LUT; scoring a code is
    m gathers + a sum (no floats from the corpus touched), with
    map-side partial top-k per batch and an exact global top-k window
    over #batches x q x k candidate rows.

    Emits (query_id, neighbor_id, rank, score): ``score`` is the ADC
    approximation of the cosine (both sides L2-normalized before
    quantization), ties broken by neighbor_id.
    """
    spark = corpus.sparkSession
    samp = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_size).toPandas())
    S = np.stack([np.asarray(v, dtype=np.float64) for v in samp[vec_col]])
    Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-300)
    books = _pq_codebooks(Sn, m, ksub)
    chunks = np.array_split(np.arange(Sn.shape[1]), m)

    q_pdf = queries.select(id_col, vec_col).toPandas()
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    q_ids = q_pdf[id_col].to_numpy()
    # m x n_q x ksub inner-product tables: LUT[j][q][c] = <q_chunk, book_c>
    luts = [Qn[:, ch] @ books[j].T for j, ch in enumerate(chunks)]

    # the per-batch partial top-k must keep as many candidates as the
    # final consumer ranks: k plain, R*k when an exact rescore follows
    eff_k = max(1, int(rescore_factor)) * k if rescore_factor else k
    bc = spark.sparkContext.broadcast((books, chunks, luts, q_ids, eff_k))

    def score_batches(batches):
        bks, chs, lts, qids, kk = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            Mn = M / np.maximum(
                np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            n_ids = pdf[id_col].to_numpy()
            # encode: per subspace argmin ||x_j - c||^2
            scores = np.zeros((len(qids), Mn.shape[0]))
            for j, ch in enumerate(chs):
                Xj = Mn[:, ch]
                d2 = ((Xj[:, None, :] - bks[j][None, :, :]) ** 2).sum(axis=2)
                codes = np.argmin(d2, axis=1)
                scores += lts[j][:, codes]
            # map-side partial top-k per query within this batch
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                mask = n_ids != qids[qi]
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                s = scores[qi, idx]
                # ties by neighbor id asc — identical codes (near-dup
                # vectors) tie exactly, and the boundary cut must agree
                # with the global window's (score desc, id asc) order
                top = idx[np.lexsort((n_ids[idx], -s))[:kk]]
                out_q.append(np.repeat(qids[qi], top.size))
                out_n.append(n_ids[top])
                out_s.append(scores[qi, top])
            if not out_q:
                continue
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            })

    id_type = dict(corpus.dtypes)[id_col]
    cand = corpus.select(id_col, vec_col).mapInPandas(
        score_batches,
        schema=f"query_id {id_type}, neighbor_id {id_type}, score double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    if not rescore_factor:
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("score", 6).alias("score"))
        )
    # ADC shortlist -> exact rerank: keep rescore_factor*k candidates by
    # approximate score, fetch ONLY those vectors back by equi-join
    # (q x R rows, never the corpus), score exact cosine, take top-k.
    # The standard accuracy knob: recall approaches brute force as R
    # grows while the scan stays code-sized.
    shortlist = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(rescore_factor) * k)
        .select("query_id", "neighbor_id")
    )
    qdf = corpus.sparkSession.createDataFrame(
        pd.DataFrame({"query_id": q_pdf[id_col],
                      "qv": [list(map(float, v))
                             for v in q_pdf[vec_col]]}))
    rescored = (
        shortlist
        .join(corpus.select(F.col(id_col).alias("neighbor_id"),
                            F.col(vec_col).alias("cv")), "neighbor_id")
        .join(F.broadcast(qdf), "query_id")
        .withColumn("score", _make_pair_cos_udf()(F.col("qv"), F.col("cv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("score", 6).alias("score"))
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (Jégou et al., TPAMI'11 §V): the 10^9-vector standard —
    a coarse k-means quantizer restricts each query to ``n_probe``
    cells AND the in-cell vectors are PQ codes of the RESIDUAL
    (x - centroid), scored by ADC lookup tables. Combines ``ivf_topk``'s
    scan reduction with ``pq_topk``'s 32x memory shrink; residual
    encoding recovers most of the precision a flat PQ loses, because
    residuals concentrate near 0 where the sub-codebooks spend their
    levels.

    Scale shape: train driver-side on the bounded id-ordered sample
    (coarse centroids + residual sub-codebooks, all seeded/deterministic),
    then ONE corpus pass assigns cells, encodes residuals, and scores
    only rows inside probed cells with per-batch partial top-k — no
    float vector ever shuffles, candidates are #batches x q x k rows.
    ADC score = <q, centroid_cell> + sum_j LUT_j[code_j].
    """
    from .kernels import stable_seed

    spark = corpus.sparkSession
    samp = (corpus.select(id_col, vec_col).orderBy(id_col)
            .limit(sample_size).toPandas())
    S = np.stack([np.asarray(v, dtype=np.float64) for v in samp[vec_col]])
    Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-300)
    cent = _kmeans(Sn, n_centroids,
                   seed=stable_seed("ivfpq", n_centroids))
    resid_sample = Sn - cent[np.argmax(Sn @ cent.T, axis=1)]
    books = _pq_codebooks(resid_sample, m, ksub)
    chunks = np.array_split(np.arange(Sn.shape[1]), m)

    q_pdf = queries.select(id_col, vec_col).toPandas()
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in q_pdf[vec_col]])
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    q_ids = q_pdf[id_col].to_numpy()
    qcent = Qn @ cent.T                      # <q, centroid_c> constants
    probes = np.argsort(-qcent, axis=1)[:, :n_probe]
    luts = [Qn[:, ch] @ books[j].T for j, ch in enumerate(chunks)]
    bc = spark.sparkContext.broadcast(
        (cent, books, chunks, luts, qcent, probes, q_ids, k))

    def score_batches(batches):
        C, bks, chs, lts, qc, prb, qids, kk = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            Mn = M / np.maximum(
                np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
            n_ids = pdf[id_col].to_numpy()
            cell = np.argmax(Mn @ C.T, axis=1)
            resid = Mn - C[cell]
            codes = np.empty((len(chs), Mn.shape[0]), dtype=np.int64)
            for j, ch in enumerate(chs):
                Xj = resid[:, ch]
                d2 = ((Xj[:, None, :] - bks[j][None, :, :]) ** 2).sum(axis=2)
                codes[j] = np.argmin(d2, axis=1)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                mask = np.isin(cell, prb[qi]) & (n_ids != qids[qi])
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                s = qc[qi, cell[idx]].copy()
                for j in range(len(chs)):
                    s += lts[j][qi, codes[j, idx]]
                # ties by neighbor id asc, same cut rule as the final
                # global (score desc, id asc) window
                sel = np.lexsort((n_ids[idx], -s))[:kk]
                out_q.append(np.repeat(qids[qi], sel.size))
                out_n.append(n_ids[idx[sel]])
                out_s.append(s[sel])
            if not out_q:
                continue
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "score": np.concatenate(out_s),
            })

    id_type = dict(corpus.dtypes)[id_col]
    cand = corpus.select(id_col, vec_col).mapInPandas(
        score_batches,
        schema=f"query_id {id_type}, neighbor_id {id_type}, score double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("score", 6).alias("score"))
    )
