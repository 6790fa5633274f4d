"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious:

* exact        — md5-of-text hash groupBy (one shuffle on a 32-char key)
* minhash+LSH  — shingle -> md5 minhash signature -> band -> bucket
                 equi-join; candidate pairs only ever meet inside a
                 band bucket, never a cartesian
* simhash      — 16-bit sign-of-weighted-bits fingerprint; near-dups
                 collide on the exact fingerprint (cheap first pass)
* n-gram Jaccard — shared-shingle equi-join + count ratio; the join key
                 is the shingle so only docs sharing content meet

All are pure Column-expression / relational plans (no Python UDFs), so
at 100 TB they run entirely in Tungsten codegen, and every one has an
exactly-equivalent DuckDB oracle via the portable md5-based hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfns import ascii_words, hash60, shingles
from ..util import fan_out, pin_partitions


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Group identical texts; emit (keep_doc_id, n_dups, text_hash).

    keep_doc_id is min(doc_id) — the deterministic survivor.
    """
    return (
        documents.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


def doc_shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct — the base relation for minhash/jaccard.

    ``fan_out`` parallelizes the explode when the scan is under-split
    (single-row-group sandbox files); a no-op at warehouse scale."""
    return fan_out(documents).select(
        "doc_id",
        F.explode(shingles(ascii_words(F.col("text")), k)).alias("shingle"),
    ).distinct()


MINHASH_BASE_MOD = 1 << 45  # keep seed-mixed values inside BIGINT


def _minhash_wide(
    documents: DataFrame, num_hashes: int, shingle_k: int
) -> DataFrame:
    """(doc_id, m0..m{n-1}): every minhash in ONE scan + ONE hash agg.

    ONE md5 per (doc, shingle); the per-seed family is derived by a
    multiply-mod permutation ``(h * a_seed + b_seed) mod 2^45`` with
    odd multipliers — the md5 is the expensive part (at 100 TB it
    dominates the stage), so hashing once and permuting k times is
    ~k-fold cheaper than hashing k times. The mod wrap makes each
    seed's ordering independent (a monotone transform would collapse
    every seed's argmin onto the same shingle and degenerate the LSH
    family). Intermediates stay < 2^62: BIGINT-safe in both engines
    (DuckDB errors on signed overflow, so headroom matters for oracle
    parity).

    Plan shape (round 3, 2.4x on the headline bench): each seed is its
    own ``min`` aggregate in a single ``groupBy(doc_id)`` — no
    8x seed explode, no (doc, seed) shuffle, and NO shingle-distinct
    shuffle either, because duplicate shingles cannot change a min.
    The whole signature costs one exchange of doc-sized rows.
    """
    # overflow guard: the seed-mix h * ((2*seed+1)*12347) must stay
    # inside signed 64 bits for EVERY seed (h < 2^45, so the multiplier
    # must stay < 2^18). seed 9 -> a = 234_593 < 2^18; seed 10 would
    # wrap int64 in Spark (silent negatives, degenerate family) while
    # DuckDB errors on the overflow.
    if num_hashes > 10:
        raise ValueError(
            f"num_hashes={num_hashes} > 10 would overflow the int64 "
            "seed-mix; lower num_hashes or shrink MINHASH_BASE_MOD")
    sh = fan_out(documents).select(
        "doc_id",
        F.explode(shingles(ascii_words(F.col("text")), shingle_k))
        .alias("shingle"))
    hashed = sh.select(
        "doc_id",
        (hash60(F.col("shingle")) % F.lit(MINHASH_BASE_MOD)).alias("h"))
    # a_seed = (2*seed+1)*12347 (odd, < 2^18) -> h*a < 2^62; b = 7919*seed
    aggs = [
        F.min((F.col("h") * F.lit((2 * s + 1) * 12347)
               + F.lit(7919 * s)) % F.lit(MINHASH_BASE_MOD)).alias(f"m{s}")
        for s in range(num_hashes)]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 8, shingle_k: int = 3
) -> DataFrame:
    """(doc_id, seed, minhash): the long form of ``_minhash_wide``
    (same values, in-row inline — no extra exchange)."""
    wide = _minhash_wide(documents, num_hashes, shingle_k)
    entries = F.array(*[
        F.struct(F.lit(s).cast("int").alias("seed"),
                 F.col(f"m{s}").alias("minhash"))
        for s in range(num_hashes)])
    return wide.select("doc_id", F.inline(entries))


def band_signatures(
    documents: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc_id, band, band_sig): the LSH band-signature relation —
    the joinable (and PERSISTABLE) form of a document's near-dup
    identity. ``lsh_candidate_pairs`` self-joins it; the streaming
    history dedup stores it and probes new batches against it.

    Band signatures concatenate the wide columns in seed order — pure
    in-row work on top of ``_minhash_wide``'s single exchange (the old
    plan paid two more shuffles here: (doc, seed) min + (doc, band)
    collect_list)."""
    wide = _minhash_wide(documents, num_hashes, shingle_k)
    n_bands = -(-num_hashes // rows_per_band)
    entries = []
    for b in range(n_bands):
        seeds = range(b * rows_per_band,
                      min((b + 1) * rows_per_band, num_hashes))
        sig = F.concat_ws(
            ",", *[F.col(f"m{s}").cast("string") for s in seeds])
        entries.append(F.struct(F.lit(b).cast("int").alias("band"),
                                sig.alias("band_sig")))
    return wide.select("doc_id", F.inline(F.array(*entries)))


def lsh_candidate_pairs(
    documents: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup candidates: docs agreeing on all minhashes of some band.

    band signature = concat of the band's minhashes; a self-equi-join on
    (band, signature) produces candidates — the classic LSH bucket join.
    """
    bands = band_signatures(documents, num_hashes, rows_per_band, shingle_k)
    left = bands.select(
        F.col("doc_id").alias("doc1"), "band", "band_sig")
    right = bands.select(
        F.col("doc_id").alias("doc2"), "band", "band_sig")
    return (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): sign-aggregated bit fingerprint.

    words x bit-positions via a tiny exploded sequence; per (doc, bit)
    the weighted vote is sum(±count); the fingerprint folds bits back
    with sum(bit << pos). Two shuffles on (doc_id[, bit]) — both hash
    aggs with partial aggregation.
    """
    words = (
        documents.select(
            "doc_id", F.explode(ascii_words(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", hash60(F.col("word")))
    )
    votes = (
        words.withColumn("bit", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))))
        .withColumn(
            "vote",
            F.when(
                F.expr("(h >> bit) & 1") == 1, F.col("cnt")
            ).otherwise(-F.col("cnt")),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(1L, bit)")).otherwise(0)
        ).alias("simhash")
    )


def simhash_dup_groups(documents: DataFrame, bits: int = 16) -> DataFrame:
    """Docs sharing an identical simhash fingerprint (near-dup buckets)."""
    s = simhash(documents, bits)
    return (
        s.groupBy("simhash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_candidate_pairs(
    documents: DataFrame,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """(doc1, doc2, hamming): near-dup pairs within ``max_hamming`` bits
    of simhash distance, found by banded bucketing.

    Split the fingerprint into ``bands`` equal bit-slices and equi-join
    on (band index, band value): by pigeonhole, any pair within
    ``max_hamming < bands`` differing bits agrees on at least one whole
    band, so the banding is EXACT for the hamming predicate — not a
    recall/precision trade like MinHash-LSH. False candidates are
    discarded by one codegen'd ``bit_count(xor)`` filter after the
    join. The join emits, per band, the sum over its buckets of
    (bucket size)²; a band has only 2^(bits/bands) buckets (16 at the
    defaults), so on spread fingerprints that is about n²/16 rows per
    band: the candidate join grows quadratically in n.
    """
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    if max_hamming >= bands:
        raise ValueError(
            "max_hamming must be < bands for the pigeonhole guarantee")
    width = bits // bands
    mask = (1 << width) - 1
    banded = simhash(documents, bits).select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"(simhash >> (band * {width})) & {mask}"),
    )
    left = banded.select(F.col("doc_id").alias("doc1"),
                         F.col("simhash").alias("s1"), "band", "band_val")
    right = banded.select(F.col("doc_id").alias("doc2"),
                          F.col("simhash").alias("s2"), "band", "band_val")
    return (
        left.join(right, ["band", "band_val"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2",
                F.expr("bit_count(s1 ^ s2)").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame, shingle_k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """(doc1, doc2, jaccard) for pairs above threshold.

    Docs only meet through a shared shingle (equi-join on the shingle),
    so complexity is bounded by real content overlap, not n². Shingle
    sizes come from one pre-agg; jaccard = common / (n1 + n2 - common).
    """
    sh = doc_shingles(documents, shingle_k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc1"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc2"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_sh").alias("n2"))
    return (
        common.join(s1, "doc1").join(s2, "doc2")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))
    )


def contamination_overlap(
    documents: DataFrame, eval_docs: DataFrame, k: int = 3,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark-decontamination sweep: per training doc, the fraction
    of its distinct k-word shingles that also occur anywhere in an
    evaluation corpus (the standard n-gram-overlap contamination check
    run before training on web-scraped text).

    Emits (doc_id, n_shingles, n_contaminated, contaminated_frac); the
    caller thresholds contaminated_frac to drop or audit docs.

    Scale shape: the eval side collapses to a DISTINCT shingle set —
    benchmark suites are tiny next to a 100 TB training corpus, so it is
    broadcast by default (one map-side hash probe per training shingle,
    no shuffle of the corpus). Pass ``broadcast_eval=False`` to fall
    back to a shuffle equi-join when the eval side is itself large.
    One doc_id hash agg with map-side partials finishes the job.
    """
    train_sh = doc_shingles(documents, k)
    eval_sh = (
        doc_shingles(eval_docs, k).select("shingle").distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        eval_sh = F.broadcast(eval_sh)
    hit = F.coalesce(F.col("_hit"), F.lit(0))
    return (
        train_sh.join(eval_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(hit).alias("n_contaminated"),
            F.round(F.sum(hit) / F.count("*"), 6).alias("contaminated_frac"),
        )
    )


def embedding_near_dups(
    embeddings: DataFrame, threshold: float = 0.95, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs).

    Delegates to the distributed block x block GEMM self-join
    (similarity.embedding_all_pairs): vectors hash into blocks, every
    block pair scores in one task, nothing corpus-sized touches the
    driver. Exact all-pairs is inherently O(n^2/block) work; for a
    10^9-vector corpus use the LSH candidate path
    (similarity.lsh_bucket_topk) and rescore candidates exactly.
    """
    from .similarity import embedding_all_pairs

    return embedding_all_pairs(embeddings, threshold, id_col, vec_col)


def dedup_keep_first(documents: DataFrame, pair_df: DataFrame) -> DataFrame:
    """Resolve candidate pairs into a kept-set: drop every doc that has a
    smaller-id duplicate partner (deterministic survivor rule)."""
    losers = pair_df.select(F.col("doc2").alias("doc_id")).distinct()
    return documents.join(losers, "doc_id", "left_anti")


def connected_components(
    pairs: DataFrame,
    col1: str = "doc1",
    col2: str = "doc2",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, cluster_id): each node labeled with the smallest id
    reachable through the pair graph — duplicate CLUSTER assignment.

    Candidate near-dup pairs (LSH / Jaccard / embedding) form a graph
    whose connected components are the duplicate clusters; a training
    pipeline keeps one representative per cluster (``cluster_id ==
    node``) and drops the rest. ``dedup_keep_first`` resolves only
    direct pairs — A~B, B~C keeps C; this resolves transitively.

    Algorithm: min-label propagation (hash-to-min). Every round each
    node takes the min of its own label and its neighbors' labels —
    one shuffle join + one hash agg per round, fully distributed; the
    driver only orchestrates (a convergence count per round, mirroring
    the reference's driver-side EM loop, EmAlgo.java:207-239). Rounds
    needed = the graph diameter; duplicate clusters are shallow (docs
    chained through pairwise similarity), so the cap is generous —
    but a non-converged result MISLABELS clusters, so hitting the cap
    raises instead of returning silently.

    Scale shape: edges are symmetrized once and persisted (2|E| rows);
    each round shuffles |E| + |V| rows on the node key. A pathological
    long-chain graph wants the O(log n) alternating-star algorithm;
    for dedup graphs (diameter ~ a few) hash-to-min is fewer shuffles.
    """
    e_fwd = pairs.select(F.col(col1).alias("src"), F.col(col2).alias("dst"))
    edges = (
        e_fwd.union(e_fwd.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
        .distinct().persist()
    )
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("cluster_id", F.col("node")))
    prev = None
    for _ in range(max_iterations):
        nbr = (
            edges.join(
                labels.withColumnRenamed("node", "dst")
                .withColumnRenamed("cluster_id", "dst_label"),
                "dst")
            .groupBy("src").agg(F.min("dst_label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        stepped = (
            labels.join(nbr, "node", "left")
            .select("node", F.col("cluster_id").alias("_old"),
                    F.least(F.col("cluster_id"),
                            F.coalesce("nbr_label", "cluster_id"))
                    .alias("cluster_id"))
            .persist()
        )
        changed = stepped.filter(F.col("cluster_id") != F.col("_old")).count()
        if prev is not None:
            prev.unpersist()
        prev = stepped
        labels = stepped.select("node", "cluster_id")
        if changed == 0:
            edges.unpersist()
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds "
        "(graph diameter exceeds the cap); raise max_iterations or use an "
        "alternating-star formulation for long-chain graphs")


def dedup_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, is_representative) over the WHOLE corpus:
    transitive duplicate-cluster assignment from candidate pairs, with
    singleton docs as their own cluster. The kept-set of a dedup pass
    is ``is_representative == 1`` (exactly one doc per cluster —
    deterministic: the smallest id under the id column's ordering)."""
    cc = connected_components(pairs)
    return (
        documents.select("doc_id")
        .join(cc, documents["doc_id"] == cc["node"], "left")
        .select("doc_id",
                F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
        .withColumn(
            "is_representative",
            (F.col("cluster_id") == F.col("doc_id")).cast("int"))
    )


def duplicate_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplication audit: per document, how many tokens
    sit inside a length-``n`` word n-gram that also appears in at least
    ``min_docs`` distinct documents — the distributed relational
    substitute for the suffix-array exact-substring dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"
    (ACL'22). Doc-level MinHash misses partially-copied boilerplate;
    this finds it at token granularity.

    Emits (doc_id, n_tokens, dup_grams, dup_tokens, dup_fraction) for
    EVERY document (zeros when clean): ``dup_tokens`` counts distinct
    token positions covered by any cross-doc duplicated gram (maximal
    overlapping spans merge by construction), so ``dup_fraction`` is
    the exact fraction of the doc a span-level dedup pass would cut.

    Scale shape: grams carry ONE portable 60-bit md5 hash (the string
    never shuffles); doc-frequency is one hash agg with map-side
    partials; duplicated grams equi-join back on the hash (only docs
    sharing content meet — no pair blow-up); coverage is a bounded
    ``n``-row explode per duplicated gram followed by one doc_id agg.
    Every exchange is bounded by total token count, never doc-pairs.
    The 60-bit key makes a false dup-mark ~2^-60 per gram pair —
    acceptable for an audit/cut pass; widen to the full md5 when exact
    attribution matters.
    """
    ws = ascii_words(F.col("text"))
    grams = F.expr(
        f"if(size(ws) >= {n}, "
        f"transform(sequence(1, size(ws) - {n - 1}), "
        f"i -> array_join(slice(ws, i, {n}), ' ')), "
        f"cast(array() as array<string>))")
    base = documents.select(
        "doc_id", ws.alias("ws")).select(
        "doc_id", F.size("ws").cast("long").alias("n_tokens"),
        grams.alias("grams"))
    doc_grams = base.select(
        "doc_id",
        F.posexplode("grams").alias("gpos", "gram"),
    ).select("doc_id", "gpos", hash60(F.col("gram")).alias("gram_h"))

    dup_grams = (
        doc_grams.groupBy("gram_h")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= int(min_docs))
        .select("gram_h")
    )
    hits = doc_grams.join(dup_grams, "gram_h")
    covered = (
        hits.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"),
                           F.col("gpos") + F.lit(n - 1))).alias("pos"))
        .distinct()
        .groupBy("doc_id").agg(F.count("*").alias("dup_tokens"))
    )
    per_doc = hits.groupBy("doc_id").agg(F.count("*").alias("dup_grams"))
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.when(F.col("n_tokens") > 0,
                   F.round(F.coalesce("dup_tokens", F.lit(0))
                           / F.col("n_tokens"), 6))
            .otherwise(F.lit(0.0)).alias("dup_fraction"),
        )
    )


def remove_duplicate_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The CUT half of the Lee et al. (ACL'22) substring dedup pass:
    ``duplicate_spans`` measures cross-doc duplicated n-gram coverage;
    this rewrites each document with those token spans removed.

    Emits for every document (including untouched ones):

    - ``n_tokens`` / ``n_kept`` — before/after token counts
    - ``clean_fingerprint``     — md5 of the space-joined kept tokens
                                  in original order (order-exact content
                                  check without shipping rebuilt text)

    Scale shape: identical to ``duplicate_spans`` up to the covered-
    position set (one 60-bit hash per gram, doc-frequency hash agg,
    equi-join back, bounded n-row explode), then ONE anti-join of the
    posexploded token table against covered positions and one doc_id
    agg re-assembling kept tokens by position. Every exchange is
    bounded by total token count; nothing is ever doc-pair-shaped.
    """
    ws = ascii_words(F.col("text"))
    grams = F.expr(
        f"if(size(ws) >= {n}, "
        f"transform(sequence(1, size(ws) - {n - 1}), "
        f"i -> array_join(slice(ws, i, {n}), ' ')), "
        f"cast(array() as array<string>))")
    base = documents.select(
        "doc_id", ws.alias("ws")).select(
        "doc_id", F.size("ws").cast("long").alias("n_tokens"),
        "ws", grams.alias("grams"))
    doc_grams = base.select(
        "doc_id",
        F.posexplode("grams").alias("gpos", "gram"),
    ).select("doc_id", "gpos", hash60(F.col("gram")).alias("gram_h"))
    dup_grams = (
        doc_grams.groupBy("gram_h")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= int(min_docs))
        .select("gram_h")
    )
    covered = (
        doc_grams.join(dup_grams, "gram_h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"),
                           F.col("gpos") + F.lit(n - 1))).alias("pos"))
        .distinct()
    )
    toks = base.select(
        "doc_id", F.posexplode("ws").alias("pos", "word"))
    kept = (
        toks.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.md5(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"]),
                " ")).alias("clean_fingerprint"),
        )
    )
    empty_fp = F.md5(F.lit(""))
    return (
        base.select("doc_id", "n_tokens")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_fingerprint", empty_fp)
            .alias("clean_fingerprint"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 5,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_target: int = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    corpus embeddings with spherical k-means, then within each cluster
    drop near-duplicate members, keeping the example LEAST similar to
    its centroid (the most diverse representative survives).

    One row per input vector: (id, cluster, centroid_cos, kept 0/1).
    A vector is dropped when some same-cluster partner has pairwise
    cosine >= threshold and a strictly smaller (centroid_cos, id) —
    a single-pass pairwise-dominance rule (deterministic; in a fully
    connected duplicate group exactly the min-(centroid_cos, id)
    member survives, the paper's per-group rule, with no iterative
    component step). Centroid cosines compare at the 4dp rounding the
    k-means assignment emits, so the rule is reproducible bit-for-bit
    by a single-node recompute.

    Scale shape: k-means is the corpus-stationary Lloyd loop of
    ``similarity.embedding_kmeans`` (only the k x d centroid matrix on
    the driver). The candidate scan never leaves cluster boundaries —
    members hash into ceil(n_c / block_target) blocks per cluster and
    each (cluster, b1 <= b2) block pair GEMMs in one task, the
    within-cluster restriction of ``similarity.embedding_all_pairs``;
    the fan-out table is k x B^2 rows built from a k-row count collect.
    Losers shuffle once for the distinct + verdict join. This is the
    point of SemDeDup at 10^9 vectors: all-pairs work shrinks by the
    cluster-count factor and clusters scan independently.
    """
    import numpy as np
    import pandas as pd

    from .similarity import embedding_kmeans

    spark = embeddings.sparkSession
    assign = embedding_kmeans(
        embeddings, k=k, iterations=iterations,
        id_col=id_col, vec_col=vec_col,
    ).withColumnRenamed("cos", "centroid_cos")
    members = assign.join(
        embeddings.select(id_col, vec_col), id_col).persist()

    sizes = {
        r["cluster"]: r["n"]
        for r in members.groupBy("cluster")
        .agg(F.count("*").alias("n")).collect()
    }
    pair_rows = []
    for c, n in sizes.items():
        nb = max(1, -(-int(n) // int(block_target)))
        pair_rows += [(int(c), b1, b2)
                      for b1 in range(nb) for b2 in range(b1, nb)]
    pairs = spark.createDataFrame(pair_rows, "cluster int, b1 int, b2 int")

    # per-cluster block id uses that cluster's own block count, riding
    # in on a broadcast k-row table (skewed clusters get more blocks)
    nb_rows = [(int(c), max(1, -(-int(n) // int(block_target))))
               for c, n in sizes.items()]
    nb_df = spark.createDataFrame(nb_rows, "cluster int, _nb int")
    blocked = (
        members.join(F.broadcast(nb_df), "cluster")
        .withColumn("_b", F.pmod(F.xxhash64(F.col(id_col)),
                                 F.col("_nb")).cast("int"))
    )

    def fan(join_key: str, tag: int):
        return (
            blocked.join(
                F.broadcast(pairs),
                (blocked["cluster"] == pairs["cluster"])
                & (F.col("_b") == F.col(join_key)))
            .select(blocked["cluster"], "b1", "b2", id_col, vec_col,
                    "centroid_cos", F.lit(tag).alias("_side"))
        )

    # CPU-bound GEMM kernel shuffle: pin the partition count or AQE's
    # byte-based coalescer can serialize the stage (CLAUDE.md invariant)
    both = pin_partitions(fan("b1", 0).unionByName(fan("b2", 1)),
                          "cluster", "b1", "b2")

    def losers_fn(key, pdf):
        out_cols = ["loser"]
        lp = pdf[pdf["_side"] == 0]
        rp = pdf[pdf["_side"] == 1]
        if lp.empty or rp.empty:
            return pd.DataFrame(columns=out_cols)
        A = np.stack([np.asarray(v, dtype=np.float64) for v in lp[vec_col]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in rp[vec_col]])
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
        S = An @ Bn.T
        l_ids = lp[id_col].to_numpy()
        r_ids = rp[id_col].to_numpy()
        l_cc = lp["centroid_cos"].to_numpy()
        r_cc = rp["centroid_cos"].to_numpy()
        if key[1] == key[2]:
            # same block both sides: every unordered pair shows twice;
            # keep one orientation
            mask = (S >= threshold) & (l_ids[:, None] < r_ids[None, :])
        else:
            mask = (S >= threshold) & (l_ids[:, None] != r_ids[None, :])
        li, rj = np.nonzero(mask)
        if li.size == 0:
            return pd.DataFrame(columns=out_cols)
        lcc, rcc = l_cc[li], r_cc[rj]
        lid, rid = l_ids[li], r_ids[rj]
        # loser = greater (centroid_cos, id); survivor = least diverse-
        # from-centroid wins is the SemDeDup keep-low-cos rule
        l_loses = (lcc > rcc) | ((lcc == rcc) & (lid > rid))
        return pd.DataFrame({"loser": np.where(l_loses, lid, rid)})

    id_type = dict(embeddings.dtypes)[id_col]
    losers = (
        both.groupBy("cluster", "b1", "b2")
        .applyInPandas(losers_fn, schema=f"loser {id_type}")
        .select(F.col("loser").alias(id_col)).distinct()
        .withColumn("_lost", F.lit(1))
    )
    return (
        members.join(losers, id_col, "left")
        .select(
            id_col, "cluster", "centroid_cos",
            F.when(F.col("_lost").isNull(), F.lit(1))
            .otherwise(F.lit(0)).alias("kept"),
        )
    )


def bloom_positions(shingle: "F.Column", m: int, k: int) -> list:
    """k engine-portable bit positions for a shingle: independent md5
    hash60 draws (salted per hash index) mod the filter size m."""
    return [
        F.pmod(hash60(F.concat(F.lit(f"bloom{i}|"), shingle)),
               F.lit(int(m))).alias(f"p{i}")
        for i in range(int(k))
    ]


def bloom_contamination(
    documents: DataFrame,
    eval_docs: DataFrame,
    m: int = 1 << 20,
    num_hashes: int = 3,
    shingle_k: int = 3,
) -> DataFrame:
    """Bloom-filter decontamination — the bounded-memory twin of
    ``contamination_overlap`` for when even the DISTINCT eval-shingle
    set is too large to broadcast as strings: the eval side collapses
    to <= m set-bit POSITIONS (the Bloom filter itself, as a relation),
    and a training shingle counts as (maybe-)contaminated iff all
    ``num_hashes`` of its positions are set. One-sided error by
    construction: never misses a true overlap, false-positives at the
    standard (1 - e^(-kn/m))^k rate, tunable via m.

    Emits (doc_id, n_shingles, n_flagged, flagged_frac) — same shape
    as the exact operator so callers can swap them.

    Scale shape: the filter is ``<= m`` long rows (distinct positions),
    broadcast to a map-side semi-probe of the corpus's shingle
    positions; corpus rows never shuffle for the probe and the only
    corpus-wide exchange is the final doc_id hash agg. The positions
    relation is also the natural persisted artifact: building it once
    per eval-suite release and reusing it across pipeline runs is the
    production pattern.
    """
    pos_cols = bloom_positions(F.col("shingle"), m, num_hashes)
    bits = (
        doc_shingles(eval_docs, shingle_k)
        .select(F.explode(F.array(*[p for p in pos_cols])).alias("pos"))
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    train = doc_shingles(documents, shingle_k).select(
        "doc_id", "shingle", *pos_cols)
    probed = train
    for i in range(int(num_hashes)):
        probed = (
            probed.join(
                F.broadcast(bits.withColumnRenamed("pos", f"p{i}")
                            .withColumnRenamed("_set", f"_s{i}")),
                f"p{i}", "left")
        )
    all_set = None
    for i in range(int(num_hashes)):
        c = F.col(f"_s{i}").isNotNull()
        all_set = c if all_set is None else (all_set & c)
    flagged = F.when(all_set, 1).otherwise(0)
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(flagged).alias("n_flagged"),
            F.round(F.sum(flagged) / F.count("*"), 6)
            .alias("flagged_frac"),
        )
    )
