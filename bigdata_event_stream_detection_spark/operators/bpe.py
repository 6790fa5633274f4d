"""Byte-pair-encoding subword tokenizer: distributed training + encode.

The spec's token-counting operator (text.token_counts) counts
whitespace/BPE-ish regex pre-tokens; this module implements the real
thing — learn a merge table from the corpus and encode documents into
subword tokens — the vocabulary-induction step a tokens-payload
training pipeline runs before anything else.

Scale shape (the reason classic BPE fits Spark): training never touches
the corpus after ONE word-count scan. The working set is the
word-frequency table (vocab-bounded — ~10^7 rows at web scale, not
10^12 tokens), each merge round is a pair-explode + hash-agg over that
table (pairs bounded by total symbols in the vocab), and the argmax
pair is a 1-row collect. Encoding is a second corpus scan with the
merge list broadcast; per-batch memoization means each DISTINCT word is
encoded once per batch, not once per occurrence.

Determinism: merge selection orders by (count desc, left asc, right
asc); ties cannot depend on partitioning. The single-node oracle
(tools/local_oracle.py:bpe_merge_rows / bpe_encode_rows) recomputes
with an independent dict-based implementation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfns import ascii_words


def _word_counts(documents: DataFrame, min_word_count: int) -> DataFrame:
    return (
        documents.select(
            F.explode(ascii_words(F.col("text"))).alias("word"))
        .groupBy("word").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_word_count)
    )


def _adjacent_pair_counts(vocab: DataFrame) -> DataFrame:
    """(l, r, n): corpus-weighted counts of adjacent symbol pairs."""
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.explode(F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i-1] as l, syms[i] as r))")).alias("p"))
        .groupBy("p.l", "p.r").agg(F.sum("cnt").alias("n"))
    )


def _merge_symbols(syms: list, left: str, right: str) -> list:
    """One merge pass over a symbol list, left-to-right (the classic
    greedy rule: 'aaa' + (a,a) -> ['aa', 'a'])."""
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


# auto pair_strategy: below this many total vocab symbols the
# per-round recount (one explode + hash agg) is always cheaper than
# the delta path's extra Spark jobs per round, so auto never switches
# (measured — BENCH.md "Round 5: delta-updated BPE pair counts")
_DELTA_SYMBOL_THRESHOLD = 2_000_000
# auto switches recount -> delta when the round's top pair count drops
# below this fraction of the vocab's WORD count (the top count bounds
# the touched-word set, so n/W is a touched-fraction proxy): hot early
# pairs touch most words (delta then pays TWO touched-row explodes
# where recount pays one vocab explode — measured ~2x worse), cold
# late pairs touch few (delta decays with the touched set, measured
# ~1.6x better — the regime a ~30k-merge tokenizer lives in); the
# crossover sits around a ~25% touched fraction on the 1M-word probe
# (BENCH.md "Round 5: delta-updated BPE pair counts")
_DELTA_SWITCH_FRACTION = 1 / 4
# rematerialize the base pair table when the driver-side accumulated
# delta dict exceeds this (keeps the per-round broadcast small)
_ACC_MATERIALIZE_ROWS = 50_000
# fold the vocab patch overlay back into the checkpointed base when it
# exceeds this many rows (bounds the anti-join broadcast; the fold is
# the only O(vocab) materialization in the delta regime, amortized
# over the rounds that grew the patch)
_PATCH_FOLD_ROWS = 100_000


def bpe_train(
    documents: DataFrame,
    num_merges: int = 30,
    min_word_count: int = 2,
    batch_size: int = 1,
    pair_strategy: str = "auto",
    _round_log: list | None = None,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges (Sennrich et al., ACL'16) from
    the corpus. Returns (rank, left, right, merged, pair_count) with
    rank 1 = first/most frequent merge.

    Training never rescans the corpus: ONE word-count scan builds a
    vocab-bounded symbol table; each round takes the argmax pair,
    rewrites the words containing it with a vectorized pandas pass,
    and updates the adjacency-pair counts. Two interchangeable
    (result-identical) pair-count strategies:

    - ``recount``: re-explode all vocab symbols + hash agg per round.
      O(total vocab symbols) per round, but only ~2 tiny Spark jobs —
      fastest when the vocab is small (job overhead dominates).
    - ``delta``: build the pair table ONCE, then keep it exact via
      signed deltas from the rewritten rows only — merging (l, r)
      changes counts only for pairs overlapping a merge site, so
      old-pairs(touched) − new-pairs(rewritten) nets to a tiny
      merge-site-bounded set, collected and accumulated driver-side;
      the live table is the checkpointed base plus ONE map-side
      broadcast join (no shuffle). Per-round pair-maintenance cost
      stops scaling with vocab size — what a ~30k-merge production
      tokenizer needs (BENCH.md "Round 5: delta-updated BPE pair
      counts").
    - ``auto`` (default): adaptive — recount while the argmax pair is
      hot (touched rows ≈ vocab, where recount's single explode beats
      delta's two), then switch permanently to delta once the top
      pair count falls below ``_DELTA_SWITCH_FRACTION`` of the vocab's
      word count (and the vocab has enough symbols for delta to ever
      win, ``_DELTA_SYMBOL_THRESHOLD``).

    ``batch_size > 1`` (batched greedy): each round takes the top-m
    SYMBOL-DISJOINT pairs in (count desc, left, right) order and
    applies them together, cutting driver round-trips m-fold at large
    merge counts. Disjointness makes the batch exact — merging (a,b)
    can neither create nor destroy an occurrence of a pair that shares
    no symbol with it, so every selected pair's count is the true
    corpus count at selection time, and applying the batch in rank
    order equals applying each selected pair as its own round. The
    deviation from sequential BPE (batch_size=1): a pair *created* by
    an earlier merge in the same batch (e.g. ("th","e") right after
    (t,h)) cannot be chosen until the next round, and that deferral
    compounds — later rounds see different pair counts, so the greedy
    TRAJECTORY (and eventually the merge set itself) can drift from
    the sequential trainer's, the standard tradeoff every batched BPE
    trainer makes (measured on sf0.01 at m=8: same prefix, then
    order/set drift — BENCH.md "Round 4: BPE batched merge rounds").
    Pairs that share a symbol with an already-selected pair are
    deferred within the round, never dropped. batch_size=1 is
    bit-identical to classic Sennrich BPE; the single-node oracle
    mirrors whatever batch_size the engine ran, so engine==oracle
    parity is pinned for m in {1,3,8} (tests/test_bpe.py).
    """
    spark = documents.sparkSession
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    if pair_strategy not in ("auto", "recount", "delta"):
        raise ValueError(f"unknown pair_strategy {pair_strategy!r}")
    # localCheckpoint (not persist): each round's table must TRUNCATE
    # its logical plan, or 30 rounds of mapInPandas stack into a plan
    # whose Catalyst string alone OOMs the driver. On a real cluster
    # with executor loss concerns, setCheckpointDir + .checkpoint()
    # is the durable equivalent.
    # `word` rides along as the stable row key: the delta regime's
    # patch overlay replaces rows by word instead of rewriting the
    # whole table
    vocab = _word_counts(documents, min_word_count).select(
        "word", F.split(F.col("word"), "").alias("syms"), "cnt"
    ).localCheckpoint(eager=True)
    n_parts = vocab.rdd.getNumPartitions()

    adaptive = pair_strategy == "auto"
    switch_at = None
    if adaptive:
        agg = vocab.agg(
            F.sum(F.size("syms")).alias("s"),
            F.count("*").alias("w")).first()
        n_sym = agg["s"] or 0
        if n_sym >= _DELTA_SYMBOL_THRESHOLD:
            switch_at = int(agg["w"] * _DELTA_SWITCH_FRACTION)
        # else: stays recount for the whole run

    use_delta = pair_strategy == "delta"
    base = None
    acc: dict = {}        # pair -> signed delta vs base
    known_new: set = set()  # acc keys proven ABSENT from base
    # incremental vocab (delta regime): vbase is the last checkpointed
    # full table, vpatch the latest rows for every word touched since
    vbase = None
    vpatch = None
    patch_rows = 0

    def init_delta_state():
        """Build the base pair table + known-symbol set from the
        CURRENT vocab (called once: up front for strategy='delta',
        at the hot->cold switch for 'auto')."""
        nonlocal base, known_syms, vbase, vpatch, patch_rows
        base = _adjacent_pair_counts(vocab).localCheckpoint(eager=True)
        vbase, vpatch, patch_rows = vocab, None, 0
        # symbol strings in existence; used to prove a pair involving
        # a freshly merged symbol cannot already be in base
        known_syms = {r["s"] for r in vocab.select(
            F.explode("syms").alias("s")).distinct().collect()}

    def vocab_view() -> DataFrame:
        """The exact live vocab (delta regime): base rows minus the
        touched words, plus their latest patch rows — one map-side
        broadcast anti-join, no per-round table rewrite."""
        if vpatch is None:
            return vbase
        return (vbase.join(F.broadcast(vpatch.select("word")),
                           "word", "left_anti")
                .unionByName(vpatch))

    known_syms: set = set()
    if use_delta:
        init_delta_state()

    def pair_view() -> DataFrame:
        """The exact live pair-count table (delta strategy): base +
        one broadcast-join of the accumulated driver-side deltas."""
        if not acc:
            return base
        ddf = spark.createDataFrame(
            [(l, r, d) for (l, r), d in acc.items()],
            "l string, r string, dn bigint")
        pc = (base.join(F.broadcast(ddf), ["l", "r"], "left_outer")
              .select("l", "r",
                      (F.col("n") + F.coalesce("dn", F.lit(0)))
                      .alias("n"))
              .filter("n > 0"))
        adds = [(l, r, acc[(l, r)]) for (l, r) in known_new
                if acc[(l, r)] > 0]
        if adds:
            pc = pc.unionByName(spark.createDataFrame(
                adds, "l string, r string, n bigint"))
        return pc

    merges: list[tuple] = []
    while len(merges) < num_merges:
        if _round_log is not None:
            # private tuning hook: (n_merges_so_far, strategy, t_mono)
            import time as _time

            _round_log.append((len(merges),
                               "delta" if use_delta else "recount",
                               _time.monotonic()))
        m = min(batch_size, num_merges - len(merges))
        pairs = pair_view() if use_delta else _adjacent_pair_counts(vocab)
        # over-fetch: symbol collisions skip candidates, so pull extra
        # rows per round (a deferred pair is re-offered next round)
        top = pairs.orderBy(F.col("n").desc(), F.col("l").asc(),
                            F.col("r").asc()).limit(4 * m + 4).collect()
        if not top:
            break
        if (not use_delta and switch_at is not None
                and int(top[0]["n"]) < switch_at):
            # hot -> cold switch: build the delta state from the
            # CURRENT (pre-rewrite) vocab; this round's chosen counts
            # came from the same vocab, so base and acc stay exact
            init_delta_state()
            use_delta = True
        chosen: list[tuple] = []
        used: set = set()
        for row in top:
            l, r = row["l"], row["r"]
            if l in used or r in used:
                continue  # deferred to the next round, not skipped
            chosen.append((len(merges) + len(chosen) + 1, l, r,
                           l + r, int(row["n"])))
            used.update((l, r))
            if len(chosen) >= m:
                break
        merges.extend(chosen)
        batch = [(l, r) for _, l, r, _, _ in chosen]

        def apply_merge(batches, _batch=tuple(batch)):
            for pdf in batches:
                if pdf.empty:
                    continue
                pdf = pdf.copy()
                syms = pdf["syms"]
                for _l, _r in _batch:
                    syms = [_merge_symbols(list(s), _l, _r) for s in syms]
                pdf["syms"] = syms
                yield pdf

        # incremental rewrite: only words CONTAINING a winning pair
        # cross the Python/Arrow boundary; the rest of the vocab table
        # passes through untouched JVM-side.
        pair_here = F.expr(
            "exists(sequence(1, size(syms) - 1), i -> " + " OR ".join(
                f"(syms[i-1] = '{l}' AND syms[i] = '{r}')"
                for l, r in batch) + ")")
        mask = F.when(F.size("syms") >= 2, pair_here).otherwise(F.lit(False))
        cur = vocab_view() if use_delta else vocab
        touched = cur.filter(mask)
        rewritten = touched.mapInPandas(
            apply_merge,
            schema="word string, syms array<string>, cnt bigint")

        if use_delta:
            rewritten = rewritten.localCheckpoint(eager=True)
            # signed pair delta from the touched rows only: pairs away
            # from merge sites cancel exactly, so the net set is
            # merge-site-bounded (small) and safe to collect
            delta = (
                _adjacent_pair_counts(touched)
                .select("l", "r", (-F.col("n")).alias("dn"))
                .unionByName(
                    _adjacent_pair_counts(rewritten)
                    .select("l", "r", F.col("n").alias("dn")))
                .groupBy("l", "r").agg(F.sum("dn").alias("dn"))
                .filter("dn != 0").collect()
            )
            fresh = {l + r for _, l, r, _, _ in chosen} - known_syms
            known_syms.update(l + r for _, l, r, _, _ in chosen)
            uncertain = []
            for row in delta:
                k = (row["l"], row["r"])
                first_seen = k not in acc
                acc[k] = acc.get(k, 0) + row["dn"]
                if acc[k] == 0:
                    del acc[k]
                    known_new.discard(k)
                    continue
                if first_seen and row["dn"] > 0:
                    # a CREATED pair always involves a merged symbol
                    # from this batch; if that string is brand-new the
                    # pair cannot be in base — else membership is
                    # ambiguous (same string reachable via another
                    # merge path) and must be probed
                    if k[0] in fresh or k[1] in fresh:
                        known_new.add(k)
                    else:
                        uncertain.append(k)
                # first-seen negative deltas shrink pairs that existed
                # before the merge => they are in base: nothing to do
            if uncertain:
                probe = spark.createDataFrame(
                    uncertain, "l string, r string")
                present = {(r["l"], r["r"]) for r in base.join(
                    F.broadcast(probe), ["l", "r"], "left_semi")
                    .collect()}
                known_new.update(k for k in uncertain
                                 if k not in present and k in acc)
            if len(acc) > _ACC_MATERIALIZE_ROWS:
                base = pair_view().localCheckpoint(eager=True)
                acc.clear()
                known_new.clear()
            # fold the latest rewritten rows into the patch overlay:
            # a word's newest version wins; the big base table is
            # never rewritten until the periodic fold
            if vpatch is None:
                vpatch = rewritten
            else:
                # coalesce: the union adds the two sides' partition
                # counts, and rewritten's count itself includes the
                # patch's (it scans base ∪ patch) — without pinning,
                # partitions double per round (2^rounds empty tasks)
                vpatch = (vpatch.join(
                    F.broadcast(rewritten.select("word")),
                    "word", "left_anti")
                    .unionByName(rewritten)
                    .coalesce(n_parts)
                    .localCheckpoint(eager=True))
            patch_rows = vpatch.count()
            if patch_rows > _PATCH_FOLD_ROWS:
                vbase = (vocab_view().coalesce(n_parts)
                         .localCheckpoint(eager=True))
                vpatch, patch_rows = None, 0
        else:
            # coalesce: the union concatenates both branches'
            # partitions — without pinning the count it doubles per
            # round (2^rounds)
            vocab = (
                rewritten
                .unionByName(vocab.filter(~mask))
                .coalesce(n_parts)
                .localCheckpoint(eager=True)
            )

    return spark.createDataFrame(
        merges or [],
        "rank int, left string, right string, merged string, "
        "pair_count bigint")


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply merges in rank order to one word (char-split start)."""
    syms = list(word)
    for left, right in merges:
        if len(syms) < 2:
            break
        syms = _merge_symbols(syms, left, right)
    return syms


def bpe_encode(
    documents: DataFrame,
    merges: DataFrame,
) -> DataFrame:
    """Encode documents with a trained merge table. Emits per doc:

    - ``n_words``          — ascii pre-tokens
    - ``n_bpe``            — subword tokens after merging
    - ``token_fingerprint``— md5 of the space-joined subword sequence
                             (order-exact content check without shipping
                             the full token arrays to a comparator)

    The merge list is collected once (num_merges rows — bounded) and
    broadcast inside the encode UDF; per-batch memoization encodes each
    distinct word once. One corpus scan, one Arrow stage, no shuffle.
    """
    spark = documents.sparkSession
    mrows = sorted(
        ((r["rank"], r["left"], r["right"]) for r in merges.collect()))
    mlist = [(l, r) for _, l, r in mrows]
    bc = spark.sparkContext.broadcast(mlist)

    def encode(batches):
        ms = bc.value
        memo: dict[str, list[str]] = {}
        import hashlib
        for pdf in batches:
            if pdf.empty:
                continue
            n_words, n_bpe, fps = [], [], []
            for ws in pdf["ws"]:
                toks: list[str] = []
                for w in ws:
                    enc = memo.get(w)
                    if enc is None:
                        enc = encode_word(w, ms)
                        memo[w] = enc
                    toks.extend(enc)
                n_words.append(len(ws))
                n_bpe.append(len(toks))
                fps.append(hashlib.md5(
                    " ".join(toks).encode()).hexdigest())
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "n_words": n_words,
                "n_bpe": n_bpe, "token_fingerprint": fps})

    id_type = dict(documents.dtypes)["doc_id"]
    return documents.select(
        "doc_id", ascii_words(F.col("text")).alias("ws")
    ).mapInPandas(
        encode,
        schema=f"doc_id {id_type}, n_words bigint, n_bpe bigint, "
               "token_fingerprint string")
