"""Per-window EM theme extraction (M1-M4 of the operator inventory).

Spark shape: ``groupBy(window_start).applyInPandas(em_fit_udf)``.
The whole 25-iteration EM loop runs inside one task per window — the
reference fuses iterations into a single map task for the same
no-per-iteration-shuffle reason (``EmAlgo.java:188-219``,
report/themeExtraction.tex:78). The reference's R seeded runs (J1, an
RDD cartesian) and best-run selection (A6) stay inside that task too:
``em_window_best`` fits runs 0..R-1 and keeps the max-log-likelihood
one, so every run count costs one shuffle on window_start.

Background probabilities enter the kernel through a SparkContext
broadcast of two aligned numpy arrays (word_id -> p), not a per-row
join: the model is vocab-sized (MBs even at 1M words), and every group
needs random access to it.

Determinism: the kernel seed is ``stable_seed(window_start, source
scope, run)`` — identical output at any parallelism, restart, or
partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels import em_fit, stable_seed

THEMES_SCHEMA = (
    "window_start timestamp, run int, theme_id int, loglik double, "
    "score double, n_docs int, word_ids array<int>, probs array<double>"
)


def _bg_arrays(background_pdf: pd.DataFrame):
    """Background model as (sorted word_id array, aligned p array)."""
    b = background_pdf.sort_values("word_id")
    return (
        b["word_id"].to_numpy(dtype=np.int64),
        b["p"].to_numpy(dtype=np.float64),
    )


def _broadcast_background(df: DataFrame, background):
    """Background model as a SparkContext broadcast of ``_bg_arrays``.

    ``background`` may be a Spark DataFrame or an already-collected
    pandas frame (the pipeline collects once and shares it)."""
    return df.sparkSession.sparkContext.broadcast(
        _bg_arrays(collect_background(background)))


#: Driver-side cap on the collected background model. 50M (word_id, p)
#: rows is ~1.2 GB as pandas — well inside a normal driver, but a LOUD
#: ceiling long before the silent OOM a truly raw 100-TB vocab would
#: cause. Override with BESD_BACKGROUND_MAX_ROWS for bigger drivers.
BACKGROUND_MAX_ROWS = 50_000_000


def collect_background(background, max_rows: int | None = None) -> pd.DataFrame:
    """Normalize a background model (Spark DataFrame or already-collected
    pandas) to pandas ONCE. The pipeline collects a single time and
    passes the pandas frame to every stage — each stage collecting its
    own copy costs one full scan+agg job per consumer.

    Guarded: collects at most ``max_rows + 1`` rows (bounded driver
    memory even when the vocab is unbounded) and raises with the
    mitigation levers instead of OOMing. For vocabs that genuinely
    exceed driver memory, bound the vocab BEFORE this point:
    raise ``min_word_corpus_count`` (rare words carry no theme signal),
    or remap to a bounded id space with
    ``operators.sampling.vocab_prune_remap`` — the kernels only ever
    index the model by word_id, so any corpus-consistent remap works.
    """
    if isinstance(background, pd.DataFrame):
        return background
    import os

    if max_rows is None:
        max_rows = int(os.environ.get(
            "BESD_BACKGROUND_MAX_ROWS", BACKGROUND_MAX_ROWS))
    pdf = background.select("word_id", "p").limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"background model exceeds {max_rows:,} rows; refusing to "
            "collect it to the driver. Bound the vocabulary first: raise "
            "min_word_corpus_count, or prune+remap ids with "
            "operators.sampling.vocab_prune_remap; or raise the cap via "
            "BESD_BACKGROUND_MAX_ROWS if the driver has the memory.")
    return pdf


def _window_counts(docs: list, bg_ids: np.ndarray, bg_p: np.ndarray):
    """(vocab, D x V float count matrix, p_bg) for one window's docs,
    or None when the window holds no in-background word.

    The window vocabulary is the kept (in-background) words present
    here; ``p_bg`` is the background aligned to it and renormalized.
    One vectorized pass builds every doc's count row: map the window's
    concatenated tokens to vocab columns (searchsorted), then
    scatter-count (doc, col) pairs via a single flat bincount — same
    integer counts as a per-doc np.unique loop, without D rounds of
    Python/numpy dispatch."""
    if not docs:
        return None
    all_tok = np.concatenate([np.asarray(t, dtype=np.int64) for t in docs])
    vocab = np.unique(all_tok[np.isin(all_tok, bg_ids)])
    if vocab.size == 0:
        return None
    D = len(docs)
    lens = np.fromiter((len(t) for t in docs), dtype=np.int64, count=D)
    doc_of = np.repeat(np.arange(D, dtype=np.int64), lens)
    pos = np.minimum(np.searchsorted(vocab, all_tok), vocab.size - 1)
    known = vocab[pos] == all_tok
    counts = np.bincount(
        doc_of[known] * vocab.size + pos[known], minlength=D * vocab.size
    ).reshape(D, vocab.size).astype(np.float64)
    p_bg = bg_p[np.searchsorted(bg_ids, vocab)]
    return vocab, counts, p_bg / p_bg.sum()


def em_window(
    window_start,
    run: int,
    pdf: pd.DataFrame,
    bg_ids: np.ndarray,
    bg_p: np.ndarray,
    k: int,
    iterations: int = 25,
    lambda_b: float = 0.95,
    min_distinct_words: int = 0,
) -> pd.DataFrame:
    """Pure-pandas EM for ONE (window, run) group -> theme rows.

    Module-level so the batch ``applyInPandas`` closure and the
    streaming ``applyInPandasWithState`` kernel run the *same* code —
    that shared path is what makes streaming output rows identical to
    the batch pipeline for the same input and watermark.

    The seed is derived from the window's epoch nanos (not its string
    form), so any timestamp representation (pandas / datetime / numpy)
    yields the same themes.
    """
    # deterministic doc order inside the group
    pdf = pdf.sort_values("doc_id")
    docs = pdf["tokens"].to_list()
    cols = ["window_start", "run", "theme_id", "loglik", "score",
            "n_docs", "word_ids", "probs"]
    model = _window_counts(docs, bg_ids, bg_p)
    if model is None:
        return pd.DataFrame(columns=cols)
    vocab, counts, p_bg = model
    if min_distinct_words:
        counts = counts[(counts > 0).sum(axis=1) > min_distinct_words]
    rows = []
    if counts.shape[0]:
        seed = stable_seed(
            "em", int(pd.Timestamp(window_start).value), int(run))
        theta, pi, loglik = em_fit(
            counts, p_bg, k, iterations=iterations,
            lambda_b=lambda_b, seed=seed)
        scores = pi.mean(axis=0)  # avg pi per theme (A7/M3)
        for j in range(k):
            rows.append((
                window_start, int(run), j, float(loglik),
                float(scores[j]), int(counts.shape[0]),
                vocab.astype(np.int32), theta[j],
            ))
    return pd.DataFrame(rows, columns=cols)


def em_window_best(
    window_start,
    pdf: pd.DataFrame,
    bg_ids: np.ndarray,
    bg_p: np.ndarray,
    k: int,
    runs: int = 1,
    **em_kwargs,
) -> pd.DataFrame:
    """Best-of-R EM for ONE window (J1 + A6/M2, ``EmAlgo.java:228-264``):
    fit ``em_window`` with seeds ``run = 0..runs-1`` and keep the run
    with the highest log-likelihood; on a tie the lowest run id wins.
    Every theme-extracting plan (batch, streaming, evolution) selects
    its run here, so run selection cannot drift between them."""
    best = None
    for run in range(runs):
        t = em_window(window_start, run, pdf, bg_ids, bg_p, k, **em_kwargs)
        if t.empty:
            return t  # emptiness depends on the docs, not on the seed
        if best is None or t["loglik"].iloc[0] > best["loglik"].iloc[0]:
            best = t
    return best


def em_themes(
    windowed: DataFrame,
    background: DataFrame,
    k: int = 5,
    iterations: int = 25,
    lambda_b: float = 0.95,
    runs: int = 1,
    min_distinct_words: int = 0,
) -> DataFrame:
    """Extract k themes per window from its best of ``runs`` EM fits;
    one output row per (window, theme), ``run`` = the winning run id.

    ``windowed`` must carry (window_start, doc_id, tokens). Docs are
    restricted to background-model words (the reference's broadcast
    semi-join P4) inside the kernel via a sorted-array membership test.
    """
    bcast = _broadcast_background(windowed, background)

    def fit(key, pdf):
        ids, p_all = bcast.value
        return em_window_best(
            key[0], pdf, ids, p_all, k, runs=runs,
            iterations=iterations, lambda_b=lambda_b,
            min_distinct_words=min_distinct_words)

    # pin the kernel shuffle's parallelism: AQE byte-coalescing would
    # serialize the CPU-bound EM stage onto one task (util.py)
    from ..util import pin_partitions
    return pin_partitions(
        windowed.select("window_start", "doc_id", "tokens"),
        "window_start").groupBy(
        "window_start").applyInPandas(fit, schema=THEMES_SCHEMA)


def em_themes_chunked(
    windowed: DataFrame,
    background: DataFrame,
    n_chunks: int,
    k: int = 5,
    iterations: int = 25,
    lambda_b: float = 0.95,
) -> DataFrame:
    """M4 (``ThemeFromLargeTimePeriod.java:50-98``): split each window's
    docs into ``n_chunks`` equal parts and run EM per (window, chunk) —
    the way to extract themes from a window too large for one kernel
    task. ``ntile`` over a deterministic doc order replaces the
    reference's driver-side list slicing; the chunk id rides the `run`
    column so theme filtering composes unchanged.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy("doc_id")
    chunked = windowed.select(
        "window_start", "doc_id", "tokens"
    ).withColumn("run", (F.ntile(n_chunks).over(w) - 1))
    bcast = _broadcast_background(windowed, background)

    def fit(key, pdf):
        window_start, run = key
        ids, p_all = bcast.value
        return em_window(window_start, int(run), pdf, ids, p_all, k,
                         iterations=iterations, lambda_b=lambda_b)

    from ..util import pin_partitions
    return pin_partitions(chunked, "window_start", "run").groupBy(
        "window_start", "run").applyInPandas(fit, schema=THEMES_SCHEMA)


DOC_WEIGHTS_SCHEMA = (
    "window_start timestamp, doc_id string, theme_id int, weight double"
)


def em_doc_weights_window(
    window_start,
    pdf: pd.DataFrame,
    bg_ids: np.ndarray,
    bg_p: np.ndarray,
    k: int,
    iterations: int = 25,
    lambda_b: float = 0.95,
) -> pd.DataFrame:
    """Pure-pandas per-doc mixing weights for ONE window group.

    Module-level (like ``em_window``) so the Spark closure and the
    single-node oracle recomputation run the same code."""
    pdf = pdf.sort_values("doc_id")
    docs = pdf["tokens"].to_list()
    cols = ["window_start", "doc_id", "theme_id", "weight"]
    model = _window_counts(docs, bg_ids, bg_p)
    if model is None:
        return pd.DataFrame(columns=cols)
    _vocab, counts, p_bg = model
    seed = stable_seed("em", int(pd.Timestamp(window_start).value), 0)
    _, pi, _ = em_fit(counts, p_bg, k, iterations=iterations,
                      lambda_b=lambda_b, seed=seed)
    rows = []
    for d, doc_id in enumerate(pdf["doc_id"]):
        for j in range(k):
            rows.append((window_start, doc_id, j, float(pi[d, j])))
    return pd.DataFrame(rows, columns=cols)


def em_doc_weights(
    windowed: DataFrame,
    background: DataFrame,
    k: int = 5,
    iterations: int = 25,
    lambda_b: float = 0.95,
) -> DataFrame:
    """Per-document theme mixing weights pi(d, j) for one EM run per
    window — the doc-level view the reference exposes for its top-docs
    report (``EmInput.java:221-260``, O4). Same kernel/seeds as
    ``em_themes``, so weights correspond to that run's themes."""
    bcast = _broadcast_background(windowed, background)

    def fit(key, pdf):
        (window_start,) = key
        ids, p_all = bcast.value
        return em_doc_weights_window(window_start, pdf, ids, p_all, k,
                                     iterations=iterations, lambda_b=lambda_b)

    from ..util import pin_partitions
    return pin_partitions(
        windowed.select("window_start", "doc_id", "tokens"),
        "window_start").groupBy(
        "window_start").applyInPandas(fit, schema=DOC_WEIGHTS_SCHEMA)


def top_docs_per_theme(doc_weights: DataFrame, k: int = 5) -> DataFrame:
    """O4: highest-weight documents per (window, theme) — ``row_number``
    over weight desc with doc_id tiebreak (TreeMap comparator analog,
    ``EmInput.java:221-260``)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start", "theme_id").orderBy(
        F.col("weight").desc(), F.col("doc_id").asc())
    return doc_weights.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def filter_themes(themes: DataFrame, k: int, floor_factor: float = 0.9) -> DataFrame:
    """M3: keep themes with avg doc weight above floor_factor / k
    (reference ``EmInput.java:268-277``)."""
    return themes.filter(F.col("score") > floor_factor / k)
