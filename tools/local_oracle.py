"""Single-node pandas/numpy recomputation of the model-pipeline queries.

The EM/HMM queries are not expressible in DuckDB SQL, but the driver's
correctness gate only needs an oracle SQL string. This module recomputes
each query with a pure single-node implementation — the SAME numpy
kernels the Spark tasks run (``operators.em.em_window``,
``operators.hmm._decode_window``; both are plain pandas-in/pandas-out
functions with deterministic seeds) orchestrated by pandas groupbys
instead of Spark shuffles — and renders the expected rows as a DuckDB
``VALUES`` literal. What the comparison then checks is exactly the
distributed plumbing: tokenization, window assignment, the window
shuffles, broadcast alignment, and the state/theme-id mapping.

Reference semantics recomputed here: ThemesStrengthOverTime lifecycle
(LifeCycleAnalyserSpark.java:161-266), KL transitions
(KLDivergence.java:40-72), salience features (Theme.java:186-219).
"""

from __future__ import annotations

import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

import sys

sys.path.insert(0, "/root/repo")

from bigdata_event_stream_detection_spark.operators.em import (  # noqa: E402
    em_doc_weights_window,
    em_window,
)
from bigdata_event_stream_detection_spark.operators.hmm import (  # noqa: E402
    _decode_window,
)
from bigdata_event_stream_detection_spark.operators.kernels import (  # noqa: E402
    kl_divergence,
    tv_distance,
)

# must mirror sources/tokenize.py defaults
BASE_EPOCH = 1_420_070_400
STEP_SECONDS = 120
_WORD_RE = re.compile(r"[^\W\d_]+", re.UNICODE)  # runs of letters (\p{L}+)


def spark_round(x: float, d: int = 6) -> float:
    """Replicate Spark's round(double, d): BigDecimal.valueOf(x)
    (shortest decimal repr, same as Python repr) then HALF_UP."""
    q = Decimal(1).scaleb(-d)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    return str(int(v))


def values_sql(rows: list[tuple], cols: list[tuple[str, str]]) -> str:
    """Render rows as ``SELECT CAST(...) ... FROM (VALUES ...)``.

    ``cols`` is [(name, duckdb_type), ...]; types are chosen to match
    the Spark result schema's pandas materialization (INTEGER -> int32,
    BIGINT -> int64, DOUBLE -> float64, VARCHAR -> object/str).
    """
    names = [f"c{i}" for i in range(len(cols))]
    sel = ", ".join(
        f"CAST({alias} AS {typ}) AS {name}"
        for alias, (name, typ) in zip(names, cols))
    if not rows:
        return f"SELECT {sel} FROM (VALUES ({', '.join('NULL' for _ in cols)})) " \
               f"AS t({', '.join(names)}) WHERE FALSE"
    vals = ",\n".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")" for row in rows)
    return f"SELECT {sel} FROM (VALUES\n{vals}\n) AS t({', '.join(names)})"


# ---------------------------------------------------------------------------
# single-node pipeline (mirrors sources/tokenize.py + plans/pipeline.py)
# ---------------------------------------------------------------------------

def load_sequences(sf_dir: str) -> pd.DataFrame:
    """documents.parquet -> the native sequences shape, single-node.

    Mirrors ``documents_to_sequences``: lowercase, split on non-letters,
    dense ids by (count desc, word asc), event_time = base + id * step,
    empty docs dropped.
    """
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text", "source"])
    docs = docs.sort_values("doc_id").reset_index(drop=True)
    words_per_doc = [_WORD_RE.findall(str(t).lower()) for t in docs["text"]]
    counts = Counter()
    for ws in words_per_doc:
        counts.update(ws)
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    word_id = {w: i for i, (w, _) in enumerate(ordered)}
    rows = []
    for doc_id, source, ws in zip(docs["doc_id"], docs["source"],
                                  words_per_doc):
        toks = np.array([word_id[w] for w in ws], dtype=np.int64)
        if toks.size == 0:
            continue
        rows.append((str(doc_id), toks, int(toks.size), source,
                     BASE_EPOCH + int(doc_id) * STEP_SECONDS))
    return pd.DataFrame(
        rows, columns=["doc_id", "tokens", "n_tok", "source", "event_epoch"])


def background_arrays(seqs: pd.DataFrame, min_count: int):
    """Mirrors operators/background.py: counts >= floor, p = cnt/total."""
    all_tok = np.concatenate([np.asarray(t) for t in seqs["tokens"]])
    ids, cnt = np.unique(all_tok, return_counts=True)
    keep = cnt >= min_count
    ids, cnt = ids[keep], cnt[keep]
    total = int(cnt.sum())
    return ids.astype(np.int64), cnt.astype(np.float64) / total


class LocalPipeline:
    """One tokenize + background + window pass shared by every oracle."""

    def __init__(self, sf_dir: str, params):
        self.params = params
        seqs = load_sequences(sf_dir)
        seqs = seqs[seqs["n_tok"] >= params.min_doc_tokens]
        self.seqs = seqs.reset_index(drop=True)
        self.bg_ids, self.bg_p = background_arrays(
            self.seqs, params.min_word_corpus_count)
        win_s = self._window_seconds(params.window_length)
        self.win_s = win_s
        self.seqs["ws_epoch"] = (self.seqs["event_epoch"] // win_s) * win_s

    @staticmethod
    def _window_seconds(spec: str) -> int:
        qty, unit = spec.split()
        mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}[unit]
        return int(qty) * mult

    def themes_by_window(self, filtered: bool = True) -> dict[int, pd.DataFrame]:
        """EM themes per window (single run), optionally score-filtered.
        Memoized — every oracle shares one EM pass."""
        key = bool(filtered)
        cached = getattr(self, "_themes_cache", {})
        if key in cached:
            return cached[key]
        p = self.params
        floor = p.theme_score_floor_factor / p.num_themes
        out = {}
        for ws, grp in self.seqs.groupby("ws_epoch", sort=True):
            themes = em_window(
                pd.Timestamp(ws, unit="s"), 0, grp[["doc_id", "tokens"]],
                self.bg_ids, self.bg_p, p.num_themes,
                iterations=p.em_iterations, lambda_b=p.lambda_background)
            if filtered and not themes.empty:
                themes = themes[themes["score"] > floor]
            out[int(ws)] = themes
        cached[key] = out
        self._themes_cache = cached
        return out

    def detect_events_rows(self) -> list[tuple]:
        """(ws_epoch, source, theme_id, strength) — pipeline.detect_event_stream."""
        p = self.params
        rows = []
        themes = self.themes_by_window()
        for ws, grp in self.seqs.groupby("ws_epoch", sort=True):
            tpdf = themes[int(ws)]
            if tpdf.empty:
                continue
            seq_pdf = grp.rename(columns={"event_epoch": "event_time"})[
                ["source", "doc_id", "event_time", "tokens"]]
            by_src: dict[str, list] = {}
            theme_ids = None
            for src, _doc, _toks, states, tids in _decode_window(
                    seq_pdf, tpdf, self.bg_ids, self.bg_p,
                    p.bw_max_iterations, p.bw_pi_threshold, p.bw_a_threshold):
                by_src.setdefault(src, []).append(states)
                theme_ids = tids
            for src in sorted(by_src):
                cnt = np.bincount(np.concatenate(by_src[src]))
                for s in range(1, cnt.size):
                    if cnt[s] > 0:
                        rows.append((int(ws), src, int(theme_ids[s - 1]),
                                     int(cnt[s])))
        return rows

    def evolution_rows(self, max_gap_windows: int = 1) -> list[tuple]:
        """(w1_epoch, theme1, w2_epoch, theme2, divergence) —
        transitions.theme_transitions semantics (union-support align,
        eps fill, D < threshold)."""
        p = self.params
        themes = self.themes_by_window()
        rows = []
        for w1, t1 in sorted(themes.items()):
            for g in range(1, max_gap_windows + 1):
                w2 = w1 + g * self.win_s
                t2 = themes.get(w2)
                if t2 is None or t1.empty or t2 is None or t2.empty:
                    continue
                for _, r1 in t1.iterrows():
                    for _, r2 in t2.iterrows():
                        ids1 = np.asarray(r1["word_ids"], dtype=np.int64)
                        pr1 = np.asarray(r1["probs"], dtype=np.float64)
                        ids2 = np.asarray(r2["word_ids"], dtype=np.int64)
                        pr2 = np.asarray(r2["probs"], dtype=np.float64)
                        union = np.union1d(ids1, ids2)
                        a = np.full(union.size, p.kl_epsilon)
                        b = np.full(union.size, p.kl_epsilon)
                        a[np.searchsorted(union, ids1)] = pr1
                        b[np.searchsorted(union, ids2)] = pr2
                        if p.divergence == "tv":
                            d = tv_distance(a, b)
                        else:
                            d = kl_divergence(a, b, eps=p.kl_epsilon,
                                              log_max=p.kl_log_max)
                        if d < p.kl_threshold:
                            rows.append((w1, int(r1["theme_id"]), w2,
                                         int(r2["theme_id"]),
                                         spark_round(d, 6)))
        return rows

    def theme_top_words_rows(self, k: int = 5) -> list[tuple]:
        """(ws_epoch, theme_id, word_id, rank) — rank by p desc, id asc."""
        rows = []
        for ws, tpdf in sorted(self.themes_by_window().items()):
            for _, r in tpdf.iterrows():
                wid = np.asarray(r["word_ids"], dtype=np.int64)
                pr = np.asarray(r["probs"], dtype=np.float64)
                order = np.lexsort((wid, -pr))[:k]
                for rank, i in enumerate(order, start=1):
                    rows.append((ws, int(r["theme_id"]), int(wid[i]), rank))
        return rows

    def theme_salient_words_rows(self, k: int = 5,
                                 eps: float = 0.001) -> list[tuple]:
        """(ws_epoch, theme_id, word_id, rank, salience) — Theme.java
        KL-salience: p * log(p / smoothed p_bg), strict > 0 floor."""
        V = self.bg_ids.size
        bg_lookup = dict(zip(self.bg_ids.tolist(), self.bg_p.tolist()))
        rows = []
        for ws, tpdf in sorted(self.themes_by_window().items()):
            for _, r in tpdf.iterrows():
                wid = np.asarray(r["word_ids"], dtype=np.int64)
                pr = np.asarray(r["probs"], dtype=np.float64)
                p_bg = np.array([bg_lookup.get(int(w), 0.0) for w in wid])
                p1 = (p_bg + eps) / (1.0 + V * eps)
                sal = pr * np.log(pr / p1)
                keep = sal > 0
                order = np.lexsort((wid[keep], -sal[keep]))[:k]
                kw, ks = wid[keep], sal[keep]
                for rank, i in enumerate(order, start=1):
                    rows.append((ws, int(r["theme_id"]), int(kw[i]), rank,
                                 spark_round(ks[i], 6)))
        return rows

    def doc_counts_rows(self) -> list[tuple]:
        """(ws_epoch, source, doc_id, event_epoch, theme_id, strength) —
        hmm.doc_theme_counts. Memoized."""
        if getattr(self, "_doc_counts", None) is not None:
            return self._doc_counts
        p = self.params
        themes = self.themes_by_window()
        rows = []
        for ws, grp in self.seqs.groupby("ws_epoch", sort=True):
            tpdf = themes[int(ws)]
            if tpdf.empty:
                continue
            seq_pdf = grp.rename(columns={"event_epoch": "event_time"})[
                ["source", "doc_id", "event_time", "tokens"]]
            ets = dict(zip(grp["doc_id"], grp["event_epoch"]))
            for src, doc_id, _toks, states, tids in _decode_window(
                    seq_pdf, tpdf, self.bg_ids, self.bg_p,
                    p.bw_max_iterations, p.bw_pi_threshold, p.bw_a_threshold):
                cnt = np.bincount(states)
                for s in range(1, cnt.size):
                    if cnt[s] > 0:
                        rows.append((int(ws), src, doc_id, int(ets[doc_id]),
                                     int(tids[s - 1]), int(cnt[s])))
        self._doc_counts = rows
        return rows

    def theme_strength_slice_rows(self, theme_id: int, start_epoch: int,
                                  length_s: int) -> list[tuple]:
        """(source, strength) — hmm.theme_strength over one slice."""
        agg: dict[str, int] = {}
        for _ws, src, _doc, ets, tid, n in self.doc_counts_rows():
            if tid == theme_id and start_epoch <= ets < start_epoch + length_s:
                agg[src] = agg.get(src, 0) + n
        return sorted(agg.items())

    def strength_series_rows(self, bucket_s: int = 60) -> list[tuple]:
        """(bucket_epoch, source, theme_id, strength) — hmm.strength_series."""
        agg: dict[tuple, int] = {}
        for _ws, src, _doc, ets, tid, n in self.doc_counts_rows():
            key = ((ets // bucket_s) * bucket_s, src, tid)
            agg[key] = agg.get(key, 0) + n
        return sorted((k[0], k[1], k[2], v) for k, v in agg.items())

    def top_docs_rows(self, k: int = 3) -> list[tuple]:
        """(ws_epoch, theme_id, doc_id, rank, weight) — em_doc_weights +
        top_docs_per_theme."""
        p = self.params
        rows = []
        for ws, grp in self.seqs.groupby("ws_epoch", sort=True):
            dw = em_doc_weights_window(
                pd.Timestamp(ws, unit="s"), grp[["doc_id", "tokens"]],
                self.bg_ids, self.bg_p, p.num_themes,
                iterations=p.em_iterations, lambda_b=p.lambda_background)
            if dw.empty:
                continue
            for tid, sub in dw.groupby("theme_id", sort=True):
                sub = sub.sort_values(["weight", "doc_id"],
                                      ascending=[False, True]).head(k)
                for rank, (_, r) in enumerate(sub.iterrows(), start=1):
                    rows.append((int(ws), int(tid), r["doc_id"], rank,
                                 spark_round(r["weight"], 6)))
        return rows


def _load_embeddings(sf_dir: str):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet",
                          columns=["vec_id", "embedding"])
    ids = emb["vec_id"].to_numpy()
    M = np.stack([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    return ids, M


def _pair_cos(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Same arithmetic as similarity.pair_cos (einsum on raw vectors)."""
    num = np.einsum("ij,ij->i", A, B)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    return num / np.maximum(den, 1e-300)


def _rank_topk(q_ids, n_ids, cos, k):
    """(query_id, neighbor_id, rank, cos) by (cos desc, neighbor asc)."""
    rows = []
    for qid in np.unique(q_ids):
        m = q_ids == qid
        ni, ci = n_ids[m], cos[m]
        order = np.lexsort((ni, -ci))[:k]
        for rank, i in enumerate(order, start=1):
            rows.append((int(qid), int(ni[i]), rank, spark_round(ci[i], 6)))
    return sorted(rows)


def ann_lsh_rows(sf_dir: str, k: int = 5, planes: int = 4,
                 query_max: int = 10) -> list[tuple]:
    """similarity.lsh_bucket_topk: deterministic sign-LSH buckets from
    the seeded plane matrix, exact cosine within bucket."""
    from bigdata_event_stream_detection_spark.operators.similarity import (
        _plane_matrix,
    )

    ids, M = _load_embeddings(sf_dir)
    P = _plane_matrix(planes, M.shape[1])
    w = 1 << np.arange(planes)
    buckets = ((M @ P.T) > 0).astype(np.int64) @ w
    qm = ids < query_max
    q_ids_list, n_ids_list, cos_list = [], [], []
    for qid, qb, qv in zip(ids[qm], buckets[qm], M[qm]):
        cand = (buckets == qb) & (ids != qid)
        if not cand.any():
            continue
        A = np.broadcast_to(qv, (int(cand.sum()), M.shape[1]))
        cos = _pair_cos(np.ascontiguousarray(A), M[cand])
        q_ids_list.append(np.repeat(qid, cand.sum()))
        n_ids_list.append(ids[cand])
        cos_list.append(cos)
    if not q_ids_list:
        return []
    return _rank_topk(np.concatenate(q_ids_list), np.concatenate(n_ids_list),
                      np.concatenate(cos_list), k)


def ann_ivf_rows(sf_dir: str, k: int = 5, n_centroids: int = 8,
                 n_probe: int = 3, sample_size: int = 10_000,
                 query_max: int = 10) -> list[tuple]:
    """similarity.ivf_topk: same seeded k-means over the id-ordered
    sample, same cell assignment and probe selection."""
    from bigdata_event_stream_detection_spark.operators.kernels import (
        stable_seed,
    )
    from bigdata_event_stream_detection_spark.operators.similarity import (
        _kmeans,
    )

    ids, M = _load_embeddings(sf_dir)
    order = np.argsort(ids, kind="stable")
    S = M[order][:sample_size]
    Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-300)
    cent = _kmeans(Sn, n_centroids, seed=stable_seed("ivf", n_centroids))
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    cells = np.argmax(Mn @ cent.T, axis=1)
    qm = ids < query_max
    Qn = Mn[qm]
    probes = np.argsort(-(Qn @ cent.T), axis=1)[:, :n_probe]
    q_ids_list, n_ids_list, cos_list = [], [], []
    for qid, qv, pr in zip(ids[qm], M[qm], probes):
        cand = np.isin(cells, pr) & (ids != qid)
        if not cand.any():
            continue
        A = np.broadcast_to(qv, (int(cand.sum()), M.shape[1]))
        cos = _pair_cos(np.ascontiguousarray(A), M[cand])
        q_ids_list.append(np.repeat(qid, cand.sum()))
        n_ids_list.append(ids[cand])
        cos_list.append(cos)
    if not q_ids_list:
        return []
    return _rank_topk(np.concatenate(q_ids_list), np.concatenate(n_ids_list),
                      np.concatenate(cos_list), k)


def kmeans_rows(sf_dir: str, k: int = 8,
                iterations: int = 5) -> list[tuple]:
    """similarity.embedding_kmeans: same lowest-id init, same spherical
    Lloyd updates (mean of normalized members, empty cluster keeps its
    centroid), same np.round(cos, 4) on the final assignment."""
    ids, M = _load_embeddings(sf_dir)
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    C = Mn[:k].copy()
    for _ in range(iterations):
        assign = np.argmax(Mn @ C.T, axis=1)
        for j in range(C.shape[0]):
            members = Mn[assign == j]
            if members.shape[0]:
                c = members.sum(axis=0) / members.shape[0]
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / max(n, 1e-300)
    S = Mn @ C.T
    a = np.argmax(S, axis=1)
    return [(int(i), int(j), float(np.round(s, 4)))
            for i, j, s in zip(ids, a, S[np.arange(S.shape[0]), a])]


def semantic_dedup_rows(sf_dir: str, k: int = 8, iterations: int = 5,
                        threshold: float = 0.95) -> list[tuple]:
    """dedup.semantic_dedup: same spherical k-means as kmeans_rows, then
    within each cluster the pairwise-dominance rule — a member loses
    when some same-cluster partner has raw pair cosine >= threshold and
    a strictly smaller (centroid_cos@4dp, id)."""
    ids, M = _load_embeddings(sf_dir)
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    C = Mn[:k].copy()
    for _ in range(iterations):
        assign = np.argmax(Mn @ C.T, axis=1)
        for j in range(C.shape[0]):
            members = Mn[assign == j]
            if members.shape[0]:
                c = members.sum(axis=0) / members.shape[0]
                n = np.linalg.norm(c)
                if n > 0:
                    C[j] = c / max(n, 1e-300)
    S = Mn @ C.T
    a = np.argmax(S, axis=1)
    ccos = np.round(S[np.arange(S.shape[0]), a], 4)
    rows = []
    for c in np.unique(a):
        idx = np.where(a == c)[0]
        P = Mn[idx] @ Mn[idx].T
        cc, cid = ccos[idx], ids[idx]
        dup = P >= threshold
        np.fill_diagonal(dup, False)
        # loses to partner j: dup AND (cc_j, id_j) < (cc_i, id_i)
        smaller = (cc[None, :] < cc[:, None]) | (
            (cc[None, :] == cc[:, None]) & (cid[None, :] < cid[:, None]))
        lost = (dup & smaller).any(axis=1)
        rows += [(int(i), int(c), float(x), int(not l))
                 for i, x, l in zip(cid, cc, lost)]
    rows.sort()
    return rows


def _hash60_py(s: str) -> int:
    """Python twin of functions.textfns.hash60 (md5 first 15 hex)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _lsh_pairs_local(sf_dir: str, num_hashes: int = 8,
                     rows_per_band: int = 2,
                     shingle_k: int = 3) -> list[tuple[int, int]]:
    """Single-node twin of dedup.lsh_candidate_pairs (same md5 hash60,
    multiply-mod minhash family, band signature join)."""
    import re

    M = 35184372088832  # MINHASH_BASE_MOD = 2^45
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    buckets: dict[tuple, list[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        ws = [w for w in re.split("[^a-z]+", str(text).lower()) if w]
        if len(ws) < shingle_k:
            sh = {" ".join(ws)}
        else:
            sh = {" ".join(ws[i:i + shingle_k])
                  for i in range(len(ws) - shingle_k + 1)}
        hs = [_hash60_py(s) % M for s in sh]
        sig = [min((h * ((2 * seed + 1) * 12347) + seed * 7919) % M
                   for h in hs) for seed in range(num_hashes)]
        for band in range(num_hashes // rows_per_band):
            key = (band, tuple(sig[band * rows_per_band:
                                   (band + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(int(doc_id))
    pairs = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return sorted(pairs)


def pagerank_rows(sf_dir: str, damping: float = 0.85,
                  iterations: int = 10) -> list[tuple]:
    """operators.graph.pagerank over the LSH candidate-pair graph:
    same symmetrized edges, same fixed power iterations, rank 6dp."""
    pairs = _lsh_pairs_local(sf_dir)
    nodes = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    if n == 0:
        return []
    nbrs: list[list[int]] = [[] for _ in range(n)]
    for a, b in pairs:
        nbrs[idx[a]].append(idx[b])
        nbrs[idx[b]].append(idx[a])
    deg = np.array([len(x) for x in nbrs], dtype=np.float64)
    r = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iterations):
        out = r / deg
        c = np.zeros(n)
        for i, ns in enumerate(nbrs):
            c[i] = sum(out[j] for j in ns)
        r = base + damping * c
    return [(int(v), float(np.round(r[idx[v]], 6))) for v in nodes]


def ann_pq_rows(sf_dir: str, k: int = 5, m: int = 8, ksub: int = 16,
                sample_size: int = 10_000, query_max: int = 10) -> list[tuple]:
    """similarity.pq_topk: same id-ordered training sample, same seeded
    per-subspace L2 k-means, same ADC lookup-table scoring."""
    from bigdata_event_stream_detection_spark.operators.similarity import (
        _pq_codebooks,
    )

    ids, M = _load_embeddings(sf_dir)
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    Sn = Mn[:sample_size]
    books = _pq_codebooks(Sn, m, ksub)
    chunks = np.array_split(np.arange(Mn.shape[1]), m)
    qm = ids < query_max
    Qn, q_ids = Mn[qm], ids[qm]
    scores = np.zeros((Qn.shape[0], Mn.shape[0]))
    for j, ch in enumerate(chunks):
        Xj = Mn[:, ch]
        d2 = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes = np.argmin(d2, axis=1)
        lut = Qn[:, ch] @ books[j].T
        scores += lut[:, codes]
    rows = []
    for qi, qid in enumerate(q_ids):
        mask = ids != qid
        n_ids, s = ids[mask], scores[qi, mask]
        ordk = np.lexsort((n_ids, -s))[:k]
        for r, idx in enumerate(ordk, start=1):
            rows.append((int(qid), int(n_ids[idx]), r,
                         spark_round(float(s[idx]), 6)))
    return rows


def remap_rows(sf_dir: str, vocab_keep: int = 50,
               unk_id: int = -1) -> list[tuple]:
    """sources.tokenize.remap_token_ids over the standard sequences:
    ids < vocab_keep renumber to (vocab_keep-1 - id), everything else
    folds to unk_id; order-exact md5 fingerprint of the result."""
    import hashlib

    seqs = load_sequences(sf_dir)
    rows = []
    for doc_id, toks in zip(seqs["doc_id"], seqs["tokens"]):
        out = [vocab_keep - 1 - int(t) if t < vocab_keep else unk_id
               for t in toks]
        fp = hashlib.md5(",".join(map(str, out)).encode()).hexdigest()
        rows.append((str(doc_id), len(out), fp))
    rows.sort()
    return rows


def span_corruption_rows(sf_dir: str, mask_rate: float = 0.15,
                         span_len: int = 3, sentinel_base: int = -1,
                         salt: str = "t5") -> list[tuple]:
    """operators.objectives.span_corruption: same md5-derived span
    starts, same union-mask/run semantics, order-exact fingerprints."""
    import hashlib

    period = max(1, round(float(span_len) / float(mask_rate)))
    seqs = load_sequences(sf_dir)
    rows = []
    for doc_id, toks in zip(seqs["doc_id"], seqs["tokens"]):
        t = [int(x) for x in toks]
        n = len(t)
        starts = [
            _hash60_py(f"{salt}|{doc_id}|{i}") % period == 0
            for i in range(1, n + 1)]
        mask = [any(starts[max(0, i - span_len + 1):i + 1])
                for i in range(n)]
        inp, tgt, span = [], [], -1
        prev = False
        for i in range(n):
            if mask[i] and not prev:
                span += 1
                s = sentinel_base - span
                inp.append(s)
                tgt.append(s)
            if mask[i]:
                tgt.append(t[i])
            else:
                inp.append(t[i])
            prev = mask[i]
        fp = lambda a: hashlib.md5(
            ",".join(map(str, a)).encode()).hexdigest()
        rows.append((str(doc_id), span + 1, len(inp), len(tgt),
                     fp(inp), fp(tgt)))
    rows.sort()
    return rows


def mlm_rows(sf_dir: str, mask_rate: float = 0.15,
             vocab_size: int = 30_000, mask_id: int = -1,
             keep_frac: float = 0.1, random_frac: float = 0.1,
             salt: str = "mlm") -> list[tuple]:
    """operators.objectives.mlm_masking: same md5-derived selection and
    80/10/10 action split; order-exact fingerprints."""
    import hashlib

    den = 1_000_000
    sel_thr = int(mask_rate * den)
    keep_thr = int(keep_frac * den)
    rnd_thr = int((keep_frac + random_frac) * den)
    seqs = load_sequences(sf_dir)
    rows = []
    for doc_id, toks in zip(seqs["doc_id"], seqs["tokens"]):
        inp, lab = [], []
        for i, t in enumerate(toks, start=1):
            t = int(t)
            sel = _hash60_py(f"{salt}|sel|{doc_id}|{i}") % den < sel_thr
            if not sel:
                inp.append(t)
                lab.append(-100)
                continue
            lab.append(t)
            act = _hash60_py(f"{salt}|act|{doc_id}|{i}") % den
            if act < keep_thr:
                inp.append(t)
            elif act < rnd_thr:
                inp.append(_hash60_py(f"{salt}|rnd|{doc_id}|{i}")
                           % vocab_size)
            else:
                inp.append(mask_id)
        fp = lambda a: hashlib.md5(
            ",".join(map(str, a)).encode()).hexdigest()
        rows.append((str(doc_id), len(inp),
                     sum(1 for x in lab if x != -100),
                     fp(inp), fp(lab)))
    rows.sort()
    return rows


def fim_rows(sf_dir: str, fim_rate: float = 0.5, pre_id: int = -1,
             mid_id: int = -2, suf_id: int = -3,
             salt: str = "fim") -> list[tuple]:
    """operators.objectives.fim_transform: same gate/cut hashing, same
    PSM assembly; order-exact fingerprint."""
    import hashlib

    den = 1_000_000
    seqs = load_sequences(sf_dir)
    rows = []
    for doc_id, toks in zip(seqs["doc_id"], seqs["tokens"]):
        t = [int(x) for x in toks]
        n = len(t)
        gate = _hash60_py(f"{salt}|gate|{doc_id}") % den
        is_fim = gate < int(fim_rate * den) and n >= 3
        if is_fim:
            c1 = _hash60_py(f"{salt}|c1|{doc_id}") % (n - 1) + 1
            c2 = _hash60_py(f"{salt}|c2|{doc_id}") % (n - 1) + 1
            a, b = min(c1, c2), max(c1, c2)
            out = ([pre_id] + t[:a] + [suf_id] + t[b:]
                   + [mid_id] + t[a:b])
        else:
            out = t
        fp = hashlib.md5(",".join(map(str, out)).encode()).hexdigest()
        rows.append((str(doc_id), bool(is_fim), len(out), fp))
    rows.sort()
    return rows


def token_stats_rows(sf_dir: str) -> list[tuple]:
    """text.token_sequence_stats over the standard sequences: same
    first-occurrence distinct order, same accumulation order."""
    seqs = load_sequences(sf_dir)
    rows = []
    for doc_id, toks in zip(seqs["doc_id"], seqs["tokens"]):
        toks = [int(t) for t in toks]
        n = len(toks)
        seen = dict.fromkeys(toks)           # first-occurrence order
        counts = [toks.count(t) for t in seen]
        ent = 0.0
        for c in counts:
            ent = ent - (c / n) * np.log(c / n)
        top = max(counts) / n
        if n >= 2:
            bigs = [f"{toks[i]},{toks[i+1]}" for i in range(n - 1)]
            dup = 1.0 - len(dict.fromkeys(bigs)) / (n - 1)
        else:
            dup = 0.0
        rows.append((str(doc_id), n,
                     spark_round(len(seen) / n, 6),
                     spark_round(top, 6),
                     spark_round(dup, 6),
                     spark_round(ent, 6)))
    rows.sort()
    return rows


def packed_rows(sf_dir: str, budget_tokens: int = 400) -> list[tuple]:
    """sampling.pack_sequences over the standard sequences (doc ids
    cast to long for numeric order): per (source, pack) — n_docs,
    total_tokens, md5 of the boundary prefix array, md5 of the packed
    token stream."""
    import hashlib

    seqs = load_sequences(sf_dir)
    seqs = seqs.assign(_oid=seqs["doc_id"].astype(int))
    rows = []
    for source, g in seqs.groupby("source"):
        g = g.sort_values("_oid")
        cum = 0
        packs: dict[int, list] = {}
        for _, r in g.iterrows():
            pid = cum // budget_tokens
            cum += int(r["n_tok"])
            packs.setdefault(pid, []).append(r["tokens"])
        for pid, arrs in packs.items():
            bounds = [0]
            flat = []
            for a in arrs:
                flat.extend(int(x) for x in a)
                bounds.append(bounds[-1] + len(a))
            bfp = hashlib.md5(",".join(map(str, bounds)).encode()).hexdigest()
            tfp = hashlib.md5(",".join(map(str, flat)).encode()).hexdigest()
            rows.append((source, int(pid), len(arrs), bounds[-1],
                         bfp, tfp))
    rows.sort()
    return rows


def ann_ivfpq_rows(sf_dir: str, k: int = 5, n_centroids: int = 8,
                   n_probe: int = 3, m: int = 8, ksub: int = 16,
                   sample_size: int = 10_000,
                   query_max: int = 10) -> list[tuple]:
    """similarity.ivf_pq_topk: same seeded coarse quantizer, same
    residual sub-codebooks, same ADC score = <q,centroid> + LUT sums,
    same probe restriction and (score desc, id asc) top-k."""
    from bigdata_event_stream_detection_spark.operators.kernels import (
        stable_seed,
    )
    from bigdata_event_stream_detection_spark.operators.similarity import (
        _kmeans, _pq_codebooks,
    )

    ids, M = _load_embeddings(sf_dir)
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    Sn = Mn[:sample_size]
    cent = _kmeans(Sn, n_centroids, seed=stable_seed("ivfpq", n_centroids))
    resid_sample = Sn - cent[np.argmax(Sn @ cent.T, axis=1)]
    books = _pq_codebooks(resid_sample, m, ksub)
    chunks = np.array_split(np.arange(Mn.shape[1]), m)

    qm = ids < query_max
    Qn, q_ids = Mn[qm], ids[qm]
    qcent = Qn @ cent.T
    probes = np.argsort(-qcent, axis=1)[:, :n_probe]
    luts = [Qn[:, ch] @ books[j].T for j, ch in enumerate(chunks)]

    cell = np.argmax(Mn @ cent.T, axis=1)
    resid = Mn - cent[cell]
    codes = np.empty((len(chunks), Mn.shape[0]), dtype=np.int64)
    for j, ch in enumerate(chunks):
        Xj = resid[:, ch]
        d2 = ((Xj[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[j] = np.argmin(d2, axis=1)

    rows = []
    for qi, qid in enumerate(q_ids):
        mask = np.isin(cell, probes[qi]) & (ids != qid)
        idx = np.nonzero(mask)[0]
        if idx.size == 0:
            continue
        s = qcent[qi, cell[idx]].copy()
        for j in range(len(chunks)):
            s += luts[j][qi, codes[j, idx]]
        sel = np.lexsort((ids[idx], -s))[:k]
        for r, p in enumerate(sel, start=1):
            rows.append((int(qid), int(ids[idx[p]]), r,
                         spark_round(float(s[p]), 6)))
    return rows


def _bpe_word_counts(sf_dir: str, min_word_count: int):
    import re
    from collections import Counter
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    wc: Counter = Counter()
    for t in docs["text"]:
        wc.update(w for w in re.split(r"[^a-z]+", str(t).lower()) if w)
    return docs, {w: c for w, c in wc.items() if c >= min_word_count}


def _bpe_learn(word_counts: dict, num_merges: int,
               batch_size: int = 1) -> list[tuple]:
    """Independent dict-based BPE trainer (Counter over adjacent pairs,
    ties by (count desc, left, right)) — deliberately NOT the engine's
    DataFrame path. ``batch_size > 1`` mirrors the engine's batched
    greedy policy: top-m SYMBOL-DISJOINT pairs per round, colliding
    pairs deferred to the next round."""
    from collections import Counter
    vocab = {w: list(w) for w in word_counts}
    merges = []
    while len(merges) < num_merges:
        m = min(batch_size, num_merges - len(merges))
        pc: Counter = Counter()
        for w, syms in vocab.items():
            c = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        ranked = sorted(pc.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        chosen, used = [], set()
        for (left, right), n in ranked:
            if left in used or right in used:
                continue
            chosen.append((len(merges) + len(chosen) + 1, left, right,
                           left + right, int(n)))
            used.update((left, right))
            if len(chosen) >= m:
                break
        merges.extend(chosen)
        for _, left, right, _, _ in chosen:
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == left
                            and syms[i + 1] == right):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
    return merges


def bpe_merge_rows(sf_dir: str, num_merges: int = 30,
                   min_word_count: int = 2) -> list[tuple]:
    _, wc = _bpe_word_counts(sf_dir, min_word_count)
    return _bpe_learn(wc, num_merges)


def bpe_encode_rows(sf_dir: str, num_merges: int = 30,
                    min_word_count: int = 2) -> list[tuple]:
    import hashlib
    import re
    docs, wc = _bpe_word_counts(sf_dir, min_word_count)
    merges = [(l, r) for _, l, r, _, _ in _bpe_learn(wc, num_merges)]
    memo: dict = {}

    def enc(w):
        if w in memo:
            return memo[w]
        syms = list(w)
        for left, right in merges:
            if len(syms) < 2:
                break
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        memo[w] = syms
        return syms

    rows = []
    for doc_id, t in zip(docs["doc_id"], docs["text"]):
        ws = [w for w in re.split(r"[^a-z]+", str(t).lower()) if w]
        toks = [s for w in ws for s in enc(w)]
        rows.append((int(doc_id), len(ws), len(toks),
                     hashlib.md5(" ".join(toks).encode()).hexdigest()))
    return rows


def ann_pq_rescored_rows(sf_dir: str, k: int = 5, m: int = 8,
                         ksub: int = 16, rescore_factor: int = 4,
                         sample_size: int = 10_000,
                         query_max: int = 10) -> list[tuple]:
    """similarity.pq_topk(rescore_factor=R): ADC shortlist of R*k by
    (score desc, id asc), then exact cosine rerank of the shortlist."""
    from bigdata_event_stream_detection_spark.operators.similarity import (
        _pq_codebooks,
    )

    ids, M = _load_embeddings(sf_dir)
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)
    books = _pq_codebooks(Mn[:sample_size], m, ksub)
    chunks = np.array_split(np.arange(Mn.shape[1]), m)
    qm = ids < query_max
    Qn, q_ids = Mn[qm], ids[qm]
    scores = np.zeros((Qn.shape[0], Mn.shape[0]))
    for j, ch in enumerate(chunks):
        d2 = ((Mn[:, ch][:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes = np.argmin(d2, axis=1)
        scores += (Qn[:, ch] @ books[j].T)[:, codes]
    rows = []
    for qi, qid in enumerate(q_ids):
        mask = ids != qid
        n_ids, s = ids[mask], scores[qi, mask]
        short = np.lexsort((n_ids, -s))[:rescore_factor * k]
        cand_ids = n_ids[short]
        cand_vecs = M[mask][short]
        qv = M[ids == qid][0]
        cos = _pair_cos(np.broadcast_to(qv, cand_vecs.shape).copy(),
                        cand_vecs)
        ordk = np.lexsort((cand_ids, -cos))[:k]
        for r, idx in enumerate(ordk, start=1):
            rows.append((int(qid), int(cand_ids[idx]), r,
                         spark_round(float(cos[idx]), 6)))
    return rows


def media_features_rows(sf_dir: str, dim: int = 16) -> list[tuple]:
    """(doc_id, feature_sum) — the md5-seeded fake decode over the
    documents' utf-8 bytes, summed with the same left-fold order as
    Spark's F.aggregate."""
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        _fake_decode,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        feat = _fake_decode(str(text).encode("utf-8"), dim)
        s = 0.0
        for v in feat:
            s = s + float(v)
        rows.append((str(doc_id), spark_round(s, 6)))
    return rows


def media_decode_feature_rows(n_rows: int = 90) -> list[tuple]:
    """(doc_id, kind, feature_sum) — the REAL-codec path: regenerate
    each deterministic genuinely-encoded payload (PNG/WAV/Y4M), decode
    it with the same stdlib codecs the Spark workers run, and sum the
    feature vector with Spark's F.aggregate left-fold order."""
    from bigdata_event_stream_detection_spark.operators.codecs import (
        media_feature_vector,
    )
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        synth_encoded_row,
    )

    rows = []
    for i in range(n_rows):
        doc_id, kind, payload, meta = synth_encoded_row(i)
        feat = media_feature_vector(payload, meta, 16)
        s = 0.0
        for v in feat:
            s = s + float(v)
        rows.append((doc_id, kind, spark_round(s, 6)))
    return rows


def media_resize_fp_rows(n_rows: int = 90, width: int = 8,
                         height: int = 6) -> list[tuple]:
    """(doc_id, fp) — md5 of the re-encoded PNG after the real
    decode -> nearest-neighbour resize, images only."""
    from bigdata_event_stream_detection_spark.operators import codecs
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        synth_encoded_row,
    )

    rows = []
    for i in range(n_rows):
        doc_id, kind, payload, meta = synth_encoded_row(i)
        if kind != "image":
            continue
        out = codecs.resize_payload(payload, meta["codec"], width, height)
        rows.append((doc_id, codecs.fingerprint(out)))
    return rows


def media_frame_fp_rows(n_rows: int = 90,
                        every_n: int = 2) -> list[tuple]:
    """(doc_id, frame_no, fp) — md5 of each PNG-encoded sampled frame
    from the real Y4M container (frame count from the container, not
    the metadata)."""
    from bigdata_event_stream_detection_spark.operators import codecs
    from bigdata_event_stream_detection_spark.operators.multimodal import (
        synth_encoded_row,
    )

    rows = []
    for i in range(n_rows):
        doc_id, kind, payload, _meta = synth_encoded_row(i)
        if kind != "video":
            continue
        for f_no in range(0, codecs.y4m_n_frames(payload), every_n):
            frame = codecs.extract_frame(payload, "y4m", f_no)
            rows.append((doc_id, f_no, codecs.fingerprint(frame)))
    return rows


def seq_match_rows_pdf(
    pdf: pd.DataFrame,
    steps: list[tuple[str, str, str]],
    within_seconds: float | None,
    time_col: str = "ts",
    key_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
    after_match: str = "past_last_row",
) -> list[tuple]:
    """Single-node recompute of operators/cep.py:match_seq — the same
    documented semantics (relaxed contiguity, greedy quantifiers, skip
    past last row, retry after a failed anchor, horizon from anchor to
    last matched event) written as an explicit per-user state machine
    over plain row tuples instead of the Spark kernel's index scan.
    Rows: (key, first_event_id, start_us, end_us, n_events,
    step_counts)."""
    labels = [s[0] for s in steps]
    types = [s[1] for s in steps]
    quants = [s[2] for s in steps]
    k = len(steps)
    horizon_us = (int(round(float(within_seconds) * 1e6))
                  if within_seconds is not None else 2 ** 62)
    wanted = set(types)
    rows = []
    sub = pdf[pdf[type_col].isin(wanted)]
    for key, g in sub.groupby(key_col, sort=True):
        evs = sorted(
            (int(pd.Timestamp(t).value) // 1_000, int(e), str(ty))
            for t, e, ty in zip(g[time_col], g[id_col], g[type_col]))
        n = len(evs)
        i = 0
        while i < n:
            # next anchor
            while i < n and evs[i][2] != types[0]:
                i += 1
            if i == n:
                break
            a = i
            deadline = evs[a][0] + horizon_us
            s = 0
            counts = [0] * k
            counts[0] = 1
            last = a
            done = (k == 1 and quants[0] != "+")
            j = a + 1
            while not done and j < n and evs[j][0] <= deadline:
                t = evs[j][2]
                if quants[s] == "+" and t == types[s]:
                    counts[s] += 1
                    last = j
                else:
                    # earliest reachable transition: optional ('?')
                    # steps may be hopped, a mandatory step may not
                    nxt = s + 1
                    while nxt < k:
                        if t == types[nxt]:
                            s = nxt
                            counts[s] = 1
                            last = j
                            if s == k - 1 and quants[s] != "+":
                                done = True
                            break
                        if quants[nxt] != "?":
                            break
                        nxt += 1
                j += 1
            if not done and all(q == "?" for q in quants[s + 1:]):
                done = True   # trailing '+' run / all-optional tail
                              # closed by the horizon
            if done:
                rows.append((
                    key, evs[a][1], evs[a][0], evs[last][0],
                    int(sum(counts)),
                    ",".join(f"{lb}={c}"
                             for lb, c in zip(labels, counts))))
                i = (last + 1 if after_match == "past_last_row"
                     else a + 1)
            else:
                i = a + 1
    return rows


def seq_match_rows(sf_dir: str, steps, within_seconds) -> list[tuple]:
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type"])
    return [(int(key),) + tuple(rest) for key, *rest in
            seq_match_rows_pdf(ev, steps, within_seconds)]


def seq_rules_rows(sf_dir: str, rules: list[tuple]) -> list[tuple]:
    """Union of seq_match_rows over a (rule_id, steps_spec,
    within_seconds) rules table — the single-node recompute for
    operators/cep.py:match_seq_rules. Spec parsing (and its label
    suffixing) is shared with the operator; the match semantics
    recompute stays the independent state machine above."""
    from bigdata_event_stream_detection_spark.operators.cep import (
        _parse_steps_spec,
    )

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_id", "event_type"])
    out = []
    for rule_id, spec, within in rules:
        steps = _parse_steps_spec(spec)
        for key, eid, s, e, n, sc in seq_match_rows_pdf(
                ev, steps, within):
            out.append((int(key), str(rule_id), int(eid), int(s),
                        int(e), int(n), str(sc)))
    return out


def seq_match_pred_rows(
    sf_dir: str,
    steps: list[tuple[str, str, str]],
    within_seconds: float,
) -> list[tuple]:
    """Single-node recompute of match_seq(classify="predicate"): rows
    are classified to the FIRST step predicate they satisfy with a
    DuckDB CASE chain (predicates are written dialect-portably), then
    the independent state machine runs on the step codes."""
    import duckdb

    preds = list(dict.fromkeys(s[1] for s in steps))
    case = ("CASE " + " ".join(f"WHEN ({p}) THEN {i}"
                               for i, p in enumerate(preds)) + " END")
    con = duckdb.connect()
    pdf = con.sql(
        f"SELECT user_id, ts, event_id, tid FROM ("
        f"SELECT user_id, ts, event_id, {case} AS tid "
        f"FROM '{sf_dir}/events.parquet') WHERE tid IS NOT NULL").df()
    pdf["event_type"] = pdf["tid"].astype(int).astype(str)
    coded_steps = [(lb, str(preds.index(p)), q) for lb, p, q in steps]
    return [(int(key),) + tuple(rest) for key, *rest in
            seq_match_rows_pdf(pdf, coded_steps, within_seconds)]
