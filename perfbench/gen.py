"""Seeded benchmark inputs: generated once per (workload, seed), cached
under ``perfbench/.data`` with a manifest of row counts and a content
digest that every run verifies before timing.

Two input families:

* planted-HMM sequences — the engine's ``sequences`` table shape
  ``(doc_id, tokens, n_tok, source, event_time)``. Tokens are sampled
  from the package's own ``PlantedHmm`` matrices, sources follow its
  70%-HEAVY skew and timestamps its one-doc-per-2-minutes clock, exactly
  like ``sources.synthetic.generate_sequences``. The sampling is
  vectorized over documents here (the package samples token by token in
  Python, ~1.4 ms/doc), so a fresh seed costs seconds, not minutes.
  Docs are written in event-time order; the live-stream workload cuts
  them into feed slices plus a far-future sentinel slice.
* near-dup text — letter-only words, a boilerplate family (a shared
  paragraph plus a short unique tail) that makes one hot LSH bucket,
  planted duplicate groups (copies that differ only in case,
  punctuation and spacing) and edited groups (copies with one extra
  word) for LSH recall.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST = "manifest.json"
VERSION = 5          # bump when generation changes: cached inputs regenerate


def sequences_table(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` planted-HMM docs in event-time order. The planted model
    is the package default for every seed; the seed draws the sample."""
    from bigdata_event_stream_detection_spark.sources.synthetic import (
        BASE_EPOCH, DEFAULT_SOURCES, DOC_STEP_SECONDS, SOURCE_WEIGHTS,
        PlantedHmm)

    pi, a, b = PlantedHmm().matrices()
    rng = np.random.default_rng([seed, n_docs])
    w = np.asarray(SOURCE_WEIGHTS) / np.sum(SOURCE_WEIGHTS)
    src_idx = rng.choice(len(DEFAULT_SOURCES), size=n_docs, p=w)
    n_tok = np.clip(rng.lognormal(np.log(120), 0.5, n_docs),
                    60, 400).astype(np.int64)
    # state chains, vectorized over docs: one uniform draw per step
    n_states = pi.size
    cum_a = np.cumsum(a, axis=1)
    cum_a[:, -1] = 1.0
    t_max = int(n_tok.max())
    states = np.empty((n_docs, t_max), dtype=np.int8)
    s = np.searchsorted(np.cumsum(pi), rng.random(n_docs), side="right")
    s = np.minimum(s, n_states - 1)
    for t in range(t_max):
        states[:, t] = s
        u = rng.random(n_docs)
        s = (u[:, None] >= cum_a[s]).sum(axis=1)
        s = np.minimum(s, n_states - 1)
    live = np.arange(t_max)[None, :] < n_tok[:, None]
    flat_states = states[live]               # row-major = per-doc runs
    obs = np.empty(flat_states.size, dtype=np.int32)
    cum_b = np.cumsum(b, axis=1)
    for j in range(n_states):
        m = flat_states == j
        draw = np.searchsorted(cum_b[j], rng.random(int(m.sum())),
                               side="right")
        obs[m] = np.minimum(draw, b.shape[1] - 1)
    offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int32)
    seq = np.arange(n_docs, dtype=np.int64)
    ts = (BASE_EPOCH + seq * DOC_STEP_SECONDS
          + rng.integers(0, DOC_STEP_SECONDS, n_docs))
    names = np.asarray(DEFAULT_SOURCES, dtype=object)[src_idx]
    doc_ids = [f"{s}-{i:08d}" for s, i in zip(names, seq)]
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets),
                                           pa.array(obs, pa.int32())),
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": pa.array(names.tolist(), pa.string()),
        "event_time": pa.array(ts * 1_000_000,
                               pa.timestamp("us", tz="UTC")),
    })


_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _words(ids: np.ndarray) -> list[str]:
    """Letter-only word for each id (base-26, prefixed so every word
    has at least 4 letters)."""
    out = []
    for i in ids.tolist():
        s = ""
        i = int(i)
        while True:
            s = _LETTERS[i % 26] + s
            i //= 26
            if i == 0:
                break
        out.append("w" + s.rjust(3, "a"))
    return out


def near_dup_table(seed: int, n_docs: int, *, vocab: int = 20000,
                   doc_words: int = 60, boilerplate_share: float = 0.05,
                   boilerplate_words: int = 50, tail_words: int = 1,
                   group_share: float = 0.12, edited_share: float = 0.08,
                   group_size: int = 4):
    """(documents table, planted groups, edited groups, boilerplate ids).

    * boilerplate: a shared paragraph plus a one-word unique tail (the
      hot LSH bucket: these docs collide in every band);
    * planted groups: a base doc and copies that differ only in case,
      punctuation and spacing, so every copy has the same shingles;
    * edited groups: a base doc and copies with one extra word appended
      (shingle Jaccard ~0.98), for measuring LSH recall;
    * the rest: unique random text."""
    rng = np.random.default_rng([seed, n_docs, 7])
    lex = np.asarray(_words(np.arange(vocab)), dtype=object)

    def words(n):
        return list(lex[rng.integers(0, vocab, n)])

    texts: list[str] = []

    def add_group(variants) -> list[int]:
        first = len(texts)
        texts.extend(variants)
        return list(range(first, len(texts)))

    paragraph = " ".join(words(boilerplate_words))
    n_bp = int(n_docs * boilerplate_share)
    for _ in range(n_bp):
        texts.append(paragraph + " " + " ".join(words(tail_words)))
    planted, edited = [], []
    for _ in range(int(n_docs * group_share) // group_size):
        w = words(doc_words)
        forms = [" ".join(w), " ".join(w).upper() + ".",
                 ", ".join(w), "  ".join(x.capitalize() for x in w) + "!"]
        planted.append(add_group(forms[:group_size]))
    for _ in range(int(n_docs * edited_share) // group_size):
        base = " ".join(words(doc_words))
        edited.append(add_group(
            [base] + [base + " " + words(1)[0]
                      for _ in range(group_size - 1)]))
    while len(texts) < n_docs:
        texts.append(" ".join(words(doc_words)))
    # ids in a seeded shuffled order so no family sits in one id range
    ids = [f"d{int(p):07d}" for p in rng.permutation(n_docs)]
    table = pa.table({"doc_id": pa.array(ids, pa.string()),
                      "text": pa.array(texts, pa.string())})
    return (table, [[ids[i] for i in g] for g in planted],
            [[ids[i] for i in g] for g in edited], ids[:n_bp])


# ---------------------------------------------------------------------------
# cache + manifest
# ---------------------------------------------------------------------------

def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def _data_files(d: str) -> list[str]:
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d)
                  for f in fs if f.endswith(".parquet"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows // 8))


def generate(kind: str, seed: int, size: dict, out_dir: str) -> float:
    """Write one input set unless its manifest already exists; returns
    the seconds spent generating (0.0 on a cache hit)."""
    import shutil
    manifest_path = os.path.join(out_dir, MANIFEST)
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            old = json.load(f)
        if old["size"] == size and old.get("version") == VERSION:
            return 0.0
        shutil.rmtree(out_dir)           # generated by other settings
    t0 = time.perf_counter()
    tmp = out_dir + ".tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    extra: dict = {}
    if kind == "sequences":
        table = sequences_table(seed, size["docs"])
        slices = size.get("slices")
        if slices:
            # time-ordered feed slices + one far-future sentinel doc that
            # pushes the watermark past every real window
            bounds = np.linspace(0, table.num_rows, slices + 1).astype(int)
            for i in range(slices):
                _write(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(tmp, "slices", f"slice-{i:04d}.parquet"))
            last = table.slice(table.num_rows - 1, 1).to_pylist()[0]
            last["doc_id"] = "ZZZ-sentinel"
            last["event_time"] = last["event_time"].replace(
                year=last["event_time"].year + 10)
            _write(pa.Table.from_pylist([last], schema=table.schema),
                   os.path.join(tmp, "slices", f"slice-{slices:04d}.parquet"))
        _write(table, os.path.join(tmp, "corpus", "part-0.parquet"))
    elif kind == "documents":
        table, planted, edited, bp_ids = near_dup_table(seed, size["docs"])
        _write(table, os.path.join(tmp, "corpus", "part-0.parquet"))
        extra = {"planted_groups": planted, "edited_groups": edited,
                 "boilerplate_ids": bp_ids}
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    files = _data_files(tmp)
    manifest = {
        "kind": kind, "seed": seed, "size": size, "version": VERSION,
        "rows": {os.path.relpath(p, tmp): pq.ParquetFile(p).metadata.num_rows
                 for p in files},
        "digest": _digest(files), **extra,
    }
    with open(os.path.join(tmp, MANIFEST), "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, out_dir)
    return time.perf_counter() - t0


def verify(out_dir: str) -> dict:
    """Check row counts and content digest against the manifest; raises
    on any mismatch. Returns the manifest."""
    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    files = _data_files(out_dir)
    rows = {os.path.relpath(p, out_dir): pq.ParquetFile(p).metadata.num_rows
            for p in files}
    if rows != manifest["rows"]:
        raise RuntimeError(f"input row counts differ from manifest in "
                           f"{out_dir}")
    if _digest(files) != manifest["digest"]:
        raise RuntimeError(f"input digest differs from manifest in "
                           f"{out_dir}")
    return manifest
