"""icelite — a minimal Iceberg-shaped table format over plain parquet.

The north rule targets "Iceberg tables of pre-tokenized training
sequences"; this sandbox has no Iceberg runtime jars (sources/tables.py
carries the real-Iceberg adapter for clusters that do). icelite gives
the engine the *semantics* the rule relies on, locally and honestly,
with the same metadata shape Iceberg uses — so the table-maintenance
levers named in BENCH.md's CDC analysis ("table-format MERGE") have a
real implementation rather than a pointer at a dependency:

* **Snapshot isolation + atomic commits.** A table is a directory of
  immutable parquet data files plus a ``meta/`` log of snapshot JSONs.
  A commit is the atomic creation (``os.link`` of a fully-written temp
  file — readers can never observe a partial snapshot) of
  ``snap-<id>.json``; concurrent committers race on the id and the
  loser retries (appends) or aborts (replace ops), exactly Iceberg's
  optimistic concurrency model.
* **Manifest reuse.** Snapshots reference immutable *manifest* files
  (lists of data files + per-file column stats); an append writes ONE
  new manifest and carries the parent's by reference, so commit
  metadata is O(files added), not O(table) — the property that lets
  Iceberg commit to million-file tables.
* **File-level min/max pruning.** Writer-collected parquet footer
  stats (pyarrow, metadata-only reads) are stored per file; readers
  pass simple predicates and files whose [min,max] cannot satisfy them
  are never handed to Spark — scan planning cost is O(manifests), like
  Iceberg's, and the Spark scan then applies the same predicate
  row-level (parquet row-group stats prune further inside each file).
* **Time travel.** ``read_table(version=N)`` / ``as_of_ms`` replay the
  snapshot log.
* **MERGE INTO (copy-on-write).** ``merge_into`` plans the touched
  files with a distributed stats join (never collecting source rows),
  rewrites ONLY those, and carries every other file by reference —
  untouched files stay byte-identical on disk (asserted in
  tests/test_icelite.py). This is the table-format MERGE the CDC
  analysis names as the uniform-key scale lever (streaming/cdc.py's
  delta mode is the merge-on-read counterpart).
* **Maintenance.** ``compact_files`` (small-file rewrite as a replace
  snapshot) and ``expire_snapshots`` (drop history + delete
  unreferenced files) mirror Iceberg's ``rewrite_data_files`` /
  ``expire_snapshots`` actions.
* **Schema evolution (field ids).** Every column has a field id
  (assigned at create/``add_columns``, carried in the snapshot and
  stamped per data file as ``cols``), so :func:`rename_column` and
  :func:`drop_column` are METADATA-ONLY: old files resolve their
  columns by id through :func:`_read_mapped` (renamed columns read
  under their write-time name; columns that postdate a file
  null-fill), a dropped-then-re-added name gets a fresh id (no data
  resurrection), and stats/merge pruning translates predicate names
  per file so it stays exact across renames. Partition-spec sources
  cannot evolve; live equality-delete keys can be RENAMED (entries
  carry the key's field id since r5 — read paths resolve it) but not
  dropped, and legacy kid-less entries still require compact-first.
* **Merge-on-read deletes (Iceberg v2).** Every data/delete file
  carries a *data sequence number* (the committing snapshot id, spec
  §Sequence Numbers). ``delete_where(..., strategy="merge-on-read")``
  commits **positional delete files** (``file, pos`` rows — no data
  file is rewritten); ``merge_into(..., strategy="merge-on-read")``
  commits the upserted rows plus one **equality delete file** of the
  source keys, which kills rows only in data files with a *strictly
  smaller* sequence number — so the commit's own inserts, and any
  later re-insert, survive. Readers apply deletes with two
  vectorized anti-joins (``_metadata.file_path`` / ``row_index``
  supply positions; a broadcast file→seq map supplies sequence
  numbers); tables with no deletes pay nothing. ``compact_files`` and
  copy-on-write merges read through the delete-applied view, so a
  rewrite *folds deletes in* (rewritten files get a fresh, higher
  seq); ``remove_dangling_deletes`` then drops delete files that can
  no longer apply, metadata-only. This is the table-format lever for
  the measured CDC write-amplification wall: a per-trigger upsert
  writes O(batch), never O(store).
* **Table properties.** ``create_table(..., properties=...)`` /
  ``set_properties`` — a small committed key→value dict carried by
  every snapshot (Iceberg's table properties); the CDC sink stamps
  its read mode there so ``read_cdc_snapshot`` is self-describing.
* **Hidden partitioning.** ``create_table(..., partition_spec=
  [("doc_id", "bucket", 16), ("ts", "day")])`` routes every write
  through partition transforms (identity/bucket/truncate/day/hour);
  each data file carries exactly one partition tuple in its manifest
  entry and readers keep filtering on the SOURCE column — the format
  prunes by the transformed value, exactly (not min/max-conservative).
  A bucketed merge key additionally prunes ``merge_into`` planning to
  the source's buckets — the lever stats pruning lacks under uniform
  keys. See the "hidden partitioning" section below.

A snapshot-incremental *streaming source* over these tables (each
micro-batch = the data files appended by newly committed snapshots,
offsets = snapshot ids in the checkpoint) lives in
``icelite_source.py`` via the PySpark Python Data Source API.

Scale notes (what changes at 100 TB, by design): data/manifest files
live on an object store and ``meta/`` commit atomicity moves to a
catalog CAS (swap ``_commit_snapshot``'s link trick for the catalog
call — nothing else changes); stats collection stays writer-side and
metadata-only; merge planning is already a distributed join against a
manifest-sized stats table. Local ``os`` calls are confined to this
module.

Reference: the layout follows the public Iceberg spec's
snapshot/manifest split (iceberg.apache.org/spec); no reference-repo
code is involved (the reference has no table format at all — its
inputs are raw XML dumps, SURVEY.md §2.1).
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

__all__ = [
    "CommitConflict",
    "create_table",
    "append",
    "overwrite",
    "merge_into",
    "read_table",
    "table_files",
    "table_schema",
    "snapshots",
    "current_snapshot_id",
    "compact_files",
    "expire_snapshots",
    "remove_orphan_files",
    "rewrite_manifests",
    "rollback_to",
    "add_columns",
    "rename_column",
    "drop_column",
    "table_partition_spec",
    "delete_where",
    "remove_dangling_deletes",
    "table_properties",
    "set_properties",
]

_META = "meta"
_DATA = "data"

# parquet logical types whose footer min/max we trust for pruning.
# Skipped types (arrays, structs, binary, decimal) simply never prune —
# decimal stats arrive as Decimal objects whose JSON round-trip would
# have to preserve NUMERIC ordering to prune soundly, so they are
# conservatively excluded (their files are always scanned).
_STATS_TYPES = {"string", "integer", "long", "short", "byte", "float",
                "double", "date", "timestamp", "timestamp_ntz", "boolean"}


class CommitConflict(RuntimeError):
    """A replace-type commit (merge/compact/overwrite) lost the
    optimistic race: the table changed after planning. Re-run the
    operation against the new current snapshot (Iceberg semantics)."""


# ---------------------------------------------------------------------------
# metadata primitives


def _meta_dir(path: str) -> str:
    return os.path.join(path, _META)


def _snap_name(snapshot_id: int) -> str:
    return f"snap-{snapshot_id:010d}.json"


def _list_snapshot_ids(path: str) -> list[int]:
    try:
        names = os.listdir(_meta_dir(path))
    except FileNotFoundError:
        raise FileNotFoundError(f"not an icelite table: {path!r}")
    return sorted(int(n[5:15]) for n in names
                  if n.startswith("snap-") and n.endswith(".json"))


def current_snapshot_id(path: str) -> int:
    ids = _list_snapshot_ids(path)
    if not ids:
        raise FileNotFoundError(f"icelite table has no snapshots: {path!r}")
    return ids[-1]


def _load_snapshot(path: str, snapshot_id: int) -> dict:
    with open(os.path.join(_meta_dir(path), _snap_name(snapshot_id))) as f:
        return json.load(f)


def _load_manifest(path: str, name: str) -> list[dict]:
    with open(os.path.join(_meta_dir(path), name)) as f:
        return json.load(f)["files"]


def _write_manifest(path: str, entries: list[dict]) -> str:
    name = f"manifest-{uuid.uuid4().hex}.json"
    tmp = os.path.join(_meta_dir(path), f"._tmp-{name}")
    with open(tmp, "w") as f:
        json.dump({"files": entries}, f)
    os.replace(tmp, os.path.join(_meta_dir(path), name))
    return name


def _commit_snapshot(path: str, snap: dict) -> int:
    """Atomically claim ``snapshot_id = parent + 1``.

    The snapshot JSON is fully written to a temp file first, then
    ``os.link``ed to its final name — link fails with EEXIST if another
    committer claimed the id (the caller retries or aborts), and a
    reader can never observe a half-written snapshot. On an object
    store this single call-site becomes the catalog's compare-and-swap.
    """
    meta = _meta_dir(path)
    tmp = os.path.join(meta, f"._tmp-snap-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(snap, f)
    try:
        os.link(tmp, os.path.join(meta, _snap_name(snap["snapshot_id"])))
    except FileExistsError:
        raise CommitConflict(
            f"snapshot {snap['snapshot_id']} already committed")
    finally:
        os.unlink(tmp)
    return snap["snapshot_id"]


def _commit_retrying(path: str, attempt, max_retries: int, what: str) -> int:
    """Commit ``attempt(parent) -> (snap, manifests)`` against the
    current snapshot, re-running it against the new one after a lost
    race, at most ``max_retries`` times. ``manifests`` are the ones the
    attempt wrote for its snapshot alone: the next attempt removes them
    once it has written its own."""
    stale: list[str] = []
    for _ in range(max_retries):
        snap, written = attempt(
            _load_snapshot(path, current_snapshot_id(path)))
        _unlink_quiet(path, *[os.path.join(_META, m) for m in stale])
        stale = written
        try:
            return _commit_snapshot(path, snap)
        except CommitConflict:
            continue
    raise CommitConflict(f"{what} lost {max_retries} commit races")


def _child_snap(parent: dict, operation: str, manifests: list[str],
                added: list[str], summary: dict, *,
                delete_manifests: list[str] | None = None,
                schema: dict | None = None,
                partition_spec: list | None = None,
                properties: dict | None = None,
                field_ids: dict | None = None,
                next_field_id: int | None = None) -> dict:
    """Child-snapshot dict with the invariants every commit shares:
    schema / partition spec / properties / delete manifests / field
    ids are CARRIED from the parent unless the operation changes
    them."""
    carried_fids = parent.get("field_ids")
    carried_next = parent.get("next_field_id")
    return {
        "snapshot_id": parent["snapshot_id"] + 1,
        "parent_id": parent["snapshot_id"],
        "timestamp_ms": int(time.time() * 1000),
        "operation": operation,
        "field_ids": carried_fids if field_ids is None else field_ids,
        "next_field_id": (carried_next if next_field_id is None
                          else next_field_id),
        "schema": parent["schema"] if schema is None else schema,
        "partition_spec": (parent.get("partition_spec") or []
                           if partition_spec is None else partition_spec),
        "properties": (parent.get("properties") or {}
                       if properties is None else properties),
        "delete_manifests": (parent.get("delete_manifests") or []
                             if delete_manifests is None
                             else delete_manifests),
        "manifests": manifests,
        "added_manifests": added,
        "summary": summary,
    }


def _resolve_snapshot(path: str, version: int | None = None,
                      as_of_ms: int | None = None) -> dict:
    if version is not None and as_of_ms is not None:
        raise ValueError("pass version OR as_of_ms, not both")
    if version is not None:
        return _load_snapshot(path, version)
    ids = _list_snapshot_ids(path)
    if not ids:
        raise FileNotFoundError(f"icelite table has no snapshots: {path!r}")
    if as_of_ms is None:
        return _load_snapshot(path, ids[-1])
    chosen = None
    for i in ids:  # ids ascending; timestamps monotone per committer
        snap = _load_snapshot(path, i)
        if snap["timestamp_ms"] <= as_of_ms:
            chosen = snap
    if chosen is None:
        raise ValueError(f"no snapshot at or before {as_of_ms} in {path!r}")
    return chosen


def _snapshot_entries(path: str, snap: dict) -> list[dict]:
    out: list[dict] = []
    for m in snap["manifests"]:
        out.extend(_load_manifest(path, m))
    return out


def _snapshot_delete_entries(path: str, snap: dict) -> list[dict]:
    """Delete-file manifest entries (empty for pre-MOR snapshots)."""
    out: list[dict] = []
    for m in snap.get("delete_manifests", []):
        out.extend(_load_manifest(path, m))
    return out


def _all_manifests(snap: dict) -> list[str]:
    """Data + delete manifests a snapshot references (liveness scans)."""
    return list(snap["manifests"]) + list(snap.get("delete_manifests", []))


def _field_ids(snap: dict) -> dict[str, int]:
    """Current-name -> field-id map (Iceberg's schema field ids: a
    column's identity survives renames, and a dropped-then-re-added
    name gets a FRESH id so old files can never resurrect into it).
    Tables created before the feature synthesize positional ids —
    their files resolve by name, exactly the old behavior."""
    fids = snap.get("field_ids")
    if fids is None:
        schema = StructType.fromJson(snap["schema"])
        fids = {f.name: i + 1 for i, f in enumerate(schema.fields)}
    return dict(fids)


def _entry_local_name(entry: dict, col: str,
                      fids: dict[str, int]) -> tuple[str | None, bool]:
    """``col``'s name INSIDE ``entry``'s file. Returns ``(name,
    known)``: known=False for legacy entries with no recorded column
    ids (resolve by name, stats conservative); name=None when the
    file predates the column — every row is null there, so a non-null
    predicate can prune it exactly."""
    cols = entry.get("cols")
    if cols is None:
        return col, False
    fid = fids.get(col)
    for wname, wid in cols.items():
        if wid == fid:
            return wname, True
    return None, True


def _entry_names(entry: dict, fids: dict | None) -> dict | None:
    """Declared-name -> write-time-name map for one manifest entry
    (None = resolve by name: legacy entry or identity mapping). The
    worker-side (pyarrow) twin of :func:`_read_mapped`'s grouping."""
    cols = entry.get("cols")
    if not cols or not fids:
        return None
    id2w = {i: n for n, i in cols.items()}
    names = {dn: id2w.get(did) for dn, did in fids.items()}
    if all(w == dn for dn, w in names.items()):
        return None
    return names


def _stamped(entries: list[dict], seq: int) -> list[dict]:
    """Entries with the data sequence number of the committing
    snapshot (Iceberg's sequence-number inheritance: the number is
    final only once the commit wins its id, so retried commits
    re-stamp and re-write their manifest — a one-JSON cost)."""
    return [{**e, "seq": seq} for e in entries]


def _entry_seq(e: dict) -> int:
    # pre-MOR entries have no seq: 0 = "older than any delete"
    return e.get("seq", 0)


def _read_mapped(spark: SparkSession, path: str, schema: StructType,
                 fids: dict[str, int], entries: list[dict],
                 coords: bool = True) -> DataFrame | None:
    """Read ``entries`` rendered in ``schema``, resolving columns by
    FIELD ID (Iceberg schema evolution): files written under old
    names (pre-rename) project to the current names; files written
    before a column existed null-fill it; a column dropped and
    re-added under the same name never resurrects old data (the
    re-add got a fresh id). Files whose recorded ids match the
    current names — the overwhelmingly common case — go through one
    plain scan. Legacy entries with no recorded ids resolve by name.

    With ``coords`` every returned row carries ``_fname``/``_pos``
    scan coordinates (reused by :func:`_apply_deletes` — they must be
    derived at scan level, before any projection hides ``_metadata``);
    pass False on a delete-free read to keep the scan untouched.
    Returns None when ``entries`` is empty.
    """
    if not entries:
        return None
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    groups: dict = {}
    for e in entries:
        cols = e.get("cols")
        sig = None if cols is None else tuple(sorted(cols.items()))
        groups.setdefault(sig, []).append(e)
    current = {f.name: fids.get(f.name) for f in schema.fields}
    frames = []
    for sig, group in sorted(groups.items(),
                             key=lambda kv: kv[0] or ()):
        paths = [os.path.join(path, e["path"]) for e in group]
        if sig is None or dict(sig) == current:
            df = spark.read.schema(schema).parquet(*paths)
            if coords:
                df = df.select(
                    "*", fname.alias("_fname"),
                    F.col("_metadata.row_index").alias("_pos"))
            frames.append(df)
            continue
        id2w = {i: n for n, i in sig}
        read_fields, sel = [], []
        for f in schema.fields:
            w = id2w.get(fids.get(f.name))
            if w is not None:
                read_fields.append(StructField(w, f.dataType, True))
                sel.append(F.col(w).alias(f.name))
            else:
                sel.append(F.lit(None).cast(f.dataType).alias(f.name))
        df = spark.read.schema(StructType(read_fields)).parquet(*paths)
        extra = ([fname.alias("_fname"),
                  F.col("_metadata.row_index").alias("_pos")]
                 if coords else [])
        frames.append(df.select(*sel, *extra))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _declared_eq_key(d: dict, fids: dict) -> str:
    """Current declared column name for an equality-delete entry:
    resolve its stamped field id (``kid``) against the live schema, so
    the key column can be renamed after the delete was committed.
    Legacy entries without ``kid`` keep their write-time name (renames
    of such keys stay blocked by :func:`_check_evolvable`)."""
    kid = d.get("kid")
    if kid is not None:
        for n, i in (fids or {}).items():
            if i == kid:
                return n
    return d["key"]


def _apply_deletes(spark: SparkSession, path: str, snap: dict,
                   data_entries: list[dict], df: DataFrame) -> DataFrame:
    """Merge-on-read delete application (Iceberg v2 read path).

    Positional deletes anti-join on ``(file, pos)`` via the parquet
    scan's ``_metadata.file_path`` / ``row_index`` columns (no extra
    I/O — the position IS the scan order). Equality deletes reduce to
    one ``(key, max seq)`` row per deleted key and kill data rows whose
    file's sequence number is *strictly smaller* — the file→seq map is
    a broadcast of the (tiny) manifest metadata. Delete files that
    cannot apply to ``data_entries`` (older seq than every file, or
    positional refs to files not being read) are pruned driver-side,
    so a table with no applicable deletes pays nothing.

    Delete sets are bounded by compaction cadence (``compact_files``
    folds them into data files; ``remove_dangling_deletes`` drops the
    husks), so the broadcast hint is sound the way Iceberg's own
    delete-file reads are; a deployment that lets deletes outgrow
    memory has skipped table maintenance, not hit an engine limit.
    """
    dels = _snapshot_delete_entries(path, snap)
    if not dels or not data_entries:
        return df
    live = {os.path.basename(e["path"]): _entry_seq(e)
            for e in data_entries}
    min_seq = min(live.values())
    eq = [d for d in dels if d["type"] == "eq" and d["seq"] > min_seq]
    pos = [d for d in dels if d["type"] == "pos"
           and any(r in live for r in d.get("refs", live))]
    if not eq and not pos:
        return df
    cols = df.columns
    # scan coordinates: reuse the ones _read_mapped attached (after a
    # projection, _metadata no longer resolves), else derive them here
    out = df if "_fname" in df.columns else df.withColumn(
        "_fname",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1))
    if pos:
        pdel = spark.read.parquet(
            *[os.path.join(path, d["path"]) for d in pos])
        if "_pos" not in out.columns:
            out = out.withColumn("_pos", F.col("_metadata.row_index"))
        out = (out.join(F.broadcast(pdel.select(
                   F.col("file").alias("_fname"),
                   F.col("pos").alias("_pos"))),
                   ["_fname", "_pos"], "left_anti"))
    if eq:
        seq_map = spark.createDataFrame(
            sorted(live.items()), ["_fname", "_dseq"])
        out = out.join(F.broadcast(seq_map), "_fname", "left")
        # group by the key's CURRENT declared name (entries carry the
        # write-time name + field id, so renames since the delete was
        # committed resolve here); each delete file is read by its own
        # recorded write-time column name
        fids = _field_ids(snap)
        by_key: dict[str, list[dict]] = {}
        for d in eq:
            by_key.setdefault(_declared_eq_key(d, fids), []).append(d)
        for key, group in sorted(by_key.items()):
            kdel = None
            for d in group:
                part = (spark.read
                        .parquet(os.path.join(path, d["path"]))
                        .select(F.col(d["key"]).alias("_ekey"),
                                F.lit(d["seq"]).alias("_eseq")))
                kdel = part if kdel is None else kdel.unionByName(part)
            kdel = kdel.groupBy("_ekey").agg(F.max("_eseq").alias("_eseq"))
            out = (out.join(F.broadcast(kdel),
                            out[key] == F.col("_ekey"), "left")
                   .filter(F.col("_eseq").isNull()
                           | (F.col("_dseq") >= F.col("_eseq")))
                   .drop("_ekey", "_eseq"))
    return out.select(*cols)


def _write_aux_files(df: DataFrame, path: str, prefix: str) -> list[dict]:
    """Write ``df`` as immutable auxiliary (delete) files under
    ``data/`` — like :func:`_write_data_files` but with no stats, no
    partition routing, and no timestamp handling (delete files carry
    keys or positions, both plain)."""
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    import pyarrow.parquet as pq

    entries = []
    for root, _dirs, names in sorted(os.walk(staging)):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            md = pq.ParquetFile(src).metadata
            if md.num_rows == 0:
                continue
            rel = f"{_DATA}/{prefix}-{uuid.uuid4().hex}.parquet"
            dst = os.path.join(path, rel)
            os.replace(src, dst)
            entries.append({"path": rel, "rows": md.num_rows,
                            "bytes": os.path.getsize(dst)})
    import shutil

    shutil.rmtree(staging)
    return entries


def _unlink_quiet(path: str, *rels: str) -> None:
    for rel in rels:
        try:
            os.unlink(os.path.join(path, rel))
        except FileNotFoundError:
            pass


# ---------------------------------------------------------------------------
# data-file writing + writer-side stats


def _stats_from_footer(file_path: str, stat_cols: dict[str, str]) -> dict:
    """Per-column {min,max,nulls} from the parquet footer — a
    metadata-only read (no data pages), the same writer-side stats
    Iceberg records in its manifests."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file_path).metadata
    agg: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in stat_cols or "." in col.path_in_schema:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                agg.pop(name, None)
                stat_cols = {k: v for k, v in stat_cols.items() if k != name}
                continue
            lo, hi = _plain(st.min), _plain(st.max)
            nulls = st.null_count if st.null_count is not None else 0
            cur = agg.get(name)
            if cur is None:
                agg[name] = {"min": lo, "max": hi, "nulls": nulls}
            else:
                cur["min"] = min(cur["min"], lo)
                cur["max"] = max(cur["max"], hi)
                cur["nulls"] += nulls
    return agg


def _plain(v):
    """JSON-safe scalar: timestamps -> epoch micros, dates -> epoch
    days, bytes -> utf-8 (ordering-preserving for each type)."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


# ---------------------------------------------------------------------------
# hidden partitioning (Iceberg partition transforms)
#
# A partition spec maps SOURCE columns through TRANSFORMS to partition
# values; readers keep filtering on the source column and the format
# prunes files by the transformed value ("hidden" — queries never name
# the partition column, Iceberg spec §Partitioning). Each transform has
# TWO implementations that must agree bit-for-bit: a Spark Column
# expression (write path: group rows into partition-aligned files) and
# a Python scalar (plan path: transform a predicate literal and compare
# against the manifest's per-file partition tuple). Supported, with the
# source types that keep the two sides provably identical:
#
#   identity            string/int/long/short/byte/date/boolean
#   bucket[n]           string/int/long/short/byte/date
#                       (crc32(utf8(cast(v as string))) mod n — crc32 is
#                       the same polynomial in Spark and zlib, and
#                       str()/cast-to-string agree for these types)
#   truncate[w]         string (prefix) or int/long/short/byte
#                       (v - pmod(v, w): floor-to-multiple, exact for
#                       negatives on both sides)
#   day / hour          timestamp (epoch-micros floor-division, exact
#                       long arithmetic); day also for date columns
#
# Timestamp bucket/identity and float keys are rejected: their
# cast-to-string rendering is not guaranteed to match Python's, and a
# silent mismatch would mis-prune. month/year are intentionally absent
# (calendar arithmetic; day covers the layout need here).

_IDENTITY_TYPES = {"string", "integer", "long", "short", "byte", "date",
                   "boolean"}
_BUCKET_TYPES = {"string", "integer", "long", "short", "byte", "date"}
_TRUNC_TYPES = {"string", "integer", "long", "short", "byte"}
_US_PER = {"day": 86_400_000_000, "hour": 3_600_000_000}
_HIDDEN = "_p_"  # prefix of the write-path partitionBy columns
_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def _normalize_spec(partition_spec, schema: StructType,
                    fids: dict | None = None) -> list[dict]:
    """Validate a user spec ``[(col, transform[, param]), ...]`` into
    the stored form ``[{name, source, transform, param, result,
    source_id}]``.  ``source_id`` (the source column's field id, when
    ``fids`` is given or the item carries one) makes the spec
    rename-tolerant: consumers resolve it to the CURRENT declared
    column name via :func:`_spec_for`."""
    out: list[dict] = []
    for item in partition_spec:
        sid = None
        if isinstance(item, dict):  # already stored form (re-validation)
            src, tr, param = item["source"], item["transform"], item["param"]
            sid = item.get("source_id")
        elif len(item) == 2:
            (src, tr), param = item, None
        else:
            src, tr, param = item
        t = _col_type(schema, src)
        if t is None:
            raise ValueError(f"partition source column {src!r} not in schema")
        if tr == "identity":
            if t not in _IDENTITY_TYPES:
                raise ValueError(f"identity partition unsupported for {t}"
                                 f" column {src!r} (timestamps: use day/hour)")
            name, result = src, ("string" if t == "string" else "long")
        elif tr == "bucket":
            if not param or int(param) < 2:
                raise ValueError("bucket transform needs param n >= 2")
            if t not in _BUCKET_TYPES:
                raise ValueError(f"bucket partition unsupported for {t}"
                                 f" column {src!r}")
            param, result = int(param), "long"
            name = f"{src}_bucket{param}"
        elif tr == "truncate":
            if not param or int(param) < 1:
                raise ValueError("truncate transform needs param w >= 1")
            if t not in _TRUNC_TYPES:
                raise ValueError(f"truncate partition unsupported for {t}"
                                 f" column {src!r}")
            param, result = int(param), ("string" if t == "string" else "long")
            name = f"{src}_trunc{param}"
        elif tr in _US_PER:
            if t not in ("timestamp", "timestamp_ntz") and not (
                    t == "date" and tr == "day"):
                raise ValueError(f"{tr} partition needs a timestamp"
                                 f" (or date for day) column, got {t}"
                                 f" for {src!r}")
            name, result = f"{src}_{tr}", "long"
        else:
            raise ValueError(f"unknown partition transform {tr!r}")
        if sid is None and fids:
            sid = fids.get(src)
        out.append({"name": name, "source": src, "transform": tr,
                    "param": param, "result": result,
                    "source_id": sid})
    names = [f["name"] for f in out]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate partition fields: {names}")
    return out


def _spec_for(snap: dict) -> list[dict]:
    """The snapshot's partition spec with each field's ``source``
    resolved to its CURRENT declared column name via ``source_id`` —
    how every consumer (write routing, transform exprs, pruning, merge
    prefilter) must read the spec, so renaming a partition source
    column stays metadata-only.  Legacy fields without ``source_id``
    keep their stored name (their rename stays guarded)."""
    spec = snap.get("partition_spec") or []
    if not spec:
        return spec
    fids = _field_ids(snap) or {}
    by_id = {i: n for n, i in fids.items()}
    out = []
    for f in spec:
        sid = f.get("source_id")
        cur = by_id.get(sid)
        out.append({**f, "source": cur} if cur and cur != f["source"]
                   else f)
    return out


def _table_spec(path: str) -> list[dict]:
    try:
        snap = _load_snapshot(path, current_snapshot_id(path))
    except FileNotFoundError:
        return []
    return _spec_for(snap)


def table_partition_spec(path: str) -> list[dict]:
    """The table's partition spec (empty list when unpartitioned)."""
    return _table_spec(path)


def _transform_expr(field: dict, schema: StructType) -> Column:
    """Spark-side partition value of ``field`` (write path)."""
    src, tr = field["source"], field["transform"]
    t = _col_type(schema, src)
    c = F.col(src)
    if tr == "identity":
        if t == "date":
            return F.unix_date(c)
        if t == "string":
            return c
        return c.cast("long")
    if tr == "bucket":
        return F.pmod(F.crc32(F.encode(c.cast("string"), "UTF-8")),
                      F.lit(field["param"])).cast("long")
    if tr == "truncate":
        if t == "string":
            return F.substring(c, 1, field["param"])
        cl = c.cast("long")
        return cl - F.pmod(cl, F.lit(field["param"]))
    # day / hour: exact long floor-division — `x div d` truncates toward
    # zero, so divide the pmod-floored multiple (never a double: the
    # epoch-micros range exceeds double's exact-integer range)
    if t == "date":
        return F.unix_date(c)
    d = _US_PER[tr]
    us = (f"unix_micros(cast(`{src}` as timestamp))"
          if t == "timestamp_ntz" else f"unix_micros(`{src}`)")
    return F.expr(f"({us} - pmod({us}, {d})) div {d}")


def _transform_value(field: dict, v, schema: StructType):
    """Python-side twin of :func:`_transform_expr` for predicate
    literals (plan-time pruning). ``v`` is the raw user value (datetime
    / date / str / int)."""
    import datetime
    import zlib

    src, tr = field["source"], field["transform"]
    t = _col_type(schema, src)
    if v is None:
        return None
    if tr == "identity":
        return _encode_value(v, t) if t == "date" else (
            int(v) if t != "string" else v)
    if tr == "bucket":
        s = v.isoformat() if isinstance(v, datetime.date) else str(v)
        return zlib.crc32(s.encode("utf-8")) % field["param"]
    if tr == "truncate":
        return v[: field["param"]] if t == "string" else (
            int(v) - (int(v) % field["param"]))
    if t == "date":
        return _encode_value(v, t)
    us = _plain(v) if isinstance(v, datetime.datetime) else int(v)
    return us // _US_PER[tr]


def _parse_partition_dirs(relparts: list[str], spec: list[dict]) -> dict:
    """Decode Spark's hive-style ``_p_<name>=<value>`` staging dirs
    back into the manifest's partition tuple. The null/empty sentinel
    decodes to None (readers treat None as "unknown — never prune":
    Spark folds empty strings into the same sentinel as nulls, so None
    must stay conservative)."""
    from urllib.parse import unquote

    by_name = {f["name"]: f for f in spec}
    out: dict = {}
    for part in relparts:
        k, _, raw = part.partition("=")
        if not k.startswith(_HIDDEN):
            continue
        f = by_name.get(k[len(_HIDDEN):])
        if f is None:
            continue
        val = unquote(raw)
        out[f["name"]] = (None if val == _NULL_DIR
                          else int(val) if f["result"] == "long" else val)
    return out


def _partition_may_match(entry: dict, pred: tuple, spec: list[dict],
                         schema: StructType) -> bool:
    """Exact partition-level predicate check: False ONLY when the
    file's partition tuple proves no row can match. Unlike min/max
    stats this is metadata the WRITER fixed per file, so equality
    pruning is exact (the property that bounds 10^12-row planning:
    a bucketed point lookup plans 1/n of the files regardless of data
    distribution). Missing/None partition values never prune."""
    col, op, val = pred
    part = entry.get("partition") or {}
    for field in spec:
        if field["source"] != col or field["name"] not in part:
            continue
        pv = part[field["name"]]
        if pv is None:
            continue
        tr = field["transform"]
        if tr == "bucket":
            if op == "=" and _transform_value(field, val, schema) != pv:
                return False
            continue  # bucket prunes equality only
        if tr == "identity":
            # exact value: reuse the stats comparison with min==max==pv
            st = {"min": pv, "max": pv}
            if not _file_may_match({"stats": {col: st}}, pred, schema):
                return False
            continue
        # monotonic transforms (truncate/day/hour): t(lo) <= pv <= t(hi)
        if op == "between":
            lo = _transform_value(field, val[0], schema)
            hi = _transform_value(field, val[1], schema)
            if pv < lo or pv > hi:
                return False
        elif op == "=":
            if pv != _transform_value(field, val, schema):
                return False
        elif op in ("<", "<="):
            if pv > _transform_value(field, val, schema):
                return False
        elif op in (">", ">="):
            if pv < _transform_value(field, val, schema):
                return False
    return True


def _entry_may_match(entry: dict, pred: tuple, spec: list[dict],
                     schema: StructType,
                     fids: dict[str, int] | None = None) -> bool:
    stats_entry = entry
    if fids is not None:
        # footer stats are keyed by the file's WRITE-TIME names;
        # resolve the predicate column through the field ids. A file
        # that predates the column is all-null there — no comparison
        # predicate can match, prune it exactly.
        local, known = _entry_local_name(entry, pred[0], fids)
        if known:
            if local is None:
                return False
            if local != pred[0]:
                st = entry.get("stats", {}).get(local)
                stats_entry = {"stats": ({pred[0]: st}
                                         if st is not None else {})}
    return (_file_may_match(stats_entry, pred, schema)
            and (not spec
                 or _partition_may_match(entry, pred, spec, schema)))


def _parse_sort_order(prop: str) -> tuple[str, list[str]]:
    """Parse a ``write.sort-order`` property: ``"a,b"`` (range-cluster
    then sort) or ``"zorder(a,b)"`` (interleaved-bit Z-curve)."""
    p = prop.strip()
    if p.startswith("zorder(") and p.endswith(")"):
        return "zorder", [c.strip() for c in p[7:-1].split(",")
                          if c.strip()]
    return "range", [c.strip() for c in p.split(",") if c.strip()]


def _write_data_files(df: DataFrame, path: str,
                      parquet_block_bytes: int | None = None,
                      spec: list[dict] | None = None,
                      distribute: bool = True,
                      fids: dict[str, int] | None = None,
                      sort_order: str | None = None) -> list[dict]:
    """Write ``df`` as immutable data files + collect footer stats.

    Spark writes to a staging dir (task commits are Spark's problem);
    completed part files are then moved into ``data/`` under unique
    names — they become visible to readers only via a later snapshot
    commit, never by directory listing. Each entry records its
    ``row_groups`` count so readers can split big files into row-group
    tasks WITHOUT touching footers at plan time (Iceberg's
    split-offsets idea). ``parquet_block_bytes`` caps the row-group
    size (mainly for tests that need multi-row-group files).

    With a partition ``spec``, hidden transform columns drive a
    ``partitionBy`` write so every data file holds exactly ONE
    partition tuple (recorded in its manifest entry; the hidden columns
    themselves are never stored — the source columns are). By default
    rows are hash-distributed on the partition tuple first (Iceberg's
    hash write-distribution mode: one file per tuple per append instead
    of one per task per tuple); layout rewrites pass
    ``distribute=False`` to keep their range clustering, trading file
    count for ordered stats.
    """
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    hidden = []
    if spec:
        for fld in spec:
            hc = _HIDDEN + fld["name"]
            df = df.withColumn(hc, _transform_expr(fld, df.schema))
            hidden.append(hc)
        if distribute:
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            df = df.repartition(n, *hidden)
    if sort_order:
        # the table's WRITE ORDERED BY (Iceberg write.sort-order):
        # cluster + sort every write so footer stats stay selective
        # without waiting for a layout compaction — the lever that
        # keeps a streaming sink's trigger-sized files prunable
        kind, cols = _parse_sort_order(sort_order)
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if kind == "zorder":
            from ..sinks.maintenance import _zorder_key

            df = df.withColumn("_zk", _zorder_key(df, tuple(cols)))
            keys = ["_zk"]
        else:
            keys = list(cols)
        if hidden:
            # partitioned: keep the per-tuple distribution, order rows
            # inside each partition's files
            df = df.sortWithinPartitions(*hidden, *keys)
        else:
            df = (df.repartitionByRange(n, *keys)
                  .sortWithinPartitions(*keys))
        if kind == "zorder":
            df = df.drop("_zk")
    writer = df.write.mode("overwrite")
    if hidden:
        writer = writer.partitionBy(*hidden)
    if parquet_block_bytes is not None:
        writer = writer.option("parquet.block.size",
                               str(parquet_block_bytes))
    # Spark's default INT96 timestamps write NO footer min/max (the
    # deprecated type has no stats), which would silently disable
    # timestamp pruning and merge planning; write the Iceberg-standard
    # TIMESTAMP_MICROS instead (set/restore: session-global conf)
    sess = df.sparkSession
    ts_key = "spark.sql.parquet.outputTimestampType"
    ts_old = sess.conf.get(ts_key)
    sess.conf.set(ts_key, "TIMESTAMP_MICROS")
    try:
        writer.parquet(staging)
    finally:
        sess.conf.set(ts_key, ts_old)
    stat_cols = {f.name: f.dataType.typeName()
                 for f in df.schema.fields
                 if f.dataType.typeName() in _STATS_TYPES
                 and not f.name.startswith(_HIDDEN)}
    entries = []
    for root, _dirs, names in sorted(os.walk(staging)):
        relparts = [p for p in os.path.relpath(root, staging).split(os.sep)
                    if p not in (".", "")]
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            rel = f"{_DATA}/f-{uuid.uuid4().hex}.parquet"
            dst = os.path.join(path, rel)
            stats = _stats_from_footer(src, dict(stat_cols))
            import pyarrow.parquet as pq

            md = pq.ParquetFile(src).metadata
            os.replace(src, dst)
            entry = {"path": rel, "rows": md.num_rows,
                     "row_groups": md.num_row_groups,
                     "bytes": os.path.getsize(dst), "stats": stats}
            if fids is not None:
                # written-name -> field id (Iceberg's name-mapping):
                # lets renames/drops resolve this file forever
                entry["cols"] = {f.name: fids[f.name]
                                 for f in df.schema.fields
                                 if f.name in fids}
            if spec:
                entry["partition"] = _parse_partition_dirs(relparts, spec)
            entries.append(entry)
    # clear staging remnants (_SUCCESS, crc files, partition dirs)
    import shutil

    shutil.rmtree(staging)
    return entries


# ---------------------------------------------------------------------------
# table operations


def create_table(path: str, schema: StructType,
                 partition_spec: list | None = None,
                 properties: dict | None = None) -> None:
    """Create an empty table (snapshot 1, no files).

    ``partition_spec`` is a list of ``(col, transform[, param])``
    tuples (e.g. ``[("doc_id", "bucket", 16), ("ts", "day")]``) — see
    the hidden-partitioning section above. The spec's SHAPE is fixed
    at create time and carried by every snapshot; its source columns
    may later be renamed (fields stamp the source's field id, and
    consumers resolve it via :func:`_spec_for`) but never dropped.
    ``properties`` is the initial table-properties dict (string
    keys/values; see :func:`set_properties`)."""
    os.makedirs(_meta_dir(path), exist_ok=True)
    os.makedirs(os.path.join(path, _DATA), exist_ok=True)
    fids = {f.name: i + 1 for i, f in enumerate(schema.fields)}
    snap = {"snapshot_id": 1, "parent_id": None,
            "timestamp_ms": int(time.time() * 1000),
            "operation": "create", "schema": json.loads(schema.json()),
            "field_ids": fids,
            "next_field_id": len(schema.fields) + 1,
            "partition_spec": (_normalize_spec(partition_spec, schema,
                                               fids=fids)
                               if partition_spec else []),
            "properties": dict(properties or {}),
            "delete_manifests": [],
            "manifests": [], "added_manifests": [],
            "summary": {"added_files": 0, "removed_files": 0}}
    _commit_snapshot(path, snap)


def append(df: DataFrame, path: str, max_retries: int = 10,
           summary_extra: dict | None = None,
           parquet_block_bytes: int | None = None) -> int:
    """Append ``df`` as a new snapshot; returns the snapshot id.

    Appends never conflict logically, so a lost commit race is retried
    against the new parent (data files + manifest are reused — only the
    snapshot JSON is re-attempted). ``summary_extra`` lands in the
    snapshot summary — the streaming sinks stamp their (stream id,
    batch id) there for replay idempotence."""
    head = _load_snapshot(path, current_snapshot_id(path))
    entries = _write_data_files(
        df, path, parquet_block_bytes=parquet_block_bytes,
        spec=_table_spec(path), fids=_field_ids(head),
        sort_order=(head.get("properties") or {}).get("write.sort-order"))

    def attempt(parent):
        # data files keep their (final) snapshot id as sequence number;
        # a lost race means a new id, so the manifest is re-stamped
        # (one small JSON rewrite — the data files are reused)
        manifest = _write_manifest(
            path, _stamped(entries, parent["snapshot_id"] + 1))
        snap = _child_snap(parent, "append",
                           parent["manifests"] + [manifest], [manifest],
                           {"added_files": len(entries),
                            "removed_files": 0,
                            **(summary_extra or {})})
        return snap, [manifest]

    return _commit_retrying(path, attempt, max_retries, "append")


def overwrite(df: DataFrame, path: str,
              summary_extra: dict | None = None,
              properties: dict | None = None) -> int:
    """Replace the table contents (single replace snapshot). The
    partition spec survives (re-validated against the new schema);
    outstanding merge-on-read delete files are dropped (nothing they
    reference survives). ``summary_extra`` lands in the snapshot
    summary (the CDC delta compactor carries its replay stamps
    there). ``properties`` merges into the table properties in the
    same commit (like :func:`merge_into`'s — the MV rebuild resets
    its watermark atomically with the recomputed content)."""
    spec = _table_spec(path)
    if spec:
        spec = _normalize_spec(spec, df.schema)
    head = _load_snapshot(path, current_snapshot_id(path))
    # overwrite may change the schema: surviving names KEEP their
    # field ids (their history stays resolvable), new names get fresh
    # ones, vanished names retire their ids
    old_fids = _field_ids(head)
    next_id = head.get("next_field_id") or (
        max(old_fids.values(), default=0) + 1)
    fids: dict[str, int] = {}
    for f in df.schema.fields:
        if f.name in old_fids:
            fids[f.name] = old_fids[f.name]
        else:
            fids[f.name] = next_id
            next_id += 1
    entries = _write_data_files(
        df, path, spec=spec, fids=fids,
        sort_order=(head.get("properties") or {}).get("write.sort-order"))
    parent = _load_snapshot(path, current_snapshot_id(path))
    manifest = _write_manifest(
        path, _stamped(entries, parent["snapshot_id"] + 1))
    removed = sum(len(_load_manifest(path, m)) for m in parent["manifests"])
    snap = _child_snap(parent, "overwrite", [manifest], [manifest],
                       {"added_files": len(entries),
                        "removed_files": removed,
                        **(summary_extra or {})},
                       schema=json.loads(df.schema.json()),
                       partition_spec=spec,
                       delete_manifests=[],
                       field_ids=fids, next_field_id=next_id,
                       properties=_merged_props(parent, properties))
    return _commit_snapshot(path, snap)


def table_schema(path: str, version: int | None = None) -> StructType:
    snap = _resolve_snapshot(path, version=version)
    return StructType.fromJson(snap["schema"])


def snapshots(path: str) -> list[dict]:
    """The snapshot log (id, parent, timestamp, operation, summary) —
    the table's history, oldest first."""
    return [{k: s[k] for k in
             ("snapshot_id", "parent_id", "timestamp_ms", "operation",
              "summary")}
            for s in (_load_snapshot(path, i)
                      for i in _list_snapshot_ids(path))]


def table_files(path: str, version: int | None = None,
                as_of_ms: int | None = None,
                where: list[tuple] | None = None) -> list[dict]:
    """Manifest entries for a snapshot, after min/max file pruning and
    (for partitioned tables) exact partition-transform pruning."""
    snap = _resolve_snapshot(path, version=version, as_of_ms=as_of_ms)
    schema = StructType.fromJson(snap["schema"])
    spec = _spec_for(snap)
    entries = _snapshot_entries(path, snap)
    if where:
        fids = _field_ids(snap)
        entries = [e for e in entries
                   if all(_entry_may_match(e, p, spec, schema, fids)
                          for p in where)]
    return entries


def _col_type(schema: StructType, name: str) -> str | None:
    for f in schema.fields:
        if f.name == name:
            return f.dataType.typeName()
    return None


def _encode_value(v, type_name: str | None):
    """Predicate value in the stats encoding: timestamp/date columns'
    footer stats are stored via :func:`_plain` (epoch micros / epoch
    days), so datetime/date predicate values must be encoded the same
    way before comparing — raw comparison would silently mis-prune
    (epoch *seconds* vs micros, Spark's implicit cast)."""
    if type_name in ("timestamp", "timestamp_ntz", "date"):
        # ntz footer stats arrive as naive datetimes; _plain pins them
        # to UTC — consistent because the session timezone is UTC
        return _plain(v)
    return v


def _encode_expr(name: str, schema: StructType) -> Column:
    """Spark column expression in the stats encoding of
    :func:`_plain`, so Spark-side comparisons (row filters, merge
    planning joins) agree with the manifest's file-level pruning for
    timestamp/date columns."""
    t = _col_type(schema, name)
    c = F.col(name)
    if t == "timestamp":
        return F.unix_micros(c)
    if t == "timestamp_ntz":
        # UTC session: ntz -> timestamp cast pins the same instant the
        # footer-stats path assumes (_plain treats naive as UTC)
        return F.unix_micros(c.cast("timestamp"))
    if t == "date":
        return F.unix_date(c)
    return c


def _file_may_match(entry: dict, pred: tuple,
                    schema: StructType) -> bool:
    """Conservative file-level predicate check: False ONLY when the
    footer stats prove no row can match. Missing stats keep the file."""
    col, op, val = pred
    st = entry["stats"].get(col)
    if st is None:
        return True
    t = _col_type(schema, col)
    lo, hi = st["min"], st["max"]
    if op == "between":
        vlo, vhi = (_encode_value(val[0], t), _encode_value(val[1], t))
        return not (hi < vlo or lo > vhi)
    val = _encode_value(val, t)
    if op == "=":
        return lo <= val <= hi
    if op == "<":
        return lo < val
    if op == "<=":
        return lo <= val
    if op == ">":
        return hi > val
    if op == ">=":
        return hi >= val
    raise ValueError(f"unknown predicate op {op!r}")


def _pred_column(pred: tuple, schema: StructType) -> Column:
    """Row-level form of a ``where`` predicate. Timestamp/date columns
    compare in the stats encoding (``unix_micros``/``unix_date``) so
    the row filter and the file-level prune can never disagree."""
    col, op, val = pred
    t = _col_type(schema, col)
    c = _encode_expr(col, schema)
    if op == "between":
        return c.between(F.lit(_encode_value(val[0], t)),
                         F.lit(_encode_value(val[1], t)))
    val = _encode_value(val, t)
    if op == "=":
        return c == F.lit(val)
    return {"<": c < F.lit(val), "<=": c <= F.lit(val),
            ">": c > F.lit(val), ">=": c >= F.lit(val)}[op]


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of_ms: int | None = None,
    where: list[tuple] | None = None,
    tag: str | None = None,
) -> DataFrame:
    """Snapshot (or time-travel) read.

    ``where`` is a list of ``(col, op, value)`` with op in
    ``{=, <, <=, >, >=, between}``: files the footer stats rule out are
    never given to Spark (planning-time pruning, O(manifest) work), and
    the same predicate is applied as a row filter — which Spark pushes
    into the parquet scan for row-group-level pruning inside the
    surviving files. Richer predicates belong in ``.filter`` on the
    returned DataFrame (they just skip the file-level prune).
    ``tag`` reads the snapshot a named ref pins (see
    :func:`create_tag`)."""
    if tag is not None:
        if version is not None or as_of_ms is not None:
            raise ValueError("pass tag OR version/as_of_ms, not both")
        version = resolve_tag(path, tag)
    snap = _resolve_snapshot(path, version=version, as_of_ms=as_of_ms)
    schema = StructType.fromJson(snap["schema"])
    fids = _field_ids(snap)
    spec = _spec_for(snap)
    entries = _snapshot_entries(path, snap)
    if where:
        entries = [e for e in entries
                   if all(_entry_may_match(e, p, spec, schema, fids)
                          for p in where)]
    df = _read_mapped(spark, path, schema, fids, entries,
                      coords=bool(snap.get("delete_manifests")))
    if df is None:
        df = spark.createDataFrame([], schema)
    else:
        df = _apply_deletes(spark, path, snap, entries, df)
        df = df.drop("_fname", "_pos")
    if where:
        for p in where:
            df = df.filter(_pred_column(p, schema))
    return df


def add_columns(path: str, new_fields: StructType) -> int:
    """Add columns (schema evolution): commit the widened schema;
    existing files read the new columns as null. Every added column
    gets a FRESH field id — re-adding a previously dropped name can
    therefore never resurrect the old column's data (Iceberg's
    field-id guarantee). Type changes remain unsupported."""
    parent = _load_snapshot(path, current_snapshot_id(path))
    schema = StructType.fromJson(parent["schema"])
    fids = _field_ids(parent)
    next_id = parent.get("next_field_id") or (max(fids.values()) + 1)
    existing = {f.name for f in schema.fields}
    for f in new_fields.fields:
        if f.name in existing:
            raise ValueError(f"column {f.name!r} already exists")
        schema = schema.add(f)
        fids[f.name] = next_id
        next_id += 1
    snap = _child_snap(parent, "schema", parent["manifests"], [],
                       {"added_files": 0, "removed_files": 0},
                       schema=json.loads(schema.json()),
                       field_ids=fids, next_field_id=next_id)
    return _commit_snapshot(path, snap)


def _check_evolvable(path: str, parent: dict, name: str,
                     verb: str) -> None:
    """Shared guards for rename/drop: partition-spec sources keep
    their names (the spec references them by name); the key of a LIVE
    equality-delete file cannot be DROPPED (the deletes would become
    meaningless). RENAME of a live eq-delete key is allowed for
    entries stamped with a field id (``kid`` — every entry written
    since round 5): read paths resolve the id against the live schema,
    so the rename stays metadata-only. Only legacy kid-less entries
    still require compact_files + remove_dangling_deletes first."""
    spec = _spec_for(parent)
    for f in spec:
        if f["source"] != name:
            continue
        if verb == "rename" and f.get("source_id") is not None:
            continue  # id-resolved spec: rename is metadata-only
        raise ValueError(
            f"cannot {verb} {name!r}: it is a partition-spec source "
            "column (drop is never allowed; rename needs a spec with "
            "source ids — tables created before r5 predate them)")
    fids = _field_ids(parent)
    for m in parent.get("delete_manifests") or []:
        for d in _load_manifest(path, m):
            if (d.get("type") == "eq"
                    and _declared_eq_key(d, fids) == name):
                if verb == "rename" and d.get("kid") is not None:
                    continue  # id-resolved: rename is metadata-only
                raise ValueError(
                    f"cannot {verb} {name!r}: live equality-delete "
                    "files reference it as their key; run "
                    "compact_files + remove_dangling_deletes first")


def rename_column(path: str, old: str, new: str) -> int:
    """Metadata-only column rename (Iceberg ``ALTER TABLE ... RENAME
    COLUMN``): the field keeps its id, so every existing data file —
    written under the old name — keeps resolving through the
    manifest's recorded column ids; no data is rewritten. Stats-based
    pruning on the renamed column stays EXACT (predicates translate
    to each file's write-time name). Restrictions: partition-spec
    sources and live equality-delete keys cannot be renamed."""
    parent = _load_snapshot(path, current_snapshot_id(path))
    schema = StructType.fromJson(parent["schema"])
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no such column {old!r}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    _check_evolvable(path, parent, old, "rename")
    fids = _field_ids(parent)
    fids[new] = fids.pop(old)
    new_schema = StructType([
        StructField(new if f.name == old else f.name, f.dataType,
                    f.nullable, f.metadata) for f in schema.fields])
    snap = _child_snap(parent, "schema", parent["manifests"], [],
                       {"added_files": 0, "removed_files": 0,
                        "renamed": f"{old}->{new}"},
                       schema=json.loads(new_schema.json()),
                       field_ids=fids,
                       next_field_id=parent.get("next_field_id"))
    return _commit_snapshot(path, snap)


def drop_column(path: str, name: str) -> int:
    """Metadata-only column drop: the field leaves the schema and its
    id is retired (never reused — see :func:`add_columns`); the data
    stays in the files, invisible, until rewrites age it out.
    Restrictions match :func:`rename_column`."""
    parent = _load_snapshot(path, current_snapshot_id(path))
    schema = StructType.fromJson(parent["schema"])
    if name not in [f.name for f in schema.fields]:
        raise ValueError(f"no such column {name!r}")
    if len(schema.fields) == 1:
        raise ValueError("cannot drop the only column")
    _check_evolvable(path, parent, name, "drop")
    fids = _field_ids(parent)
    fids.pop(name, None)
    new_schema = StructType(
        [f for f in schema.fields if f.name != name])
    snap = _child_snap(parent, "schema", parent["manifests"], [],
                       {"added_files": 0, "removed_files": 0,
                        "dropped": name},
                       schema=json.loads(new_schema.json()),
                       field_ids=fids,
                       next_field_id=parent.get("next_field_id"))
    return _commit_snapshot(path, snap)


def table_properties(path: str) -> dict:
    """The committed table-properties dict (empty when unset)."""
    snap = _load_snapshot(path, current_snapshot_id(path))
    return dict(snap.get("properties") or {})


def _merged_props(parent: dict, props: dict | None) -> dict | None:
    """Parent properties merged with ``props`` (None values remove
    keys); None when there is nothing to change (the commit then
    carries the parent's properties untouched)."""
    if props is None:
        return None
    merged = dict(parent.get("properties") or {})
    for k, v in props.items():
        if v is None:
            merged.pop(k, None)
        else:
            merged[k] = v
    return merged


def set_properties(path: str, props: dict) -> int:
    """Merge ``props`` into the table properties (metadata-only
    commit; a None value removes the key). Iceberg's
    ``ALTER TABLE ... SET TBLPROPERTIES``."""
    parent = _load_snapshot(path, current_snapshot_id(path))
    merged = _merged_props(parent, props)
    snap = _child_snap(parent, "properties", parent["manifests"], [],
                       {"added_files": 0, "removed_files": 0},
                       properties=merged)
    return _commit_snapshot(path, snap)


# ---------------------------------------------------------------------------
# MERGE INTO (copy-on-write)


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    delete_col: str | None = None,
    precedence: tuple[str, ...] | None = None,
    summary_extra: dict | None = None,
    strategy: str = "copy-on-write",
    max_retries: int = 10,
    properties: dict | None = None,
) -> int:
    """Upsert ``source`` into the table by ``key`` (copy-on-write).

    ``properties`` merges into the table properties IN the merge
    commit (None values remove keys) — the single-commit analog of an
    Iceberg Transaction combining MERGE with SET TBLPROPERTIES. The
    materialized-view refresh stamps its applied-source-snapshot
    watermark this way: the data change and the watermark are atomic,
    so a crash can never double-apply a delta.

    Semantics = ``MERGE INTO t USING s ON t.key = s.key WHEN MATCHED
    [AND s.delete_col] THEN DELETE / WHEN MATCHED THEN UPDATE SET * /
    WHEN NOT MATCHED THEN INSERT *``. ``source`` must be unique per
    key and keys must be NON-NULL (SQL MERGE's null-key rows never
    match and would insert; here the precedence path would collapse
    all null keys into one group) — latest-wins pre-reduction over a
    non-null key is the caller's changelog contract, and
    ``operators/cdc.latest_snapshot`` produces exactly that.

    ``precedence`` names columns (present in table AND source) that
    decide matched rows instead of "source always wins": the row with
    the greater ``struct(*precedence)`` survives, ties going to the
    source. This is the CDC-correct MERGE — a late-arriving trigger
    whose rows are OLDER than the stored row must lose (see
    ``streaming/icelite_sink.py``). ``delete_col`` composes: if the
    winning row is a flagged source row, the key is dropped (note a
    dropped key loses tombstone protection — CDC callers keep
    tombstones as data rows instead and filter at read).

    Plan (all distributed; the driver only ever holds file lists):
      1. the manifest's per-file [min,max] of ``key`` becomes a tiny
         stats DataFrame; a broadcast range-join against the DISTINCT
         source keys marks the files whose range could contain any
         source key — every other file is provably untouched;
      2. touched files are re-read; their rows that do NOT match a
         source key survive; non-delete source rows replace/insert the
         rest (new keys land in the rewrite too);
      3. one replace snapshot swaps touched -> rewritten, carrying
         untouched files by manifest/entry reference — they stay
         byte-identical on disk (asserted in tests/test_icelite.py).

    A concurrent commit between planning and commit raises
    ``CommitConflict`` (rerun against the new snapshot) — replace ops
    must not auto-retry over a changed file set.

    ``strategy="merge-on-read"`` (Iceberg v2) instead commits the
    upserted rows as new data files plus ONE equality delete file of
    the distinct source keys — NO existing file is read or rewritten,
    so a trigger's write cost is O(batch) regardless of table size
    (the CDC write-amplification lever). The delete applies only to
    data files with a strictly smaller sequence number, so the
    commit's own inserts survive, as does any later re-insert of a
    deleted key. Restrictions: ``precedence`` is unsupported (MOR is
    write-blind by design — an out-of-order changelog needs read-time
    resolution; use the delta CDC sink,
    ``streaming/icelite_sink.start_apply_changes_icelite(mode=
    "delta")``), and a lost commit race retries like an append
    (concurrent upserts of the same key resolve last-committer-wins,
    Iceberg's serializable-by-sequence-number outcome). Read cost is
    deferred to scans until :func:`compact_files` folds the deletes
    in; :func:`remove_dangling_deletes` then drops the husks.
    """
    parent = _load_snapshot(path, current_snapshot_id(path))
    schema = StructType.fromJson(parent["schema"])
    fids = _field_ids(parent)
    spec = _spec_for(parent)
    entries = _snapshot_entries(path, parent)
    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    if delete_col is not None and delete_col not in source.columns:
        raise ValueError(f"source lacks delete column {delete_col!r}")
    # loud null-key guard: SQL MERGE's null keys never match (insert);
    # the precedence path would instead collapse every null-key row —
    # including base rows in touched files — into ONE survivor (and an
    # equality delete on NULL would be meaningless). The contract is
    # non-null keys (latest_snapshot emits exactly that), so a
    # violation must fail the commit, not lose data silently.
    if not source.filter(F.col(key).isNull()).isEmpty():
        raise ValueError(
            f"merge_into source has null values in key column {key!r}; "
            "MERGE keys must be non-null (pre-reduce the changelog, "
            "e.g. operators/cdc.latest_snapshot, and drop null keys)")
    if strategy == "merge-on-read":
        if precedence is not None:
            raise ValueError(
                "merge-on-read cannot resolve precedence at write time "
                "(it never reads the base rows); use copy-on-write, or "
                "read-time resolution via the delta CDC sink")
        return _merge_mor(spark, path, parent, source, key,
                          delete_col, summary_extra, max_retries,
                          properties=properties)

    # bucket-partition prefilter: when the merge key has a bucket
    # transform, every file whose bucket is absent from the source is
    # provably untouched BEFORE any stats work. This is the lever stats
    # pruning lacks under uniform keys (every file's [min,max] spans the
    # key space, so the range join touches all of them): the source's
    # distinct buckets are at most n values (driver-safe collect), and a
    # point-lookup merge plans 1/n of the files regardless of data
    # distribution.
    bucket_fld = next((f for f in spec if f["transform"] == "bucket"
                       and f["source"] == key), None)
    if bucket_fld is not None:
        src_buckets = {r["_b"] for r in source.select(
            _transform_expr(bucket_fld, schema).alias("_b"))
            .distinct().collect()}
        entries = [e for e in entries
                   if (e.get("partition") or {}).get(bucket_fld["name"])
                   is None
                   or e["partition"][bucket_fld["name"]] in src_buckets]

    def _key_stats(e: dict) -> dict:
        # stats are keyed by the file's write-time name for the key
        local, known = _entry_local_name(e, key, fids)
        if known and local != key:
            return e["stats"].get(local, {}) if local else {}
        return e["stats"].get(key, {})

    stats_rows = [(e["path"], _key_stats(e).get("min"),
                   _key_stats(e).get("max"))
                  for e in entries]
    no_stats = {p for p, lo, hi in stats_rows if lo is None or hi is None}
    src_cols = [f.name for f in schema.fields]

    ranged = [(p, lo, hi) for p, lo, hi in stats_rows if p not in no_stats]
    if ranged:
        stats_df = spark.createDataFrame(
            ranged, ["_file", "_klo", "_khi"])
        # _encode_expr: timestamp/date keys compare in the stats
        # encoding (epoch micros/days) — raw comparison would make
        # planning and the row-level rewrite disagree on touched files
        touched_rows = (
            source.select(_encode_expr(key, schema).alias("_k")).distinct()
            .join(F.broadcast(stats_df),
                  (F.col("_k") >= F.col("_klo"))
                  & (F.col("_k") <= F.col("_khi")),
                  "inner")
            .select("_file").distinct().collect())
        touched = {r["_file"] for r in touched_rows} | no_stats
    else:
        touched = set(no_stats)

    src = source
    if delete_col is not None:
        keep_src = src.filter(~F.col(delete_col)).select(*src_cols)
    else:
        keep_src = src.select(*src_cols)

    # base rows are read through the delete-applied view: the rewrite
    # gives surviving rows a fresh (higher) sequence number, so pending
    # equality deletes stop applying to them — a raw read would
    # resurrect merge-on-read-deleted rows into the rewrite
    if touched:
        touched_entries = [e for e in entries if e["path"] in touched]
        base = _read_mapped(spark, path, schema, fids, touched_entries)
        base = _apply_deletes(spark, path, parent, touched_entries, base)
        base = base.drop("_fname", "_pos")
    else:
        base = None
    if precedence is None:
        if base is not None:
            survivors = base.join(source.select(key).distinct(), key,
                                  "left_anti")
            rewritten = survivors.unionByName(keep_src)
        else:
            rewritten = keep_src
    else:
        # matched keys resolved by max_by(struct(*precedence, origin)):
        # greater precedence wins, ties to the source
        s = src.select(
            *src_cols,
            (F.col(delete_col) if delete_col is not None
             else F.lit(False)).alias("_del"),
            F.lit(1).alias("_origin"))
        candidates = (s if base is None else
                      base.select(*src_cols)
                      .withColumn("_del", F.lit(False))
                      .withColumn("_origin", F.lit(0))
                      .unionByName(s))
        order = F.struct(*[F.col(c) for c in precedence],
                         F.col("_origin"))
        payload = F.struct(*[F.col(c) for c in src_cols], F.col("_del"))
        rewritten = (candidates.groupBy(key)
                     .agg(F.max_by(payload, order).alias("_w"))
                     .filter(~F.col("_w._del"))
                     .select(*[F.col(f"_w.{c}").alias(c)
                               for c in src_cols]))

    new_entries = _write_data_files(rewritten, path, spec=spec,
                                    fids=fids)
    # untouched manifests whose every entry survives are carried whole;
    # partially-touched manifests are rewritten without the dead entries
    kept_manifests: list[str] = []
    for m in parent["manifests"]:
        ment = _load_manifest(path, m)
        if all(e["path"] not in touched for e in ment):
            kept_manifests.append(m)
        else:
            alive = [e for e in ment if e["path"] not in touched]
            if alive:
                kept_manifests.append(_write_manifest(path, alive))
    new_manifest = _write_manifest(
        path, _stamped(new_entries, parent["snapshot_id"] + 1))
    snap = _child_snap(parent, "merge",
                       kept_manifests + [new_manifest], [new_manifest],
                       {"added_files": len(new_entries),
                        "removed_files": len(touched),
                        **(summary_extra or {})},
                       properties=_merged_props(parent, properties))
    return _commit_snapshot(path, snap)


def _merge_mor(spark: SparkSession, path: str, parent: dict,
               source: DataFrame, key: str, delete_col: str | None,
               summary_extra: dict | None, max_retries: int,
               properties: dict | None = None) -> int:
    """Merge-on-read upsert: new data files (the non-delete source
    rows) + one equality delete file (the distinct source keys),
    committed append-style. See :func:`merge_into`."""
    schema = StructType.fromJson(parent["schema"])
    spec = _spec_for(parent)
    src_cols = [f.name for f in schema.fields]
    keep_src = (source.filter(~F.col(delete_col))
                if delete_col is not None else source).select(*src_cols)
    data_entries = _write_data_files(keep_src, path, spec=spec,
                                     fids=_field_ids(parent))
    # one file: the key set is one shuffled agg's output (distinct),
    # and delete application reads every eq file anyway
    del_entries = _write_aux_files(
        source.select(key).distinct().coalesce(1), path, prefix="d")
    # kid = the key column's field id in the validated parent: eq
    # entries are self-describing across later renames (read paths
    # resolve kid -> the current declared name; the parquet column
    # keeps its write-time name ``key``). Resolved once, not per retry:
    # a rename committed between attempts would make ``key`` unknown
    # to the newer snapshot.
    kid = _field_ids(parent).get(key)

    def attempt(cur):
        seq = cur["snapshot_id"] + 1
        data_manifest = _write_manifest(path, _stamped(data_entries, seq))
        del_manifest = _write_manifest(
            path, [{**e, "type": "eq", "key": key, "kid": kid, "seq": seq}
                   for e in del_entries])
        snap = _child_snap(
            cur, "merge-mor",
            cur["manifests"] + [data_manifest], [data_manifest],
            {"added_files": len(data_entries),
             "added_delete_files": len(del_entries),
             "removed_files": 0, **(summary_extra or {})},
            delete_manifests=(cur.get("delete_manifests") or [])
            + [del_manifest],
            properties=_merged_props(cur, properties))
        return snap, [data_manifest, del_manifest]

    return _commit_retrying(path, attempt, max_retries, "merge-on-read")


# ---------------------------------------------------------------------------
# row-level DELETE


def delete_where(spark: SparkSession, path: str, where: list[tuple],
                 strategy: str = "merge-on-read") -> int | None:
    """Row-level ``DELETE FROM t WHERE ...`` (predicates ANDed, same
    ``(col, op, value)`` grammar as :func:`read_table`). Returns the
    new snapshot id, or None when no file can contain a matching row.

    Planning prunes to the files whose stats/partition tuple could
    match (O(manifest) driver work). Then:

    * ``strategy="merge-on-read"`` (default, Iceberg v2): ONE pass
      over the touched files emits **positional delete files** —
      ``(file, pos)`` rows via the scan's ``_metadata`` columns — and
      commits them as a delete-only snapshot. No data file is written
      or rewritten; the delete costs O(matching rows) regardless of
      file sizes, and readers apply it as a broadcast anti-join until
      :func:`compact_files` folds it in. Each delete entry records the
      file names it references (Iceberg's ``referenced_data_file``),
      so dangling-delete cleanup is metadata-only.
    * ``strategy="copy-on-write"``: touched files are rewritten
      without the matching rows (replace snapshot, untouched files
      carried by reference) — the right choice when a large fraction
      of the touched files' rows die.

    Raises :exc:`CommitConflict` if the table moved between planning
    and commit (both strategies plan against a pinned snapshot).
    """
    if strategy not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    parent = _load_snapshot(path, current_snapshot_id(path))
    schema = StructType.fromJson(parent["schema"])
    fids = _field_ids(parent)
    spec = _spec_for(parent)
    entries = _snapshot_entries(path, parent)
    victims = [e for e in entries
               if all(_entry_may_match(e, p, spec, schema, fids)
                      for p in where)]
    if not victims:
        return None
    match = None
    for p in where:
        c = _pred_column(p, schema)
        match = c if match is None else (match & c)
    raw = _read_mapped(spark, path, schema, fids, victims)
    seq = parent["snapshot_id"] + 1

    if strategy == "merge-on-read":
        pos = (raw.filter(match).select(
            F.col("_fname").alias("file"),
            F.col("_pos").alias("pos")))
        del_entries = _write_aux_files(pos.coalesce(1), path, prefix="d")
        if not del_entries:
            return None  # stats said maybe; the rows said no
        refs = sorted(os.path.basename(e["path"]) for e in victims)
        del_manifest = _write_manifest(
            path, [{**e, "type": "pos", "refs": refs, "seq": seq}
                   for e in del_entries])
        snap = _child_snap(
            parent, "delete", parent["manifests"], [],
            {"added_files": 0, "removed_files": 0,
             "added_delete_files": len(del_entries)},
            delete_manifests=(parent.get("delete_manifests") or [])
            + [del_manifest])
        return _commit_snapshot(path, snap)

    # copy-on-write: rewrite victims without the matching rows, reading
    # through the delete-applied view (the rewrite folds pending
    # merge-on-read deletes into the fresh, higher-seq files)
    survivors = _apply_deletes(spark, path, parent, victims, raw)
    survivors = (survivors.filter(~F.coalesce(match, F.lit(False)))
                 .drop("_fname", "_pos"))
    new_entries = _write_data_files(survivors, path, spec=spec, fids=fids)
    dead = {e["path"] for e in victims}
    kept_manifests: list[str] = []
    for m in parent["manifests"]:
        ment = _load_manifest(path, m)
        if all(e["path"] not in dead for e in ment):
            kept_manifests.append(m)
        else:
            alive = [e for e in ment if e["path"] not in dead]
            if alive:
                kept_manifests.append(_write_manifest(path, alive))
    new_manifest = _write_manifest(path, _stamped(new_entries, seq))
    snap = _child_snap(parent, "delete",
                       kept_manifests + [new_manifest], [new_manifest],
                       {"added_files": len(new_entries),
                        "removed_files": len(dead)})
    return _commit_snapshot(path, snap)


def remove_dangling_deletes(path: str) -> dict | None:
    """Metadata-only cleanup of delete files that can no longer apply
    (Iceberg's ``rewrite_position_delete_files`` dangling-removal):
    an equality delete whose sequence number is not greater than any
    live data file's, or a positional delete none of whose referenced
    files is live (compaction/merges rewrote them all). Returns
    ``{"dropped": n}`` or None when nothing is dangling. The dropped
    files themselves stay on disk until :func:`expire_snapshots`
    reclaims them (older snapshots still reference them)."""
    parent = _load_snapshot(path, current_snapshot_id(path))
    data = _snapshot_entries(path, parent)
    live_names = {os.path.basename(e["path"]) for e in data}
    min_seq = min((_entry_seq(e) for e in data), default=None)

    def dangling(d: dict) -> bool:
        if d["type"] == "eq":
            return min_seq is None or d["seq"] <= min_seq
        refs = d.get("refs")
        return refs is not None and not any(r in live_names for r in refs)

    new_dm: list[str] = []
    dropped = 0
    for m in parent.get("delete_manifests", []):
        ment = _load_manifest(path, m)
        alive = [e for e in ment if not dangling(e)]
        dropped += len(ment) - len(alive)
        if len(alive) == len(ment):
            new_dm.append(m)
        elif alive:
            new_dm.append(_write_manifest(path, alive))
    if not dropped:
        return None
    snap = _child_snap(parent, "rewrite-deletes", parent["manifests"], [],
                       {"added_files": 0, "removed_files": 0,
                        "dropped_delete_files": dropped},
                       delete_manifests=new_dm)
    _commit_snapshot(path, snap)
    return {"dropped": dropped}


# ---------------------------------------------------------------------------
# maintenance


def compact_files(spark: SparkSession, path: str,
                  target_mb: int = 128,
                  small_mb: float | None = None,
                  cluster_by: tuple[str, ...] = (),
                  zorder_by: tuple[str, ...] = (),
                  n_files: int | None = None,
                  where: list[tuple] | None = None) -> int | None:
    """Rewrite data files into ~``target_mb`` ones (replace snapshot).

    Iceberg's ``rewrite_data_files``: a streaming sink that commits
    every trigger leaves trigger-sized files; at scale the scan pays a
    task and a listing per file. By default only files under
    ``small_mb`` (default ``target_mb/2``) are rewritten; big files are
    carried by reference. Returns the new snapshot id, or None if
    there is nothing to do.

    ``where`` scopes the rewrite (Iceberg's ``rewrite_data_files``
    filter): only files whose partition tuple / footer stats may match
    every predicate are candidates — at warehouse scale maintenance
    compacts the partitions the sink touched, never the table. The
    predicate selects whole FILES, it never drops rows: a partially-
    matching file is rewritten in full, so compaction stays
    content-preserving by construction (a ``compact`` snapshot always
    reads back identical rows, and the changelog nets it to zero).

    ``cluster_by`` / ``zorder_by`` (mutually exclusive) turn the
    compaction into a LAYOUT rewrite of ALL current files: one range
    shuffle makes output files disjoint+sorted on the key prefix (or
    the interleaved-bit Z-curve over every listed column — Iceberg's
    OPTIMIZE ZORDER), so the manifest's footer stats prune
    key-predicate scans to a few files instead of all of them. The
    sort machinery is shared with ``sinks/maintenance.py``.
    ``n_files`` overrides the size-derived output file count (tests,
    or matching a downstream reader's parallelism).
    """
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    layout = bool(cluster_by or zorder_by)
    small = (small_mb if small_mb is not None else target_mb / 2) * (1 << 20)
    parent = _load_snapshot(path, current_snapshot_id(path))
    schema = StructType.fromJson(parent["schema"])
    spec_w = _spec_for(parent)
    fids_w = _field_ids(parent)
    entries = _snapshot_entries(path, parent)
    scoped = entries
    if where:
        scoped = [e for e in entries
                  if all(_entry_may_match(e, p, spec_w, schema, fids_w)
                         for p in where)]
    victims = (scoped if layout
               else [e for e in scoped if e["bytes"] < small])
    if len(victims) < (1 if layout else 2):
        return None
    total = sum(e["bytes"] for e in victims)
    n_out = (n_files if n_files is not None
             else max(1, math.ceil(total / (target_mb * (1 << 20)))))
    fids = _field_ids(parent)
    df = _read_mapped(spark, path, schema, fids, victims)
    # fold merge-on-read deletes into the rewrite: rewritten files get
    # a fresh (higher) seq, so the folded deletes stop applying to them
    df = _apply_deletes(spark, path, parent, victims, df)
    df = df.drop("_fname", "_pos")
    if zorder_by:
        from ..sinks.maintenance import _zorder_key

        out = (df.withColumn("_zk", _zorder_key(df, tuple(zorder_by)))
               .repartitionByRange(n_out, "_zk")
               .sortWithinPartitions("_zk").drop("_zk"))
    elif cluster_by:
        out = (df.repartitionByRange(n_out, *cluster_by)
               .sortWithinPartitions(*cluster_by))
    else:
        out = df.repartition(n_out)
    # partitioned tables stay partition-aligned through compaction; a
    # layout rewrite keeps its range clustering (files split per tuple)
    new_entries = _write_data_files(out, path,
                                    spec=_spec_for(parent),
                                    distribute=not layout, fids=fids)
    dead = {e["path"] for e in victims}
    kept_manifests = []
    for m in parent["manifests"]:
        ment = _load_manifest(path, m)
        if all(e["path"] not in dead for e in ment):
            kept_manifests.append(m)
        else:
            alive = [e for e in ment if e["path"] not in dead]
            if alive:
                kept_manifests.append(_write_manifest(path, alive))
    new_manifest = _write_manifest(
        path, _stamped(new_entries, parent["snapshot_id"] + 1))
    # a FULL rewrite folded every delete in; a partial one keeps the
    # delete files (they still apply to the carried, lower-seq files —
    # remove_dangling_deletes trims the subset that no longer can)
    full_rewrite = len(victims) == len(entries)
    snap = _child_snap(parent, "compact",
                       kept_manifests + [new_manifest], [new_manifest],
                       {"added_files": len(new_entries),
                        "removed_files": len(dead)},
                       delete_manifests=([] if full_rewrite else None))
    return _commit_snapshot(path, snap)


def rollback_to(path: str, snapshot_id: int | None = None, *,
                tag: str | None = None) -> int:
    """Iceberg's ``rollback_to_snapshot``: commit a NEW snapshot that
    restores an earlier snapshot's full state — manifests, delete
    manifests, schema, partition spec, properties, field ids. History
    is preserved: the bad commits stay time-travelable, and the
    rollback is itself one atomic commit (a concurrent writer loses
    or wins the id race as usual). Data files are untouched and keep
    their original sequence numbers, so merge-on-read delete
    semantics replay exactly as they did at the target snapshot.

    The stream sources treat a rollback as a replace-type snapshot
    (raise or skip — rolled-back rows cannot be un-emitted);
    ``table_changes(replace_mode="net")`` renders its exact row diff.
    """
    if (snapshot_id is None) == (tag is None):
        raise ValueError("pass snapshot_id OR tag")
    if tag is not None:
        snapshot_id = resolve_tag(path, tag)
    parent = _load_snapshot(path, current_snapshot_id(path))
    if snapshot_id == parent["snapshot_id"]:
        return snapshot_id  # already there
    target = _load_snapshot(path, snapshot_id)
    # field ids: restore the target's mapping, but never rewind the
    # id counter — ids minted after the target stay retired forever
    next_id = max(parent.get("next_field_id") or 0,
                  target.get("next_field_id") or 0) or None
    snap = _child_snap(
        parent, "rollback", list(target["manifests"]), [],
        {"added_files": 0, "removed_files": 0,
         "rolled_back_to": snapshot_id},
        delete_manifests=list(target.get("delete_manifests") or []),
        schema=target["schema"],
        partition_spec=target.get("partition_spec") or [],
        properties=target.get("properties") or {},
        field_ids=target.get("field_ids"),
        next_field_id=next_id)
    return _commit_snapshot(path, snap)


def rewrite_manifests(path: str, target_entries: int = 100_000) -> int | None:
    """Metadata-only manifest compaction (Iceberg's
    ``rewrite_manifests`` action): coalesce the current snapshot's
    manifest list into manifests of ~``target_entries`` entries each,
    committed as a new snapshot that carries the SAME data files.

    Why: a streaming sink committing one manifest per trigger makes
    scan planning O(snapshots·io) — after 10k triggers every
    ``table_files``/``read_table`` opens 10k small JSONs even though
    ``expire_snapshots`` trimmed the history (kept snapshots still
    reference their own manifest chains). One rewrite makes planning
    O(files/target) regardless of commit count. The operation adds no
    data, so the streaming source emits nothing for it (its
    ``added_manifests`` is empty and its op is not a replace).

    Returns the new snapshot id, or None when there is nothing to do
    (already ≤1 manifest, or a single rewrite would not shrink the
    list). Raises :exc:`CommitConflict` if the table moved during the
    rewrite (replace-type semantics: retry against the new snapshot).
    """
    parent = _load_snapshot(path, current_snapshot_id(path))
    if len(parent["manifests"]) <= 1:
        return None
    entries = _snapshot_entries(path, parent)
    new_manifests = [
        _write_manifest(path, entries[i:i + target_entries])
        for i in range(0, len(entries), target_entries)
    ] or [_write_manifest(path, [])]
    if len(new_manifests) >= len(parent["manifests"]):
        for m in new_manifests:  # abandon: don't leave orphans behind
            os.unlink(os.path.join(_meta_dir(path), m))
        return None  # would not shrink; skip the commit
    snap = _child_snap(parent, "rewrite-manifests", new_manifests, [],
                       {"added_files": 0, "removed_files": 0,
                        "rewritten_manifests": len(parent["manifests"])})
    return _commit_snapshot(path, snap)


def expire_snapshots(path: str, keep_last: int = 2,
                     older_than_ms: int | None = None) -> dict:
    """Drop expired snapshots and delete the data/manifest files they
    OWN (referenced by an expired snapshot, by no kept one). Time travel
    before the horizon stops working — that is the point (storage
    reclaim).

    Keeps the last ``keep_last`` snapshots always; with
    ``older_than_ms`` (Iceberg's ``older_than``) every snapshot
    committed at or after that timestamp is ALSO kept, so a time-based
    retention window survives bursts of commits.

    Deliberately NOT deleted here: files referenced by NO snapshot at
    all. A concurrent writer between ``_write_data_files`` and its
    snapshot commit has exactly that shape — deleting its files would
    silently corrupt the table it is about to commit. Iceberg separates
    expiry from orphan cleanup for the same reason; use
    :func:`remove_orphan_files` (age-gated) for crashed-writer debris.
    """
    ids = _list_snapshot_ids(path)
    keep = set(ids[-keep_last:])
    if older_than_ms is not None:
        keep.update(
            i for i in ids
            if _load_snapshot(path, i)["timestamp_ms"] >= older_than_ms)
    # tagged snapshots are retention pins (Iceberg keeps ref'd
    # snapshots through expiry): a named release must stay readable
    keep.update(sid for sid in tags(path).values() if sid in set(ids))
    live_manifests: set[str] = set()
    live_files: set[str] = set()
    for i in keep:
        snap = _load_snapshot(path, i)
        for m in _all_manifests(snap):
            live_manifests.add(m)
            live_files.update(e["path"] for e in _load_manifest(path, m))
    # files/manifests OWNED by the expiring snapshots (scoped delete:
    # never touch anything an expired snapshot does not reference)
    dead_manifests: set[str] = set()
    dead_files: set[str] = set()
    for i in ids:
        if i in keep:
            continue
        snap = _load_snapshot(path, i)
        for m in _all_manifests(snap):
            if m in live_manifests:
                continue
            dead_manifests.add(m)
            dead_files.update(e["path"] for e in _load_manifest(path, m))
    dead_files -= live_files
    removed = {"snapshots": 0, "manifests": 0, "data_files": 0}
    meta = _meta_dir(path)
    for i in ids:
        if i not in keep:
            os.unlink(os.path.join(meta, _snap_name(i)))
            removed["snapshots"] += 1
    for m in dead_manifests:
        os.unlink(os.path.join(meta, m))
        removed["manifests"] += 1
    for rel in dead_files:
        os.unlink(os.path.join(path, rel))
        removed["data_files"] += 1
    return removed


def remove_orphan_files(path: str, older_than_s: float = 3 * 86400) -> dict:
    """Delete files referenced by NO snapshot — crashed writers'
    ``_staging-*`` dirs and data/manifest files that were written but
    never committed — but ONLY when older than ``older_than_s``
    (default 3 days, Iceberg's ``remove_orphan_files`` default). The
    age gate is the safety contract: an in-flight writer's files are
    always younger than it, so a concurrent append can never lose the
    files it is about to commit."""
    import shutil

    now = time.time()
    cutoff = now - older_than_s
    live_manifests: set[str] = set()
    live_files: set[str] = set()
    for i in _list_snapshot_ids(path):
        snap = _load_snapshot(path, i)
        for m in _all_manifests(snap):
            live_manifests.add(m)
            live_files.update(e["path"] for e in _load_manifest(path, m))
    removed = {"manifests": 0, "data_files": 0, "staging_dirs": 0}
    meta = _meta_dir(path)
    for name in os.listdir(meta):
        p = os.path.join(meta, name)
        if (name.startswith("manifest-") and name not in live_manifests
                and os.path.getmtime(p) < cutoff):
            os.unlink(p)
            removed["manifests"] += 1
    data = os.path.join(path, _DATA)
    for name in os.listdir(data):
        p = os.path.join(data, name)
        if (f"{_DATA}/{name}" not in live_files
                and os.path.getmtime(p) < cutoff):
            os.unlink(p)
            removed["data_files"] += 1
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if name.startswith("_staging-") and os.path.getmtime(p) < cutoff:
            shutil.rmtree(p, ignore_errors=True)
            removed["staging_dirs"] += 1
    return removed


# ---------------------------------------------------------------------------
# write-audit-publish + named refs (tags)


class AuditFailed(RuntimeError):
    """A write-audit-publish run found expectation violations; the
    staged data was aborted and the table is unchanged."""


def _ref_file(path: str, name: str) -> str:
    import re

    if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
        raise ValueError(f"invalid ref name {name!r} "
                         "(allowed: letters, digits, . _ -)")
    return os.path.join(_meta_dir(path), f"ref-{name}.json")


def create_tag(path: str, name: str, snapshot_id: int | None = None) -> int:
    """Pin a named immutable tag to a snapshot (default: current).

    Tags are Iceberg refs: human-named retention/time-travel anchors
    ("v1-train-cut"). ``expire_snapshots`` always keeps tagged
    snapshots, so a tag is also a retention pin. Creation is atomic
    (link-claimed like commits) and tags are immutable — re-pointing
    means drop + create."""
    sid = current_snapshot_id(path) if snapshot_id is None else snapshot_id
    _load_snapshot(path, sid)   # must exist (raises otherwise)
    ref = _ref_file(path, name)
    tmp = os.path.join(_meta_dir(path), f"._tmp-ref-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump({"snapshot_id": sid, "type": "tag"}, f)
    try:
        os.link(tmp, ref)
    except FileExistsError:
        raise ValueError(f"tag {name!r} already exists "
                         "(tags are immutable; drop_tag first)")
    finally:
        os.unlink(tmp)
    return sid


def tags(path: str) -> dict:
    """All tags as ``{name: snapshot_id}``."""
    out = {}
    for n in os.listdir(_meta_dir(path)):
        if n.startswith("ref-") and n.endswith(".json"):
            with open(os.path.join(_meta_dir(path), n)) as f:
                out[n[4:-5]] = json.load(f)["snapshot_id"]
    return out


def drop_tag(path: str, name: str) -> None:
    try:
        os.unlink(_ref_file(path, name))
    except FileNotFoundError:
        raise ValueError(f"no such tag {name!r}")


def resolve_tag(path: str, name: str) -> int:
    t = tags(path)
    if name not in t:
        raise ValueError(f"no such tag {name!r} (have: {sorted(t)})")
    return t[name]


def stage_append(df: DataFrame, path: str,
                 parquet_block_bytes: int | None = None) -> dict:
    """WRITE phase of write-audit-publish: data files + manifest land
    on storage but NO snapshot is committed — invisible to every
    reader and to the streaming source until :func:`publish_staged`.

    Crash/abandon safety needs no new machinery: an unpublished
    staging is exactly the "written but never committed" debris
    :func:`remove_orphan_files` age-gates, and :func:`expire_snapshots`
    never touches files no expired snapshot owns."""
    head = _load_snapshot(path, current_snapshot_id(path))
    entries = _write_data_files(
        df, path, parquet_block_bytes=parquet_block_bytes,
        spec=_table_spec(path), fids=_field_ids(head),
        sort_order=(head.get("properties") or {}).get("write.sort-order"))
    manifest = _write_manifest(path, entries)
    return {"manifest": manifest, "entries": entries}


def read_staged(spark: SparkSession, path: str, staged: dict,
                as_if_published: bool = False) -> DataFrame:
    """AUDIT-phase read: the staged rows (table schema), optionally
    unioned with the current table — the "table as it would look after
    publish" view Iceberg's WAP audits run against (duplicate checks,
    referential checks, and volume checks need the existing rows)."""
    schema = table_schema(path)
    files = [os.path.join(path, e["path"]) for e in staged["entries"]]
    df = (spark.read.schema(schema).parquet(*files) if files
          else spark.createDataFrame([], schema))
    if as_if_published:
        df = read_table(spark, path).unionByName(df)
    return df


def publish_staged(path: str, staged: dict, max_retries: int = 10,
                   summary_extra: dict | None = None) -> int:
    """PUBLISH phase: one atomic append-type snapshot referencing the
    staged manifest. Pure metadata — no data file moves or rewrites —
    so concurrent appends between stage and publish are fine (the
    commit retries against the new parent like any append)."""

    def attempt(parent):
        # stamp the staged entries with the (final) sequence number;
        # the staged manifest name is reused so an abort after a lost
        # race still cleans up the right file
        with open(os.path.join(_meta_dir(path), staged["manifest"]),
                  "w") as f:
            json.dump({"files": _stamped(staged["entries"],
                                         parent["snapshot_id"] + 1)}, f)
        snap = _child_snap(parent, "append",
                           parent["manifests"] + [staged["manifest"]],
                           [staged["manifest"]],
                           {"added_files": len(staged["entries"]),
                            "removed_files": 0, "wap": True,
                            **(summary_extra or {})})
        return snap, []

    return _commit_retrying(path, attempt, max_retries, "publish_staged")


def abort_staged(path: str, staged: dict) -> None:
    """Drop a staged (unpublished) manifest and its data files."""
    for e in staged["entries"]:
        try:
            os.unlink(os.path.join(path, e["path"]))
        except FileNotFoundError:
            pass
    try:
        os.unlink(os.path.join(_meta_dir(path), staged["manifest"]))
    except FileNotFoundError:
        pass


def write_audit_publish(
    df: DataFrame,
    path: str,
    checks: list,
    audit_scope: str = "staged",
    tag: str | None = None,
) -> int:
    """Iceberg's WAP pattern as one call: stage ``df``, run the
    declarative expectation ``checks`` (see
    ``operators/expectations.py`` — ``(name, sql_predicate)`` pairs,
    CHECK-constraint NULL semantics) against the staged rows
    (``audit_scope="staged"``) or the as-if-published table
    (``audit_scope="table"``), then publish atomically. On any failed
    expectation the staged files are removed, the table is untouched,
    and :class:`AuditFailed` reports the violation counts. ``tag``
    additionally pins the published snapshot (e.g. a dataset release
    name).

    Readers and the incremental streaming source can NEVER observe
    unaudited rows: data only becomes visible via the publish commit.
    """
    if audit_scope not in ("staged", "table"):
        raise ValueError("audit_scope must be 'staged' or 'table'")
    from ..operators.expectations import expectation_summary

    spark = df.sparkSession
    staged = stage_append(df, path)
    try:
        audit_df = read_staged(spark, path, staged,
                               as_if_published=audit_scope == "table")
        failed = [(r["expectation"], r["n_violations"], r["n_rows"])
                  for r in expectation_summary(audit_df, checks).collect()
                  if not r["passed"]]
    except BaseException:
        abort_staged(path, staged)
        raise
    if failed:
        abort_staged(path, staged)
        raise AuditFailed(
            "audit failed, staged data aborted, table unchanged: " +
            "; ".join(f"{name}: {n}/{total} rows violate"
                      for name, n, total in failed))
    sid = publish_staged(path, staged,
                         summary_extra={"wap_audit": "passed",
                                        "wap_checks": len(checks)})
    if tag is not None:
        create_tag(path, tag, sid)
    return sid
