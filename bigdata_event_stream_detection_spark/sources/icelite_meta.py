"""Iceberg-style metadata tables over icelite tables.

Parity target: Iceberg's inspection relations (``SELECT * FROM
tbl.snapshots / history / files / delete_files / manifests /
partitions / refs / properties`` — Iceberg spec "Metadata tables",
public docs). The reference repo has no table format; this surface
exists so operators can be written AGAINST table metadata the same way
they are against data: retention policies read ``snapshots``,
compaction planners read ``files``/``partitions``, audits read
``refs``/``history``.

Scale note: every builder here reads exactly the snapshot/manifest
JSONs the query planner already loads (``_snapshot_entries`` — O(files)
per snapshot; the snapshot log is O(snapshots), with manifest payloads
cached by name so a 10k-snapshot log costs one read per *distinct*
manifest, which ``rewrite_manifests`` keeps bounded). The rows are
handed to Spark as a local relation: metadata volume tracks planning
metadata, not data, matching Iceberg's own metadata-table cost model —
on a warehouse deployment these become distributed scans keyed by
manifest file, a swap confined to the ``_entries``/``_log`` helpers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .icelite import (
    _all_manifests,
    _declared_eq_key,
    _entry_seq,
    _field_ids,
    _list_snapshot_ids,
    _load_manifest,
    _load_snapshot,
    _resolve_snapshot,
    _snapshot_delete_entries,
    _snapshot_entries,
    current_snapshot_id,
    resolve_tag,
    tags,
)

_KINDS = ("snapshots", "history", "files", "delete_files", "manifests",
          "partitions", "refs", "properties")
# relations describing the whole table log/refs — a snapshot pin makes
# no sense for them, so passing one is an error rather than a no-op
_LOG_KINDS = ("snapshots", "history", "refs")


def _smap(d: dict | None) -> dict | None:
    """Render a metadata dict as map<string,string> (None values kept —
    a null partition value is the untransformable sentinel)."""
    if d is None:
        return None
    return {str(k): (None if v is None else str(v)) for k, v in d.items()}


def _snapshot_schema() -> StructType:
    return StructType([
        StructField("snapshot_id", LongType(), False),
        StructField("parent_id", LongType(), True),
        StructField("committed_at_ms", LongType(), False),
        StructField("operation", StringType(), False),
        StructField("summary", MapType(StringType(), StringType()), True),
        StructField("total_data_files", LongType(), False),
        StructField("total_delete_files", LongType(), False),
        StructField("total_records", LongType(), False),
    ])


_FILES_SCHEMA = StructType([
    StructField("content", StringType(), False),
    StructField("file_path", StringType(), False),
    StructField("record_count", LongType(), False),
    StructField("file_size_bytes", LongType(), False),
    StructField("row_groups", IntegerType(), True),
    StructField("seq", LongType(), False),
    StructField("partition", MapType(StringType(), StringType()), True),
    StructField("lower_bounds", MapType(StringType(), StringType()), True),
    StructField("upper_bounds", MapType(StringType(), StringType()), True),
    StructField("null_counts", MapType(StringType(), LongType()), True),
    StructField("column_ids", MapType(StringType(), IntegerType()), True),
])

_DELETE_FILES_SCHEMA = StructType([
    StructField("content", StringType(), False),
    StructField("file_path", StringType(), False),
    StructField("record_count", LongType(), False),
    StructField("file_size_bytes", LongType(), False),
    StructField("seq", LongType(), False),
    StructField("equality_key", StringType(), True),
    StructField("referenced_files", ArrayType(StringType()), True),
])

_MANIFESTS_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("added_by_snapshot", BooleanType(), False),
    StructField("entry_count", LongType(), False),
    StructField("record_count", LongType(), False),
    StructField("file_size_bytes", LongType(), False),
])

_PARTITIONS_SCHEMA = StructType([
    StructField("partition", MapType(StringType(), StringType()), True),
    StructField("data_file_count", LongType(), False),
    StructField("record_count", LongType(), False),
    StructField("total_bytes", LongType(), False),
])

_HISTORY_SCHEMA = StructType([
    StructField("made_current_at_ms", LongType(), False),
    StructField("snapshot_id", LongType(), False),
    StructField("parent_id", LongType(), True),
    StructField("is_current_ancestor", BooleanType(), False),
])

_REFS_SCHEMA = StructType([
    StructField("name", StringType(), False),
    StructField("type", StringType(), False),
    StructField("snapshot_id", LongType(), False),
])

_PROPERTIES_SCHEMA = StructType([
    StructField("key", StringType(), False),
    StructField("value", StringType(), False),
])


def _file_rows(path: str, snap: dict) -> list[tuple]:
    rows = []
    for e in _snapshot_entries(path, snap):
        stats = e.get("stats") or {}
        rows.append((
            "data", e["path"], int(e["rows"]), int(e["bytes"]),
            e.get("row_groups"), int(_entry_seq(e)),
            _smap(e.get("partition")),
            _smap({c: s["min"] for c, s in stats.items()}) or None,
            _smap({c: s["max"] for c, s in stats.items()}) or None,
            ({c: int(s.get("nulls", 0)) for c, s in stats.items()}
             or None),
            e.get("cols"),
        ))
    return rows


def _delete_file_rows(path: str, snap: dict) -> list[tuple]:
    # equality keys are reported by their name in ``snap``'s schema (a
    # rename since the delete was written resolves through its kid)
    fids = _field_ids(snap)
    rows = []
    for e in _snapshot_delete_entries(path, snap):
        eq = e["type"] == "eq"
        rows.append((
            "equality" if eq else "position",
            e["path"], int(e["rows"]), int(e["bytes"]),
            int(_entry_seq(e)), _declared_eq_key(e, fids) if eq else None,
            sorted(e["refs"]) if e.get("refs") is not None else None,
        ))
    return rows


def _manifest_rows(path: str, snap: dict) -> list[tuple]:
    added = set(snap.get("added_manifests") or [])
    rows = []
    for kind, names in (("data", snap["manifests"]),
                        ("delete", snap.get("delete_manifests") or [])):
        for m in names:
            entries = _load_manifest(path, m)
            rows.append((m, kind, m in added, len(entries),
                         sum(int(e["rows"]) for e in entries),
                         sum(int(e["bytes"]) for e in entries)))
    return rows


def _partition_rows(path: str, snap: dict) -> list[tuple]:
    agg: dict[tuple | None, list[int]] = {}
    for e in _snapshot_entries(path, snap):
        part = e.get("partition")
        key = tuple(sorted(_smap(part).items())) if part else None
        cur = agg.setdefault(key, [0, 0, 0])
        cur[0] += 1
        cur[1] += int(e["rows"])
        cur[2] += int(e["bytes"])
    return [(dict(k) if k is not None else None, c[0], c[1], c[2])
            for k, c in sorted(
                agg.items(),
                key=lambda kv: (kv[0] is not None, repr(kv[0])))]


def _snapshot_rows(path: str) -> list[tuple]:
    # manifest payload cache: a long log re-references the same
    # manifests (appends reuse the parent's), so each is read once
    cache: dict[str, tuple[int, int]] = {}

    def counts(name: str) -> tuple[int, int]:
        if name not in cache:
            entries = _load_manifest(path, name)
            cache[name] = (len(entries),
                           sum(int(e["rows"]) for e in entries))
        return cache[name]

    rows = []
    for sid in _list_snapshot_ids(path):
        snap = _load_snapshot(path, sid)
        nfiles = nrecords = 0
        for m in snap["manifests"]:
            c, r = counts(m)
            nfiles += c
            nrecords += r
        ndel = sum(counts(m)[0]
                   for m in snap.get("delete_manifests") or [])
        rows.append((sid, snap.get("parent_id"),
                     int(snap["timestamp_ms"]), snap["operation"],
                     _smap(snap.get("summary")), nfiles, ndel, nrecords))
    return rows


def read_metadata_table(
    spark: SparkSession,
    path: str,
    kind: str,
    version: int | None = None,
    as_of_ms: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """The named metadata relation of an icelite table as a DataFrame.

    ``kind`` is one of ``snapshots`` (the full commit log with computed
    file/record totals), ``history`` (current-ancestor chain),
    ``files`` / ``delete_files`` (one row per manifest entry of a
    snapshot, with partition tuple, footer-stats bounds and column-id
    mapping), ``manifests``, ``partitions`` (per-partition file/row
    aggregation — what a compaction planner reads), ``refs`` (``main``
    plus every tag), ``properties``. Snapshot-scoped kinds accept the
    same ``version`` / ``as_of_ms`` / ``tag`` pins as ``read_table``;
    log-scoped kinds (snapshots/history/refs) reject them."""
    if kind not in _KINDS:
        raise ValueError(f"unknown metadata table {kind!r} "
                         f"(have: {', '.join(_KINDS)})")
    pinned = (version is not None or as_of_ms is not None
              or tag is not None)
    if kind in _LOG_KINDS:
        if pinned:
            raise ValueError(f"{kind} is a log-scoped relation; "
                             "version/as_of_ms/tag do not apply")
        if kind == "snapshots":
            return spark.createDataFrame(_snapshot_rows(path),
                                         _snapshot_schema())
        if kind == "history":
            rows = []
            for sid in _list_snapshot_ids(path):
                snap = _load_snapshot(path, sid)
                # the id chain is linear (every commit claims
                # parent+1), so every logged snapshot is an ancestor
                # of the current one — including rollback targets,
                # which are restored BY a new commit, not by moving
                # the head backwards
                rows.append((int(snap["timestamp_ms"]), sid,
                             snap.get("parent_id"), True))
            return spark.createDataFrame(rows, _HISTORY_SCHEMA)
        rows = [("main", "branch", current_snapshot_id(path))]
        rows += [(n, "tag", sid) for n, sid in sorted(tags(path).items())]
        return spark.createDataFrame(rows, _REFS_SCHEMA)

    if tag is not None:
        if version is not None or as_of_ms is not None:
            raise ValueError("pass tag OR version/as_of_ms, not both")
        version = resolve_tag(path, tag)
    snap = _resolve_snapshot(path, version=version, as_of_ms=as_of_ms)
    if kind == "files":
        return spark.createDataFrame(_file_rows(path, snap),
                                     _FILES_SCHEMA)
    if kind == "delete_files":
        return spark.createDataFrame(_delete_file_rows(path, snap),
                                     _DELETE_FILES_SCHEMA)
    if kind == "manifests":
        return spark.createDataFrame(_manifest_rows(path, snap),
                                     _MANIFESTS_SCHEMA)
    if kind == "partitions":
        return spark.createDataFrame(_partition_rows(path, snap),
                                     _PARTITIONS_SCHEMA)
    return spark.createDataFrame(
        sorted((snap.get("properties") or {}).items()),
        _PROPERTIES_SCHEMA)


def register_metadata_views(spark: SparkSession, path: str,
                            prefix: str) -> list[str]:
    """Register every metadata relation as a temp view
    ``{prefix}_{kind}`` so plain ``spark.sql`` can query table
    metadata (Iceberg's ``SELECT * FROM tbl.files`` surface, spelled
    through the view catalog). Views are built eagerly from the
    CURRENT state — re-register after commits to refresh. Returns the
    created view names."""
    names = []
    for kind in _KINDS:
        name = f"{prefix}_{kind}"
        read_metadata_table(spark, path, kind).createOrReplaceTempView(
            name)
        names.append(name)
    return names


def live_files(path: str, version: int | None = None) -> set[str]:
    """Relative paths of every data + delete file a snapshot references
    (the set maintenance jobs treat as live)."""
    snap = _resolve_snapshot(path, version=version)
    out: set[str] = set()
    for m in _all_manifests(snap):
        for e in _load_manifest(path, m):
            out.add(e["path"])
    return out


def table_size_bytes(path: str, version: int | None = None) -> int:
    """Total live data-file bytes of a snapshot (metadata-only)."""
    snap = _resolve_snapshot(path, version=version)
    return sum(int(e["bytes"]) for e in _snapshot_entries(path, snap))


__all__ = ["read_metadata_table", "register_metadata_views",
           "live_files", "table_size_bytes"]
