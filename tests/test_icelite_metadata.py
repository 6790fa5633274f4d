"""Iceberg-style metadata tables (sources/icelite_meta.py).

Every relation is checked against ground truth computed from the SAME
table through the ordinary read/metadata APIs — files against
table_files + on-disk sizes, snapshots against the snapshot log,
partitions against a data-side groupBy, delete_files against a
merge-on-read commit's delete manifest, refs/properties against
tags()/table_properties(). Time travel over `files` must reproduce the
pre-merge file set exactly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigdata_event_stream_detection_spark.sources.icelite import (
    append,
    create_table,
    create_tag,
    merge_into,
    read_table,
    rename_column,
    set_properties,
    snapshots,
    table_files,
    table_properties,
)
from bigdata_event_stream_detection_spark.sources.icelite_meta import (
    live_files,
    read_metadata_table,
    table_size_bytes,
)

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("grp", StringType()),
    StructField("x", DoubleType()),
])


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), F.col("id") % 3).alias("grp"),
        (F.col("id") * 1.5).alias("x"))


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "meta_tbl")
    create_table(path, SCHEMA,
                 partition_spec=[("grp", "identity")],
                 properties={"owner": "tests"})
    append(_rows(spark, 0, 300), path)
    append(_rows(spark, 300, 600), path)
    return path


def test_files_matches_table_files_and_disk(spark, table):
    rows = {r["file_path"]: r
            for r in read_metadata_table(spark, table, "files").collect()}
    entries = {e["path"]: e for e in table_files(table)}
    assert set(rows) == set(entries)
    for rel, e in entries.items():
        r = rows[rel]
        assert r["content"] == "data"
        assert r["record_count"] == e["rows"]
        assert r["file_size_bytes"] == os.path.getsize(
            os.path.join(table, rel))
        assert r["seq"] >= 2  # stamped with the committing snapshot
        assert r["partition"] == {"grp": e["partition"]["grp"]}
        # footer-stats bounds surface as strings in their stats encoding
        assert int(r["lower_bounds"]["k"]) == e["stats"]["k"]["min"]
        assert int(r["upper_bounds"]["k"]) == e["stats"]["k"]["max"]
        assert r["null_counts"]["k"] == 0
        assert r["column_ids"] == {"k": 1, "grp": 2, "x": 3}


def test_partitions_matches_data_groupby(spark, table):
    got = {r["partition"]["grp"]: (r["data_file_count"],
                                   r["record_count"])
           for r in read_metadata_table(spark, table,
                                        "partitions").collect()}
    truth = {r["grp"]: r["n"]
             for r in read_table(spark, table)
             .groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert set(got) == set(truth)
    for grp, n in truth.items():
        files, records = got[grp]
        assert records == n
        assert files == 2  # one file per tuple per append, two appends


def test_snapshots_and_history_match_log(spark, table):
    log = snapshots(table)
    snap_rows = read_metadata_table(spark, table, "snapshots").collect()
    assert [r["snapshot_id"] for r in snap_rows] == \
        [s["snapshot_id"] for s in log]
    by_id = {r["snapshot_id"]: r for r in snap_rows}
    assert by_id[1]["operation"] == "create"
    assert by_id[1]["total_data_files"] == 0
    assert by_id[3]["total_records"] == 600
    assert by_id[3]["parent_id"] == 2
    hist = read_metadata_table(spark, table, "history").collect()
    assert [h["snapshot_id"] for h in hist] == [1, 2, 3]
    assert all(h["is_current_ancestor"] for h in hist)


def test_time_travel_files_pin(spark, table):
    v2 = read_metadata_table(spark, table, "files", version=2)
    v3 = read_metadata_table(spark, table, "files", version=3)
    assert v2.count() == 3 and v3.count() == 6
    assert (read_metadata_table(spark, table, "files", version=2)
            .agg(F.sum("record_count")).first()[0] == 300)


def test_delete_files_after_mor_merge(spark, table):
    src = (_rows(spark, 0, 50)
           .withColumn("x", F.col("x") + 1000.0)
           .withColumn("is_delete", F.col("k") % 10 == 0))
    merge_into(spark, table, src, key="k", delete_col="is_delete",
               strategy="merge-on-read")
    dels = read_metadata_table(spark, table, "delete_files").collect()
    assert len(dels) >= 1
    assert {d["content"] for d in dels} == {"equality"}
    assert all(d["equality_key"] == "k" for d in dels)
    assert sum(d["record_count"] for d in dels) == 50
    # the files relation still lists raw data files; partitions
    # aggregates them — both pre-delete counts, like Iceberg's
    files = read_metadata_table(spark, table, "files")
    assert files.agg(F.sum("record_count")).first()[0] == 600 + 45


def test_delete_files_key_follows_rename(spark, table):
    """After a metadata-only rename of a live equality-delete key, the
    ``delete_files`` relation reports the key by its name in the pinned
    snapshot's schema, not by its write-time name."""
    src = (_rows(spark, 0, 50)
           .withColumn("is_delete", F.col("k") % 10 == 0))
    merged = merge_into(spark, table, src, key="k", delete_col="is_delete",
                        strategy="merge-on-read")
    rename_column(table, "k", "key")
    dels = read_metadata_table(spark, table, "delete_files").collect()
    assert dels and all(d["equality_key"] == "key" for d in dels)
    pinned = read_metadata_table(spark, table, "delete_files",
                                 version=merged).collect()
    assert pinned and all(d["equality_key"] == "k" for d in pinned)


def test_manifests_refs_properties(spark, table):
    create_tag(table, "cut-1", snapshot_id=2)
    set_properties(table, {"write.sort-order": "k"})
    mans = read_metadata_table(spark, table, "manifests").collect()
    assert {m["kind"] for m in mans} == {"data"}
    assert sum(m["entry_count"] for m in mans) == 6
    # the set_properties head adds no manifests; the append snapshot
    # marks exactly its own manifest as added
    at_append = read_metadata_table(spark, table, "manifests",
                                    version=3).collect()
    assert sum(m["added_by_snapshot"] for m in at_append) == 1
    assert not any(m["added_by_snapshot"] for m in mans)
    refs = {r["name"]: (r["type"], r["snapshot_id"])
            for r in read_metadata_table(spark, table, "refs").collect()}
    assert refs["cut-1"] == ("tag", 2)
    assert refs["main"][0] == "branch"
    assert refs["main"][1] == max(
        s["snapshot_id"] for s in snapshots(table))
    props = {r["key"]: r["value"]
             for r in read_metadata_table(spark, table,
                                          "properties").collect()}
    assert props == table_properties(table)
    assert props["owner"] == "tests"


def test_log_kinds_reject_pins_and_unknown_kind(spark, table):
    with pytest.raises(ValueError, match="log-scoped"):
        read_metadata_table(spark, table, "snapshots", version=2)
    with pytest.raises(ValueError, match="unknown metadata table"):
        read_metadata_table(spark, table, "nope")


def test_register_metadata_views_sql(spark, table):
    from bigdata_event_stream_detection_spark.sources.icelite_meta \
        import register_metadata_views

    names = register_metadata_views(spark, table, "t")
    assert "t_files" in names and "t_snapshots" in names
    n = spark.sql(
        "SELECT sum(record_count) FROM t_files").first()[0]
    assert n == 600
    ops = [r[0] for r in spark.sql(
        "SELECT operation FROM t_snapshots ORDER BY snapshot_id"
    ).collect()]
    assert ops[0] == "create" and "append" in ops


def test_live_files_and_size(spark, table):
    live = live_files(table)
    assert live == {e["path"] for e in table_files(table)}
    assert table_size_bytes(table) == sum(
        os.path.getsize(os.path.join(table, p)) for p in live)
    assert table_size_bytes(table, version=2) < table_size_bytes(table)
