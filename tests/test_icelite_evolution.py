"""Field-id schema evolution: rename/drop columns metadata-only.

Iceberg's core schema trick (spec: every column has a field id; files
resolve columns by id, not name — behavior parity only, no Iceberg
code consulted): a rename rewrites NO data, old files keep resolving;
a dropped-then-re-added name gets a fresh id so the old column's data
can never resurrect; stats pruning stays exact across renames because
predicates translate to each file's write-time name.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from bigdata_event_stream_detection_spark.sources.icelite import (
    add_columns,
    append,
    compact_files,
    create_table,
    delete_where,
    drop_column,
    merge_into,
    read_table,
    rename_column,
    table_files,
    table_schema,
)


def _df(spark, lo=0, hi=100):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g"),
        (F.col("id") * 1.0).alias("v"))


@pytest.fixture()
def tbl(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _df(spark)
    create_table(t, df.schema)
    append(df.repartition(2), t)
    return t


def test_rename_is_metadata_only(spark, tbl):
    before = {e["path"] for e in table_files(tbl)}
    rename_column(tbl, "v", "val")
    assert {e["path"] for e in table_files(tbl)} == before
    got = read_table(spark, tbl)
    assert "val" in got.columns and "v" not in got.columns
    assert got.agg(F.sum("val")).collect()[0][0] == sum(
        float(i) for i in range(100))
    # old name still readable via time travel
    old = read_table(spark, tbl, version=2)
    assert "v" in old.columns


def test_rename_mixes_old_and_new_files(spark, tbl):
    rename_column(tbl, "v", "val")
    append(_df(spark, 100, 150).withColumnRenamed("v", "val"), tbl)
    got = read_table(spark, tbl)
    assert got.count() == 150
    assert got.agg(F.sum("val")).collect()[0][0] == sum(
        float(i) for i in range(150))


def test_pruning_exact_across_rename(spark, tbl):
    rename_column(tbl, "k", "key")
    append(_df(spark, 100, 200).withColumnRenamed("k", "key")
           .repartitionByRange(2, "key"), tbl)
    # predicate on the NEW name must translate to the old files' stats
    pruned = table_files(tbl, where=[("key", ">=", 100)])
    assert 0 < len(pruned) < len(table_files(tbl))
    got = read_table(spark, tbl, where=[("key", ">=", 100)])
    assert got.count() == 100


def test_drop_then_readd_never_resurrects(spark, tbl):
    drop_column(tbl, "g")
    assert "g" not in [f.name for f in table_schema(tbl).fields]
    add_columns(tbl, StructType([StructField("g", LongType())]))
    got = read_table(spark, tbl)
    # the re-added g has a fresh field id: old files' g stays invisible
    assert got.filter(F.col("g").isNotNull()).count() == 0
    append(_df(spark, 100, 110), tbl)
    got = read_table(spark, tbl)
    assert got.filter(F.col("g").isNotNull()).count() == 10
    # a predicate on the re-added column prunes old files exactly
    assert got.filter(F.col("g") >= 0).count() == 10
    pruned = table_files(tbl, where=[("g", ">=", 0)])
    assert len(pruned) == len(table_files(tbl)) - 2  # only the new file(s)


def test_merge_on_renamed_key(spark, tbl):
    rename_column(tbl, "k", "key")
    src = (_df(spark, 0, 10).withColumnRenamed("k", "key")
           .withColumn("v", F.col("v") + 100))
    merge_into(spark, tbl, src, key="key")
    got = read_table(spark, tbl)
    assert got.filter("key < 10").agg(F.sum("v")).collect()[0][0] == sum(
        i + 100.0 for i in range(10))
    assert got.count() == 100


def test_mor_delete_on_renamed_column(spark, tbl):
    rename_column(tbl, "v", "val")
    delete_where(spark, tbl, [("val", "<", 10.0)],
                 strategy="merge-on-read")
    assert read_table(spark, tbl).count() == 90


def test_compact_folds_to_current_names(spark, tbl):
    rename_column(tbl, "v", "val")
    append(_df(spark, 100, 150).withColumnRenamed("v", "val"), tbl)
    compact_files(spark, tbl, target_mb=128)  # folds the small files
    got = read_table(spark, tbl)
    assert got.count() == 150
    assert got.agg(F.round(F.sum("val"), 2)).collect()[0][0] == round(
        sum(float(i) for i in range(150)), 2)


def test_evolution_guards(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _df(spark)
    create_table(t, df.schema, partition_spec=[("g", "identity")])
    append(df, t)
    # partition-spec source: DROP stays blocked; rename is allowed
    # since r5 (source_id-resolved spec — test_rename_partition_source)
    with pytest.raises(ValueError, match="partition-spec"):
        drop_column(t, "g")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(t, "k", "v")
    with pytest.raises(ValueError, match="no such column"):
        drop_column(t, "nope")
    # live equality-delete key: DROP stays blocked (the deletes would
    # become meaningless); rename is allowed since r5 (kid-resolved,
    # exercised in test_rename_live_eq_delete_key below)
    src = df.filter("k < 5").withColumn("v", F.col("v") + 1)
    merge_into(spark, t, src, key="k", strategy="merge-on-read")
    with pytest.raises(ValueError, match="equality-delete"):
        drop_column(t, "k")
    compact_files(spark, t, target_mb=128)
    from bigdata_event_stream_detection_spark.sources.icelite import (
        remove_dangling_deletes,
    )

    remove_dangling_deletes(t)
    rename_column(t, "k", "key")
    assert "key" in [f.name for f in table_schema(t).fields]


def test_rename_live_eq_delete_key(spark, tmp_path):
    """r4 verdict item 7: renaming the key of LIVE equality-delete
    files is metadata-only — entries carry the key's field id, read
    paths resolve it against the live schema, and the delete parquet
    keeps its write-time column name. No compaction required."""
    t = str(tmp_path / "t")
    df = _df(spark)
    create_table(t, df.schema)
    append(df.repartition(2), t)
    # MOR merge: updates k<10, deletes k%3==0 of those -> live eq file
    src = (df.filter("k < 10")
           .withColumn("v", F.col("v") + 100)
           .withColumn("dead", F.col("k") % 3 == 0))
    merge_into(spark, t, src, key="k", delete_col="dead",
               strategy="merge-on-read")
    before = {r["k"]: r["v"] for r in read_table(spark, t).collect()}
    rename_column(t, "k", "key")  # allowed with live deletes
    got = {r["key"]: r["v"] for r in read_table(spark, t).collect()}
    assert got == before  # deletes still apply through the rename
    assert 0 not in got and 3 not in got and got[1] == 101.0
    # a further MOR merge under the NEW name composes with the old
    # delete file (different write-time names, same field id)
    src2 = (spark.range(4, 20).select(
        F.col("id").alias("key"), (F.col("id") % 5).alias("g"),
        F.lit(-1.0).alias("v"),
        (F.col("id") % 7 == 0).alias("dead")))
    merge_into(spark, t, src2, key="key", delete_col="dead",
               strategy="merge-on-read")
    got2 = {r["key"]: r["v"] for r in read_table(spark, t).collect()}
    assert 7 not in got2 and 14 not in got2
    assert got2[4] == -1.0 and got2[5] == -1.0
    assert 0 not in got2 and 3 not in got2  # old deletes still live
    assert got2[1] == 101.0  # old MOR update visible under new name
    # dropping the (renamed) key remains blocked
    with pytest.raises(ValueError, match="equality-delete"):
        drop_column(t, "key")


def test_mor_merge_retry_across_concurrent_rename(spark, tmp_path,
                                                 monkeypatch):
    """A rename of the merge key lands between a merge-on-read commit
    attempt and its retry: the retried delete entries still carry the
    key's field id (resolved once from the validated parent, not from
    the renamed snapshot) and the deletes apply under the new name."""
    from bigdata_event_stream_detection_spark.sources import icelite

    t = str(tmp_path / "t")
    df = _df(spark)
    create_table(t, df.schema)
    append(df.repartition(2), t)
    real_commit = icelite._commit_snapshot
    raced = []

    def racing_commit(path, snap):
        if not raced and snap["operation"] == "merge-mor":
            raced.append(snap["snapshot_id"])
            rename_column(path, "k", "key")  # a concurrent writer wins
            raise icelite.CommitConflict("lost the race")
        return real_commit(path, snap)

    monkeypatch.setattr(icelite, "_commit_snapshot", racing_commit)
    src = (df.filter("k < 10")
           .withColumn("v", F.col("v") + 100)
           .withColumn("dead", F.col("k") % 3 == 0))
    sid = merge_into(spark, t, src, key="k", delete_col="dead",
                     strategy="merge-on-read")
    assert raced and sid == raced[0] + 1  # exactly one retry
    snap = icelite._load_snapshot(t, sid)
    eq = [e for m in snap["delete_manifests"]
          for e in icelite._load_manifest(t, m) if e["type"] == "eq"]
    assert eq
    assert all(e["kid"] == icelite._field_ids(snap)["key"] for e in eq)
    got = {r["key"]: r["v"] for r in read_table(spark, t).collect()}
    assert not {0, 3, 6, 9} & set(got)
    assert got[1] == 101.0 and got[50] == 50.0 and len(got) == 96


def test_rename_blocked_for_legacy_kidless_eq_entries(spark, tmp_path):
    """Entries written before the kid stamp (simulated by stripping it
    from the delete manifest) still require compact-first."""
    import json
    import os

    t = str(tmp_path / "t")
    df = _df(spark)
    create_table(t, df.schema)
    append(df, t)
    merge_into(spark, t, df.filter("k < 5")
               .withColumn("v", F.col("v") + 1),
               key="k", strategy="merge-on-read")
    from bigdata_event_stream_detection_spark.sources import icelite
    snap = icelite._load_snapshot(
        t, icelite.current_snapshot_id(t))
    for m in snap["delete_manifests"]:
        p = os.path.join(t, icelite._META, m)
        with open(p) as f:
            doc = json.load(f)
        for e in doc["files"]:
            e.pop("kid", None)
        with open(p, "w") as f:
            json.dump(doc, f)
    with pytest.raises(ValueError, match="equality-delete"):
        rename_column(t, "k", "key")


def test_stream_and_batch_source_resolve_renames(spark, tbl, tmp_path):
    from bigdata_event_stream_detection_spark.sources.icelite_source import (
        IceliteDataSource,
        available_now_drain,
    )

    spark.dataSource.register(IceliteDataSource)
    rename_column(tbl, "v", "val")
    append(_df(spark, 100, 150).withColumnRenamed("v", "val"), tbl)
    # batch data source
    got = spark.read.format("icelite").load(tbl)
    assert "val" in got.columns
    assert got.agg(F.round(F.sum("val"), 2)).collect()[0][0] == round(
        sum(float(i) for i in range(150)), 2)
    # stream: both the pre-rename and post-rename files flow mapped
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def _go():
        s = spark.readStream.format("icelite").load(tbl)
        return (s.writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 seconds").start())

    available_now_drain(_go, tbl)
    rows = spark.read.parquet(out)
    assert rows.count() == 150 and "val" in rows.columns
    assert rows.agg(F.round(F.sum("val"), 2)).collect()[0][0] == round(
        sum(float(i) for i in range(150)), 2)


def test_table_changes_across_rename(spark, tbl):
    from bigdata_event_stream_detection_spark.sources.icelite_changes import (
        table_changes,
    )

    rename_column(tbl, "v", "val")
    append(_df(spark, 100, 120).withColumnRenamed("v", "val"), tbl)
    ch = table_changes(spark, tbl)
    assert "val" in ch.columns
    assert ch.count() == 120
    assert ch.filter("_change_type = 'insert'").agg(
        F.round(F.sum("val"), 2)).collect()[0][0] == round(
        sum(float(i) for i in range(120)), 2)


def test_rename_partition_source(spark, tmp_path):
    """r5: renaming a partition-spec source column is metadata-only —
    the spec stamps the source's field id at create, and every
    consumer (write routing, pruning, merge prefilter) resolves it to
    the current declared name. Old files' partition tuples (stored
    under the spec FIELD name, which never changes) keep pruning
    exactly; post-rename appends route into the same layout."""
    from bigdata_event_stream_detection_spark.sources.icelite import (
        table_files,
        table_partition_spec,
    )

    t = str(tmp_path / "t")
    df = _df(spark)
    create_table(t, df.schema,
                 partition_spec=[("g", "identity"), ("k", "bucket", 4)])
    append(df, t)
    files_before = {e["path"] for e in table_files(t)}
    rename_column(t, "g", "grp")
    # metadata-only: no file rewritten
    assert {e["path"] for e in table_files(t)} == files_before
    # the spec surfaces the CURRENT name
    assert [f["source"] for f in table_partition_spec(t)] == ["grp", "k"]
    # pruning under the NEW predicate name is exact on OLD files
    pruned = table_files(t, where=[("grp", "=", 2)])
    assert 0 < len(pruned) < len(files_before)
    # post-rename appends route into the same partition layout
    df2 = (_df(spark, 100, 140).withColumnRenamed("g", "grp"))
    append(df2, t)
    got = read_table(spark, t).filter("grp = 2")
    want_n = 100 // 5 + sum(1 for i in range(100, 140) if i % 5 == 2)
    assert got.count() == want_n
    # prune again across the old/new file mix
    pruned2 = table_files(t, where=[("grp", "=", 2)])
    assert len(pruned2) > len(pruned)  # new files joined the bucket
    assert all(e["path"] in {x["path"] for x in table_files(t)}
               for e in pruned2)
    # a MOR merge keyed on the renamed BUCKET source still prefilters
    src = (spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("grp"),
        F.lit(7.5).alias("v")))
    merge_into(spark, t, src, key="k")
    assert read_table(spark, t).filter("k < 20 and v = 7.5").count() == 20
    # drop of a partition source remains blocked
    with pytest.raises(ValueError, match="partition-spec"):
        drop_column(t, "grp")
