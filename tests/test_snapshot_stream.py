"""SnapshotTable as a streaming source (Spark 4 Python streaming
DataSource): offsets are manifest versions, so a checkpointed query
consumes each commit's added rows exactly once and a restart resumes
from the committed version — the table-as-a-stream (CDC tail)
capability of Delta/Iceberg on plain parquet manifests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_to_lakehouse_spark.sources import snapshot_stream
from event_to_lakehouse_spark.storage.snapshots import SnapshotTable
from tests.conftest import drain


def _drain(spark, root: str, out: str, ckpt: str, **opts) -> None:
    reader = spark.readStream.format("snapshot_changes").option("path", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain(q)


def test_stream_consumes_each_commit_exactly_once(spark, tmp_dir):
    snapshot_stream.register(spark)
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(spark.range(10).withColumnRenamed("id", "v"))

    out, ckpt = f"{tmp_dir}/out", f"{tmp_dir}/ckpt"
    _drain(spark, f"{tmp_dir}/tbl", out, ckpt)
    assert spark.read.parquet(out).count() == 10

    # two more commits between triggers -> one delta batch, no re-reads
    t.append(spark.range(100, 105).withColumnRenamed("id", "v"))
    t.append(spark.range(200, 203).withColumnRenamed("id", "v"))
    _drain(spark, f"{tmp_dir}/tbl", out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 18
    assert got.agg(F.sum("v")).first()[0] == sum(range(10)) + sum(
        range(100, 105)
    ) + sum(range(200, 203))

    # idle trigger: no new commits, no new rows
    _drain(spark, f"{tmp_dir}/tbl", out, ckpt)
    assert spark.read.parquet(out).count() == 18


def test_stream_starting_version_skips_history(spark, tmp_dir):
    snapshot_stream.register(spark)
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(spark.range(10).withColumnRenamed("id", "v"))  # v1
    t.append(spark.range(50, 54).withColumnRenamed("id", "v"))  # v2

    out, ckpt = f"{tmp_dir}/out", f"{tmp_dir}/ckpt"
    _drain(spark, f"{tmp_dir}/tbl", out, ckpt, startingVersion="1")
    got = spark.read.parquet(out)
    assert got.count() == 4  # v2 only
    assert got.agg(F.min("v")).first()[0] == 50


def test_stream_version_column_records_commit_lineage(spark, tmp_dir):
    """withVersionColumn stamps each row with the snapshot that added
    it — the ordering/lineage metadata a downstream CDC merge needs."""
    snapshot_stream.register(spark)
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(spark.range(3).withColumnRenamed("id", "v"))  # v1
    t.append(spark.range(10, 12).withColumnRenamed("id", "v"))  # v2

    out, ckpt = f"{tmp_dir}/out", f"{tmp_dir}/ckpt"
    _drain(spark, f"{tmp_dir}/tbl", out, ckpt, withVersionColumn="true")
    got = spark.read.parquet(out)
    assert set(got.columns) == {"v", "_commit_version"}
    by_v = {
        r["_commit_version"]: r["n"]
        for r in got.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()
    }
    assert by_v == {1: 3, 2: 2}


def test_cdc_stream_drives_incremental_gold_merge(spark, tmp_dir):
    """End-to-end CDC: silver commits tail out through snapshot_changes
    into a foreachBatch that MERGEs per-user totals into a gold
    SnapshotTable keyed by batch token — restarts replay nothing, each
    silver commit lands in gold exactly once, and gold equals the
    batch aggregate of everything ingested."""
    snapshot_stream.register(spark)
    silver = SnapshotTable(spark, f"{tmp_dir}/silver")
    gold = SnapshotTable(spark, f"{tmp_dir}/gold", stats_col="user_id")

    def _drive(ckpt: str) -> None:
        def _merge(batch_df, batch_id):
            agg = (
                batch_df.groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("s"),
                )
                .withColumn("_v", F.lit(batch_id))
            )
            prev = None
            try:
                prev = gold.read()
            except FileNotFoundError:
                pass
            if prev is not None:
                merged = (
                    prev.unionByName(agg)
                    .groupBy("user_id")
                    .agg(
                        F.sum("n").alias("n"),
                        F.sum("s").alias("s"),
                        F.max("_v").alias("_v"),
                    )
                )
            else:
                merged = agg
            gold.overwrite(
                merged, batch_token=f"gold-{ckpt.split('/')[-1]}-{batch_id}"
            )

        q = (
            spark.readStream.format("snapshot_changes")
            .option("path", f"{tmp_dir}/silver")
            .load()
            .writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain(q)

    rows1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 2.0)], ["user_id", "value"]
    )
    silver.append(rows1)
    ckpt = f"{tmp_dir}/ckpt"
    _drive(ckpt)
    got = {r["user_id"]: (r["n"], r["s"]) for r in gold.read().collect()}
    assert got == {1: (2, 15.0), 2: (1, 2.0)}

    # second silver commit: only the delta reaches the merge
    silver.append(spark.createDataFrame([(1, 1.0), (3, 7.0)], ["user_id", "value"]))
    _drive(ckpt)
    got = {r["user_id"]: (r["n"], r["s"]) for r in gold.read().collect()}
    assert got == {1: (3, 16.0), 2: (1, 2.0), 3: (1, 7.0)}

    # idle restart: checkpoint says nothing new; gold untouched
    v_before = gold.snapshot().version
    _drive(ckpt)
    assert gold.snapshot().version == v_before


def test_stream_fails_on_rewrite_unless_opted_in(spark, tmp_dir):
    """A COW delete between triggers rewrites parent files; the stream
    must fail loudly by default (its added files re-emit survivors,
    not inserts) and emit them only under ignoreRewrites=true —
    mirroring SnapshotTable.changes()."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    snapshot_stream.register(spark)
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="v")
    t.append(spark.range(10).withColumnRenamed("id", "v"))

    out, ckpt = f"{tmp_dir}/out", f"{tmp_dir}/ckpt"
    _drain(spark, f"{tmp_dir}/tbl", out, ckpt)
    t.delete_where(F.col("v") >= 8)  # rewrite commit

    with pytest.raises(StreamingQueryException, match="rewrite commit"):
        _drain(spark, f"{tmp_dir}/tbl", out, ckpt)

    # opting in emits the rewrite's surviving rows (latest-wins consumer)
    out2, ckpt2 = f"{tmp_dir}/out2", f"{tmp_dir}/ckpt2"
    _drain(
        spark, f"{tmp_dir}/tbl", out2, ckpt2, ignoreRewrites="true"
    )
    assert spark.read.parquet(out2).count() == 10 + 8  # v1 + survivors
