"""Gold-layer tests: the marts over the silver assets contract.

The reference declares the gold layer (README.md:25) without code; the
semantics pinned here are this repo's: latest-wins current state per
asset_uid, posture rollup, per-source risk top-N, idempotent refresh.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from event_to_lakehouse_spark.pipeline.contracts import (
    FORTISIEM_MAPPING,
    RAPID7_MAPPING,
)
from event_to_lakehouse_spark.pipeline.gold import (
    asset_posture,
    current_assets,
    refresh_gold,
    riskiest_assets,
)
from event_to_lakehouse_spark.pipeline.normalize import (
    apply_mapping,
    read_bronze,
    silver_union,
    write_silver_batch,
)
from tests.conftest import drain
from tests.test_pipeline_golden import FORTI_SCHEMA, RAPID7_SCHEMA


def _silver(spark, rapid7_bronze, forti_bronze):
    r7 = apply_mapping(read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA), RAPID7_MAPPING)
    fs = apply_mapping(read_bronze(spark, forti_bronze, FORTI_SCHEMA), FORTISIEM_MAPPING)
    return silver_union(r7, fs)


def test_current_assets_latest_wins(spark, rapid7_bronze, forti_bronze):
    silver = _silver(spark, rapid7_bronze, forti_bronze)
    # Re-ingest one asset with a newer ingest_ts and a changed name:
    # the duplicate must collapse to the newer row.
    dup = (
        silver.limit(1)
        .withColumn("ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("asset_name", F.lit("RENAMED"))
    )
    cur = current_assets(silver.unionByName(dup))
    assert cur.count() == silver.count()
    renamed_uid = dup.select("asset_uid").first()[0]
    assert (
        cur.filter(F.col("asset_uid") == renamed_uid).select("asset_name").first()[0]
        == "RENAMED"
    )


def test_asset_posture_rollup(spark, rapid7_bronze, forti_bronze):
    cur = current_assets(_silver(spark, rapid7_bronze, forti_bronze))
    posture = asset_posture(cur).collect()
    by_src = {}
    for r in posture:
        by_src[r["source_system"]] = by_src.get(r["source_system"], 0) + r["asset_count"]
    assert by_src["rapid7"] == 2
    assert by_src["fortisiem"] == 2
    # fortisiem rows carry no risk_score in the fixtures → NULL avg
    forti_rows = [r for r in posture if r["source_system"] == "fortisiem"]
    assert all(r["avg_risk_score"] is None for r in forti_rows)
    # vuln sums are coalesced, never NULL
    assert all(r["vuln_total"] is not None for r in posture)


def test_riskiest_assets_ranked_per_source(spark, rapid7_bronze, forti_bronze):
    cur = current_assets(_silver(spark, rapid7_bronze, forti_bronze))
    top = riskiest_assets(cur, top_n=1)
    rows = {r["source_system"]: r for r in top.collect()}
    assert set(rows) == {"rapid7", "fortisiem"}
    assert all(r["risk_rank"] == 1 for r in rows.values())
    # rapid7's rank-1 is the fixture asset with the higher risk score
    r7_max = cur.filter(F.col("source_system") == "rapid7").agg(
        F.max("risk_score")
    ).first()[0]
    assert rows["rapid7"]["risk_score"] == r7_max


def test_refresh_gold_idempotent(spark, rapid7_bronze, forti_bronze, tmp_dir):
    silver_path = f"{tmp_dir}/silver"
    write_silver_batch(_silver(spark, rapid7_bronze, forti_bronze), silver_path)
    gold_root = f"{tmp_dir}/gold"
    first = refresh_gold(spark, silver_path, gold_root)
    assert set(first) == {"current_assets", "asset_posture", "riskiest_assets"}
    counts1 = {n: spark.read.parquet(p).count() for n, p in first.items()}
    # a second refresh overwrites in place — same marts, same counts
    second = refresh_gold(spark, silver_path, gold_root)
    counts2 = {n: spark.read.parquet(p).count() for n, p in second.items()}
    assert counts1 == counts2
    assert counts1["current_assets"] == 4


def test_streaming_gold_refresh(spark, rapid7_bronze, forti_bronze, tmp_dir):
    """New silver files trigger a full mart rebuild; marts appear with
    the same contents refresh_gold produces in batch."""
    from event_to_lakehouse_spark.pipeline.gold import start_gold_refresh_stream

    silver_path = f"{tmp_dir}/silver"
    write_silver_batch(_silver(spark, rapid7_bronze, forti_bronze), silver_path)
    gold_root = f"{tmp_dir}/gold_stream"
    q = start_gold_refresh_stream(
        spark, silver_path, gold_root, checkpoint=f"{tmp_dir}/gold_ckpt"
    )
    drain(q)
    cur = spark.read.parquet(f"{gold_root}/current_assets")
    posture = spark.read.parquet(f"{gold_root}/asset_posture")
    assert cur.count() > 0
    assert posture.count() > 0
    # latest-wins invariant holds through the streaming path too
    assert cur.select("asset_uid").distinct().count() == cur.count()


def test_quarantine_sink(spark, rapid7_bronze, tmp_dir):
    """split_corrupt + write_quarantine: the corrupt row the reference
    silently drops is preserved with its raw payload for replay."""
    from event_to_lakehouse_spark.pipeline.normalize import (
        read_bronze,
        split_corrupt,
        write_quarantine,
    )
    from tests.test_pipeline_golden import RAPID7_SCHEMA

    bronze = read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA)
    clean, corrupt = split_corrupt(bronze)
    assert clean.count() == 2 and corrupt.count() == 1
    qpath = f"{tmp_dir}/quarantine"
    write_quarantine(corrupt, qpath, source_system="rapid7")
    back = spark.read.parquet(qpath)
    assert back.count() == 1
    row = back.first()
    assert row.source_system == "rapid7"
    assert row.raw_payload and row.quarantined_ts is not None


def test_refresh_publish_is_atomic_repoint(spark, rapid7_bronze, forti_bronze, tmp_dir):
    """The published mart path is a symlink swapped atomically: after a
    second refresh the path still resolves (no missing-directory
    window). Retention is DEFERRED — the just-unpublished version
    survives one refresh cycle (a reader that resolved the symlink just
    before the swap can finish its scan), and is swept on the refresh
    after that."""
    import os
    from pathlib import Path

    silver_path = f"{tmp_dir}/silver"
    write_silver_batch(_silver(spark, rapid7_bronze, forti_bronze), silver_path)
    gold_root = f"{tmp_dir}/gold_sym"
    first = refresh_gold(spark, silver_path, gold_root)
    p = Path(first["current_assets"])
    assert p.is_symlink()
    target1 = os.readlink(p)
    refresh_gold(spark, silver_path, gold_root)
    target2 = os.readlink(p)
    assert target1 != target2  # repointed to a fresh versioned dir
    # grace window: previous version still readable right after the swap
    assert (Path(gold_root) / target1).exists()
    refresh_gold(spark, silver_path, gold_root)
    target3 = os.readlink(p)
    # now unreferenced since before the last refresh → swept
    assert not (Path(gold_root) / target1).exists()
    assert (Path(gold_root) / target2).exists()  # previous kept
    assert (Path(gold_root) / target3).exists()
    assert spark.read.parquet(str(p)).count() == 4  # reads resolve fine


def test_incremental_gold_matches_full_rebuild(
    spark, rapid7_bronze, forti_bronze, tmp_dir
):
    """refresh_current_assets_incremental folds only silver's appended
    delta into the mart, yet after every refresh the mart equals a
    full current_assets() rebuild — and watermark tokens make replays
    no-ops and survive the rewrite-fallback path."""
    from event_to_lakehouse_spark.pipeline.gold import (
        refresh_current_assets_incremental,
    )
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    silver = _silver(spark, rapid7_bronze, forti_bronze).cache()
    st = SnapshotTable(spark, f"{tmp_dir}/silver_snap")
    gt = SnapshotTable(spark, f"{tmp_dir}/gold_mart", stats_col="asset_uid")

    def assert_mart_matches():
        expected = current_assets(st.read())
        got = gt.read().select(*expected.columns)
        assert got.exceptAll(expected).count() == 0
        assert expected.exceptAll(got).count() == 0

    # refresh 1: first silver commit → mart bootstraps
    st.append(silver)
    s1 = refresh_current_assets_incremental(st, gt)
    assert_mart_matches()

    # refresh 2: append a re-ingest of one asset with a NEWER ingest_ts
    # — the incremental merge must overturn the mart's old row
    dup = (
        silver.limit(1)
        .withColumn("ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("asset_name", F.lit("RENAMED-INC"))
    )
    st.append(dup)
    s2 = refresh_current_assets_incremental(st, gt)
    assert s2.version > s1.version
    assert_mart_matches()
    uid = dup.select("asset_uid").first()[0]
    assert (
        gt.read().filter(F.col("asset_uid") == uid).select("asset_name").first()[0]
        == "RENAMED-INC"
    )

    # replay / no-new-data: refresh is a no-op (same mart version)
    assert refresh_current_assets_incremental(st, gt).version == s2.version

    # a COW rewrite in silver (delete one asset) → incremental scan
    # can't express it → fallback full rebuild, still exact
    st.delete_where(F.col("asset_uid") == uid)
    refresh_current_assets_incremental(st, gt)
    assert_mart_matches()
    assert gt.read().filter(F.col("asset_uid") == uid).count() == 0


# --- incremental SCD2 -------------------------------------------------------


def _scd2_batches(spark, n=3):
    from event_to_lakehouse_spark.tables import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001")["events"].select(
        F.col("user_id").alias("asset_uid"),
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
    )
    # time-ordered split: equal-ts rows can never straddle a boundary
    cuts = ev.approxQuantile("event_id", [i / n for i in range(1, n)], 0)
    bounds = (
        ev.select(F.expr(
            "percentile(cast(unix_micros(ts) as double), array("
            + ",".join(str(i / n) for i in range(1, n))
            + "))"
        ).alias("p")).first()["p"]
    )
    batches = []
    lo = None
    for hi in list(bounds) + [None]:
        cond = F.lit(True)
        us = F.unix_micros(F.col("ts")).cast("double")
        if lo is not None:
            cond = cond & (us >= lo)
        if hi is not None:
            cond = cond & (us < hi)
        batches.append(ev.filter(cond))
        lo = hi
    return ev, batches


def test_scd2_incremental_equals_full_recompute(spark, tmp_dir):
    from event_to_lakehouse_spark.pipeline.gold import (
        gold_scd2_history,
        scd2_apply_batch,
    )
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    ev, batches = _scd2_batches(spark, n=3)
    table = SnapshotTable(spark, f"{tmp_dir}/scd2", stats_col="hist_key")
    for i, b in enumerate(batches):
        res = scd2_apply_batch(table, b, batch_token=f"b{i}")
        assert res["n_late_dropped"] == 0

    cols = ["asset_uid", "state", "valid_from", "valid_to", "is_current", "version"]
    got = table.read().select(*cols).toPandas()
    want = gold_scd2_history(spark, "/root/testdata/sf0.001").select(*cols).toPandas()
    got = got.sort_values(["asset_uid", "version"]).reset_index(drop=True)
    want = want.sort_values(["asset_uid", "version"]).reset_index(drop=True)
    assert got.equals(want), "incremental SCD2 != full recompute"


def test_scd2_incremental_replay_and_late(spark, tmp_dir):
    from event_to_lakehouse_spark.pipeline.gold import scd2_apply_batch
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    ev, batches = _scd2_batches(spark, n=2)
    table = SnapshotTable(spark, f"{tmp_dir}/scd2", stats_col="hist_key")
    scd2_apply_batch(table, batches[0], batch_token="b0")
    v1 = table.snapshot().version
    # replaying the same token is a no-op
    scd2_apply_batch(table, batches[0], batch_token="b0")
    assert table.snapshot().version == v1
    before = table.read().count()
    # a batch entirely older than the open versions: all rows late-drop
    res = scd2_apply_batch(table, batches[0], batch_token="late0")
    # every non-first-arrival event of batch 0 is late; first-arrival
    # duplicates collapse against the identical seed state, so nothing
    # changes
    assert res["n_late_dropped"] > 0
    assert table.read().count() == before


def test_scd2_point_lookup_prunes_files(spark, tmp_dir):
    """The maintained SCD2 dimension supports file-pruned point
    lookups: with a bloom filter on asset_uid, fetching one key's
    version chain reads a subset of the table's files (the
    join_point_in_time_scd2 docstring's production claim)."""
    import datetime as dt

    from pyspark.sql import types as T

    from event_to_lakehouse_spark.pipeline.gold import scd2_apply_batch
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("asset_uid", T.LongType()),
            T.StructField("state", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    table = SnapshotTable(
        spark, f"{tmp_dir}/scd2", stats_col="hist_key", bloom_col="asset_uid"
    )
    eid = 0
    # three batches over key ranges disjoint even under hist_key's
    # LEXICAL ordering (same digit count), so the COW merge's stats
    # pruning leaves earlier files untouched and the table keeps one
    # file per batch, each with its own bloom filter
    for b, uids in enumerate([range(100, 140), range(200, 240), range(300, 340)]):
        rows = []
        for u in uids:
            rows.append((u, "new", dt.datetime(2024, 1, 1 + b), eid))
            eid += 1
        scd2_apply_batch(table, spark.createDataFrame(rows, schema), f"b{b}")

    snap = table.snapshot()
    assert len(snap.files) >= 3
    hit = table.read_point(205)
    assert [r.asset_uid for r in hit.collect()] == [205]
    assert len(hit.inputFiles()) < len(snap.files)
