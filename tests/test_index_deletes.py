"""Delete/tombstone propagation through the durable-index family
(VERDICT r11 #1): every index consumes forget requests — and the
InvertedIndex consumes ``apply_changes`` CDC feeds — such that serving
AFTER a delete equals recompute over the surviving docs. Closes the
gap between the r11-certified CDC feed and the indexes that ignored
it: a forget request no longer leaves ghost postings / fingerprints /
band rows / PQ codes that keep matching."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_to_lakehouse_spark.storage.snapshots import SnapshotTable
from event_to_lakehouse_spark.tables import load_tables

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_tables(spark, SF)["documents"]


def _ids(spark, ids, col="doc_id"):
    return spark.createDataFrame([(int(i),) for i in ids], f"{col} long")


# -- the storage primitive ---------------------------------------------------


def test_delete_keys_non_unique_copy_on_write(spark, tmp_dir):
    """delete_keys removes ALL rows of each deleted key (the non-unique
    layout apply_changes cannot express), prunes untouched files via
    manifest stats, keeps time travel, and replays as a no-op under
    batch_token."""
    t = SnapshotTable(spark, f"{tmp_dir}/tbl", stats_col="doc_id")
    rows = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    )
    t.append(rows.filter("doc_id < 50").coalesce(1))
    t.append(rows.filter("doc_id >= 50").coalesce(1))
    before = {f["path"] for f in t.snapshot().files}

    t.delete_keys(_ids(spark, [3, 7, 11]), "doc_id", batch_token="d1")
    after = {f["path"] for f in t.snapshot().files}
    # the doc_id >= 50 file is out of the deleted-key range: untouched
    assert any(p in after for p in before)
    assert t.read().count() == 97 * 3
    assert t.read().filter("doc_id IN (3, 7, 11)").count() == 0
    assert t.read(version=2).count() == 300  # time travel intact

    v = t.snapshot().version
    t.delete_keys(_ids(spark, [3, 7, 11]), "doc_id", batch_token="d1")
    assert t.snapshot().version == v  # replay: storage no-op

    # empty delete batch: files unchanged, token still recorded
    t.delete_keys(_ids(spark, []), "doc_id", batch_token="d2")
    assert "d2" in t.snapshot().batch_tokens
    assert t.read().count() == 97 * 3


# -- inverted index ----------------------------------------------------------


def _bm25_rows(idx_df):
    return [tuple(r) for r in idx_df.collect()]


def test_inverted_index_forget_equals_recompute(spark, tmp_dir):
    """Served BM25 after delete_docs == a fresh index over the
    surviving docs, row-for-row: df, n_docs, avgdl all shed the
    forgotten docs — no ghost postings, no idf skew."""
    from event_to_lakehouse_spark.textindex import InvertedIndex
    from event_to_lakehouse_spark.textops import BM25_QUERY

    docs = _docs(spark).select("doc_id", "text")
    idx = InvertedIndex(spark, f"{tmp_dir}/inv")
    idx.add_batch(docs, batch_token="all")

    gone = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    idx.delete_docs(gone, batch_token="forget")

    fresh = InvertedIndex(spark, f"{tmp_dir}/fresh")
    fresh.add_batch(docs.filter(F.col("doc_id") % 7 != 0), batch_token="s")

    assert _bm25_rows(idx.topk(BM25_QUERY)) == _bm25_rows(
        fresh.topk(BM25_QUERY)
    )
    assert idx.doc_count() == fresh.doc_count()
    # forgotten docs can never be served again
    served = {r.doc_id for r in idx.topk(BM25_QUERY, k=10**6).collect()}
    assert not any(d % 7 == 0 for d in served)

    # replayed forget: storage no-op on both tables
    pv = idx.postings_table.snapshot().version
    idx.delete_docs(gone, batch_token="forget")
    assert idx.postings_table.snapshot().version == pv


def test_inverted_index_cdc_sync(spark, tmp_dir):
    """sync_from_changelog folds an apply_changes feed — upserts
    re-index the NEW text, deletes forget — so the index equals a fresh
    build over the table's final state."""
    from event_to_lakehouse_spark.textindex import InvertedIndex
    from event_to_lakehouse_spark.textops import BM25_QUERY

    docs = _docs(spark).select(
        "doc_id", "text", F.lit(1).alias("ver")
    ).localCheckpoint()
    t = SnapshotTable(spark, f"{tmp_dir}/docs", stats_col="doc_id")
    t.append(docs)
    idx = InvertedIndex(spark, f"{tmp_dir}/inv")
    idx.add_batch(docs, batch_token="v1")
    v0 = t.snapshot().version

    changes = docs.filter(F.col("doc_id") % 10 == 1).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" fresh appended tokens")).alias("text"),
        F.lit(2).alias("ver"),
        F.lit("U").alias("_op"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 10 == 2).select(
            "doc_id", "text", F.lit(2).alias("ver"), F.lit("D").alias("_op")
        )
    )
    t.apply_changes(changes, key="doc_id", order_col="ver", changelog=True)

    idx.sync_from_changelog(
        t.change_feed(from_version=v0), batch_token="v2", order_col="ver"
    )

    fresh = InvertedIndex(spark, f"{tmp_dir}/fresh")
    fresh.add_batch(t.read().select("doc_id", "text"), batch_token="s")
    assert _bm25_rows(idx.topk(BM25_QUERY)) == _bm25_rows(
        fresh.topk(BM25_QUERY)
    )
    assert idx.doc_count() == t.read().count()


def test_inverted_index_cdc_multi_commit_window(spark, tmp_dir):
    """A feed window spanning several commits nets per-doc: upserted-
    then-deleted docs end forgotten (the '-'-beats-'+' tie rule), and
    twice-upserted docs index only the newest text."""
    from event_to_lakehouse_spark.textindex import InvertedIndex
    from event_to_lakehouse_spark.textops import BM25_QUERY

    docs = _docs(spark).select(
        "doc_id", "text", F.lit(1).alias("ver")
    ).filter("doc_id < 60").localCheckpoint()
    t = SnapshotTable(spark, f"{tmp_dir}/docs", stats_col="doc_id")
    t.append(docs)
    idx = InvertedIndex(spark, f"{tmp_dir}/inv")
    idx.add_batch(docs, batch_token="v1")
    v0 = t.snapshot().version

    up = lambda cond, ver, suffix: docs.filter(cond).select(  # noqa: E731
        "doc_id",
        F.concat(F.col("text"), F.lit(suffix)).alias("text"),
        F.lit(ver).alias("ver"),
        F.lit("U").alias("_op"),
    )
    # commit 1: docs %10==3 upserted (v2); commit 2: half of those
    # deleted, the others upserted AGAIN (v3)
    t.apply_changes(
        up(F.col("doc_id") % 10 == 3, 2, " gen two"),
        key="doc_id", order_col="ver", changelog=True,
    )
    second = docs.filter(F.col("doc_id") % 20 == 3).select(
        "doc_id", "text", F.lit(3).alias("ver"), F.lit("D").alias("_op")
    ).unionByName(up(F.col("doc_id") % 20 == 13, 3, " gen three"))
    t.apply_changes(second, key="doc_id", order_col="ver", changelog=True)

    idx.sync_from_changelog(
        t.change_feed(from_version=v0), batch_token="win", order_col="ver"
    )
    fresh = InvertedIndex(spark, f"{tmp_dir}/fresh")
    fresh.add_batch(t.read().select("doc_id", "text"), batch_token="s")
    assert _bm25_rows(idx.topk(BM25_QUERY)) == _bm25_rows(
        fresh.topk(BM25_QUERY)
    )
    assert idx.doc_count() == t.read().count()


def test_inverted_index_sync_same_version_rewrite(spark, tmp_dir):
    """r15 regression pin (found composing the CDC property suite with
    the index sync): a multi-commit feed window carrying a
    same-order_col payload REWRITE — '-'(v, seq0, old) / '+'(v, seq1,
    new), the reused-identity upsert the r13 fingerprint work makes
    truthful — must keep the doc indexed with the NEW text. Before the
    tiebreak_col fix, the fold ranked the '-' above both '+' rows and
    the index forgot a doc the table still holds (a serving false
    negative). A genuine delete in the same window — whose '-' carries
    the SAME (v, seq) as the row it retracts — still nets to
    forgotten."""
    from event_to_lakehouse_spark.textindex import InvertedIndex

    t = SnapshotTable(spark, f"{tmp_dir}/src")

    def ch(rows):
        return spark.createDataFrame(
            rows, "doc_id long, v int, seq int, _op string, text string"
        )

    t.apply_changes(
        ch([(7, 1, 0, "I", "old words here"), (8, 1, 0, "I", "stable doc")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="c1", changelog=True,
    )
    t.apply_changes(  # same-version payload rewrite of doc 7
        ch([(7, 1, 1, "U", "new words there")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="c2", changelog=True,
    )
    t.apply_changes(  # genuine delete of doc 8
        ch([(8, 2, 0, "D", "x")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="c3", changelog=True,
    )

    idx = InvertedIndex(spark, f"{tmp_dir}/idx")
    idx.sync_from_changelog(
        t.change_feed(0), batch_token="w1", order_col="v", tiebreak_col="seq"
    )
    assert sorted(
        r.doc_id for r in idx.doclens_table.read().collect()
    ) == [7]
    # and the indexed text is the REWRITTEN one
    terms = {
        r.term for r in idx.postings_table.read().collect() if r.doc_id == 7
    }
    assert "new" in terms and "old" not in terms
    # synced == fresh over the table (the lock-step contract)
    fresh = InvertedIndex(spark, f"{tmp_dir}/fresh")
    fresh.add_batch(t.read().select("doc_id", "text"), batch_token="s")
    assert idx.doc_count() == fresh.doc_count() == 1


def test_inverted_index_sync_delete_then_reinsert_lower_version(spark, tmp_dir):
    """r15 regression pin (hypothesis, one round after the rewrite
    case): commit A deletes doc 1 (its '-' pre-image carries the OLD
    row's version v=2), commit B re-inserts doc 1 at a LOWER version
    (v=0 — legal: deletes are unconditional, so the base has no row to
    out-rank it). A multi-commit window folded by row identity ranks
    the '-'(v=2) above the '+'(v=0) and forgets a doc the table holds.
    The commit-ordered fold (change_feed's _commit_version) keeps it:
    the re-insert's COMMIT is later."""
    from event_to_lakehouse_spark.textindex import InvertedIndex

    t = SnapshotTable(spark, f"{tmp_dir}/src")

    def ch(rows):
        return spark.createDataFrame(
            rows, "doc_id long, v int, seq int, _op string, text string"
        )

    t.apply_changes(
        ch([(1, 2, 0, "I", "original words")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="c1", changelog=True,
    )
    v0 = t.snapshot().version
    t.apply_changes(  # delete: '-' carries (v=2, seq=0)
        ch([(1, 2, 0, "D", "x")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="c2", changelog=True,
    )
    t.apply_changes(  # re-insert at LOWER version
        ch([(1, 0, 0, "I", "reborn words")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="c3", changelog=True,
    )
    assert t.read().count() == 1  # the table holds the reborn doc

    idx = InvertedIndex(spark, f"{tmp_dir}/idx")
    idx.add_batch(
        spark.createDataFrame([(1, "original words")], "doc_id long, text string"),
        batch_token="boot",
    )
    idx.sync_from_changelog(
        t.change_feed(v0), batch_token="w", order_col="v", tiebreak_col="seq"
    )
    assert idx.doc_count() == 1
    terms = {r.term for r in idx.postings_table.read().collect()}
    assert "reborn" in terms and "original" not in terms
    # and the reverse history still forgets: insert then delete
    t2 = SnapshotTable(spark, f"{tmp_dir}/src2")
    t2.apply_changes(
        ch([(5, 0, 0, "I", "fleeting words")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="d1", changelog=True,
    )
    t2.apply_changes(
        ch([(5, 9, 0, "D", "x")]),
        key="doc_id", order_col="v", tiebreak="seq",
        batch_token="d2", changelog=True,
    )
    idx2 = InvertedIndex(spark, f"{tmp_dir}/idx2")
    idx2.sync_from_changelog(
        t2.change_feed(0), batch_token="w", order_col="v", tiebreak_col="seq"
    )
    assert idx2.doc_count() == 0


# -- near-dup index ----------------------------------------------------------


def test_neardup_index_forget_equals_recompute(spark, tmp_dir):
    """Probing after delete_docs == probing a fresh index built over
    the surviving docs: forgotten docs never pair again, surviving
    pairs are all still found."""
    from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

    docs = _docs(spark)
    held = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    idx = NearDupIndex(spark, f"{tmp_dir}/nd")
    idx.index_batch(held, batch_token="held")
    gone = held.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    idx.delete_docs(gone, batch_token="forget")
    got = idx.index_batch(batch, batch_token="new")

    fresh = NearDupIndex(spark, f"{tmp_dir}/fresh")
    fresh.index_batch(
        held.join(gone, "doc_id", "left_anti"), batch_token="held"
    )
    want = fresh.index_batch(batch, batch_token="new")

    key = lambda df: {  # noqa: E731
        (r.doc_id_a, r.doc_id_b, r.jaccard_est) for r in df.collect()
    }
    assert key(got) == key(want)
    assert idx.doc_count() == fresh.doc_count()


def test_neardup_replay_returns_same_pairs(spark, tmp_dir):
    """r15 regression pin (found by the hypothesis add/forget property
    suite): a REPLAYED batch_token must return exactly the rows a
    fresh probe of the batch against (stored \\ batch) returns —
    duplicate-free. Before the self-exclusion fix in
    ``NearDupIndex.index_batch``, the replayed batch paired against
    its own committed band/sig copies: each in-batch pair row came
    back 4x (duplicated signature rows on both join sides) and each
    cross pair 2x, and doubled bucket counts could push hot buckets
    over ``max_bucket``."""
    from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

    t = "the quick brown fox jumps over the lazy dog tonight"
    u = "the quick brown fox jumps over the lazy dog today"
    v = "pack my box with five dozen liquor jugs right now"

    def df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b0, b1 = [(1, t), (2, t), (3, v)], [(10, u), (11, t)]
    idx = NearDupIndex(spark, f"{tmp_dir}/nd")
    first = sorted(map(tuple, idx.index_batch(df(b0), batch_token="a0").collect()))
    idx.index_batch(df(b1), batch_token="a1")
    replay = sorted(map(tuple, idx.index_batch(df(b0), batch_token="a0").collect()))

    assert len(replay) == len(set(replay))  # duplicate-free
    assert set(first) <= set(replay)  # original pairs still reported
    # replay == fresh probe of b0 against the index WITHOUT b0
    fresh = NearDupIndex(spark, f"{tmp_dir}/fresh")
    fresh.index_batch(df(b1), batch_token="m")
    want = sorted(map(tuple, fresh.index_batch(df(b0), batch_token="n").collect()))
    assert replay == want
    # storage stayed exactly-once through the replay
    assert idx.doc_count() == 5


# -- exact dedup index -------------------------------------------------------


def test_exact_index_forget_and_content_forget(spark, tmp_dir):
    """delete_docs forgets canonical content (a re-arrival is new
    unique again — no ghost fingerprint); delete_fps forgets by
    content. Convergence-by-replay: re-ingesting a surviving copy
    re-registers it as canonical."""
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex
    from event_to_lakehouse_spark.functions.text import fingerprint

    docs = _docs(spark).select("doc_id", "text")
    held = docs.filter("doc_id < 400")
    idx = ExactDedupIndex(spark, f"{tmp_dir}/exact")
    idx.index_batch(held, batch_token="held")

    gone = held.filter(F.col("doc_id") % 9 == 0).select("doc_id")
    idx.delete_docs(gone, batch_token="forget")
    assert idx.table.read().join(gone, "doc_id", "semi").count() == 0

    # a deleted doc's content re-arrives: is_new_unique again
    reprobe = held.filter(F.col("doc_id") % 9 == 0)
    out = idx.index_batch(reprobe, batch_token="rearrival")
    per_doc = {r.doc_id: r for r in out.collect()}
    # each distinct content's min-id holder is new-unique; none dup a ghost
    survivors = {r.doc_id for r in idx.table.read().collect()}
    for r in per_doc.values():
        if r.dup_of is not None:
            assert r.dup_of in survivors or r.dup_of in per_doc

    # content-level forget
    fps = held.filter("doc_id < 5").select(fingerprint("text").alias("fp"))
    before = idx.doc_count()
    idx.delete_fps(fps, batch_token="content-forget")
    assert idx.doc_count() < before


def test_exact_index_bloom_crash_retry_no_false_negative(spark, tmp_dir):
    """r15 pin for the admission pairing's crash window: a writer
    killed at the bloom merge, then retried with the same token, must
    leave filter and index in lock-step — no permanent bloom false
    negative.

    The design self-heals through the admission gate itself: on retry
    the bloom (still missing the batch) reports bloom_maybe=False, so
    the held-index join is skipped, new_uniques recomputes to the SAME
    key set, and both commits land with the right keys (had the
    fingerprint append landed first, it would no-op on its token). A
    full replay (both committed) then no-ops everywhere with the
    bitmap intact. Probed here because the recompute-under-retry is
    subtle enough that a refactor could silently break it."""
    from unittest import mock

    from event_to_lakehouse_spark.dedup.bloom import BloomIndex
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex

    idx = ExactDedupIndex(spark, f"{tmp_dir}/exact")
    bloom = BloomIndex(spark, f"{tmp_dir}/bloom", m_bits=4096, k=4)

    def df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    class Killed(BaseException):
        pass

    b0 = [(1, "alpha beta gamma"), (2, "delta epsilon zeta")]
    with mock.patch.object(BloomIndex, "add_batch", side_effect=Killed()):
        try:
            idx.index_batch(df(b0), batch_token="t0", bloom=bloom)
        except Killed:
            pass
    # retry: same token — resolution columns reproduce the first run
    out = {
        r.doc_id: (r.is_new_unique, r.dup_of)
        for r in idx.index_batch(df(b0), batch_token="t0", bloom=bloom).collect()
    }
    assert out == {1: (True, None), 2: (True, None)}
    assert idx.doc_count() == 2  # exactly-once through the crash

    # full replay: both committed — storage no-ops, same verdicts
    again = {
        r.doc_id: (r.is_new_unique, r.dup_of)
        for r in idx.index_batch(df(b0), batch_token="t0", bloom=bloom).collect()
    }
    assert again == out
    assert idx.doc_count() == 2

    # the healed bloom must not miss: a future duplicate is flagged
    fut = {
        r.doc_id: (r.is_new_unique, r.dup_of, r.bloom_maybe)
        for r in idx.index_batch(
            df([(9, "alpha beta gamma")]), batch_token="t1", bloom=bloom
        ).collect()
    }
    assert fut == {9: (False, 1, True)}


def test_exact_index_bitmap_first_crash_retry(spark, tmp_dir):
    """The other crash window of the admission pairing: the bitmap
    commits first, so a writer killed after it and before the
    fingerprint append leaves the bitmap AHEAD of the index — Bloom
    false positives only. The retry sees bloom_maybe=True for the
    batch, finds no held row (the append never landed), reproduces the
    first run's verdicts, skips the landed bitmap commit on its token
    and lands the append."""
    from unittest import mock

    from event_to_lakehouse_spark.dedup.bloom import BloomIndex
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex

    idx = ExactDedupIndex(spark, f"{tmp_dir}/exact")
    bloom = BloomIndex(spark, f"{tmp_dir}/bloom", m_bits=4096, k=4)

    def df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    class Killed(BaseException):
        pass

    b0 = [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "alpha beta gamma")]
    with mock.patch.object(idx.table, "append", side_effect=Killed()):
        try:
            idx.index_batch(df(b0), batch_token="t0", bloom=bloom)
        except Killed:
            pass
    assert "t0" in bloom.table.snapshot().batch_tokens
    assert idx.table.snapshot() is None
    v = bloom.table.snapshot().version

    out = {
        r.doc_id: (r.is_new_unique, r.dup_of, r.bloom_maybe)
        for r in idx.index_batch(df(b0), batch_token="t0", bloom=bloom).collect()
    }
    assert out == {1: (True, None, True), 2: (True, None, True), 3: (False, 1, True)}
    assert bloom.table.snapshot().version == v  # bitmap commit not repeated
    assert idx.doc_count() == 2

    fut = {
        r.doc_id: (r.is_new_unique, r.dup_of)
        for r in idx.index_batch(
            df([(9, "delta epsilon zeta")]), batch_token="t1", bloom=bloom
        ).collect()
    }
    assert fut == {9: (False, 2)}


# -- crash between two manifests ----------------------------------------------
#
# Each multi-table write commits its tables one after another in the
# order its class declares (storage.index_core). A writer killed after
# the first commit leaves that table ahead; the replay with the same
# token must skip it, land the rest, and leave every table — and so
# every later answer — equal to an index that never crashed: nothing
# the uncrashed index holds is missing.


class _Killed(BaseException):
    pass


def _neardup_index(spark, root, first):
    from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

    docs = _docs(spark).select("doc_id", "text")
    idx = NearDupIndex(spark, root, hash_flavor="portable")
    idx.index_batch(docs.filter("doc_id < 300"), batch_token="held")
    batch = docs.filter("doc_id >= 300")
    first(lambda: idx.index_batch(batch, batch_token="b1"))
    pairs = idx.index_batch(batch, batch_token="b1").collect()
    return idx.tables, sorted(map(tuple, pairs))


def _neardup_forget(spark, root, first):
    from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

    docs = _docs(spark).select("doc_id", "text")
    idx = NearDupIndex(spark, root, hash_flavor="portable")
    idx.index_batch(docs, batch_token="held")
    gone = docs.filter("doc_id % 3 = 0").select("doc_id")
    first(lambda: idx.delete_docs(gone, batch_token="forget"))
    idx.delete_docs(gone, batch_token="forget")
    return idx.tables, idx.doc_count()


def _inverted(spark, root, first, forget):
    from event_to_lakehouse_spark.textindex import InvertedIndex
    from event_to_lakehouse_spark.textops import BM25_QUERY

    docs = _docs(spark).select("doc_id", "text")
    idx = InvertedIndex(spark, root)
    idx.add_batch(docs.filter("doc_id < 300"), batch_token="b0")
    if forget:
        gone = docs.filter("doc_id % 4 = 0").select("doc_id")
        op = lambda: idx.delete_docs(gone, batch_token="forget")  # noqa: E731
    else:
        batch = docs.filter("doc_id >= 300")
        op = lambda: idx.add_batch(batch, batch_token="b1")  # noqa: E731
    first(op)
    op()
    return idx.tables, [tuple(r) for r in idx.topk(BM25_QUERY).collect()]


def _inverted_add(spark, root, first):
    return _inverted(spark, root, first, forget=False)


def _inverted_forget(spark, root, first):
    return _inverted(spark, root, first, forget=True)


def _stats_analyze(spark, root, first):
    from event_to_lakehouse_spark.storage.stats_catalog import StatsCatalog

    t = load_tables(spark, SF)
    cat = StatsCatalog(spark, root)
    cat.analyze("customer", t["customer"], ["c_custkey"], batch_token="c")
    op = lambda: cat.analyze(  # noqa: E731
        "orders", t["orders"], ["o_custkey"], batch_token="o"
    )
    first(op)
    op()
    advice = cat.advise_join("customer", "c_custkey", "orders", "o_custkey")
    return cat.tables, advice.collect()


def _ivfpq_build(spark, root, first):
    from event_to_lakehouse_spark.similarity.ivfpq import IVFPQIndex

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    op = lambda: IVFPQIndex.build(spark, root, train=emb)  # noqa: E731
    first(op)
    idx = op()
    idx.add_batch(emb, batch_token="all")
    top = idx.topk(emb, emb.filter("vec_id < 5"), k=5).collect()
    return idx.tables, (idx.n_centroids, sorted(map(tuple, top)))


@pytest.mark.parametrize(
    "scenario, table, method",
    [
        (_neardup_index, "sigs", "append"),
        (_neardup_forget, "sigs", "delete_keys"),
        (_inverted_add, "doclens", "append"),
        (_inverted_forget, "doclens", "delete_keys"),
        (_stats_analyze, "counts", "append"),
        (_ivfpq_build, "codebook", "append"),
    ],
    ids=[
        "neardup_index",
        "neardup_forget",
        "inverted_add",
        "inverted_forget",
        "stats_analyze",
        "ivfpq_build",
    ],
)
def test_multi_table_write_crash_replay_converges(
    spark, tmp_dir, scenario, table, method
):
    """Kill the second table's commit of one multi-table write, replay
    the write with the same token, and compare every table and the
    served answer with the same scenario run without the crash."""
    from unittest import mock

    def untouched(op):
        pass

    ref_tables, ref_answer = scenario(spark, f"{tmp_dir}/ref", untouched)

    real = getattr(SnapshotTable, method)
    killed = []

    def dying(self, *args, **kwargs):
        if self.root.name == table:
            killed.append(self.root)
            raise _Killed()
        return real(self, *args, **kwargs)

    def crash(op):
        with mock.patch.object(SnapshotTable, method, dying):
            with pytest.raises(_Killed):
                op()

    tables, answer = scenario(spark, f"{tmp_dir}/crash", crash)
    assert killed, "the crash never reached the second table"

    def contents(core):
        out = {}
        for name, t in core.tables.items():
            rows, snap = core.read(name), t.snapshot()
            out[name] = (
                None if rows is None else sorted(repr(tuple(r)) for r in rows.collect()),
                None if snap is None else snap.batch_tokens,
            )
        return out

    assert contents(tables) == contents(ref_tables)
    assert answer == ref_answer


# -- IVFPQ index -------------------------------------------------------------


def test_ivfpq_index_forget_equals_recompute(spark, tmp_dir):
    """Served topk after delete_vecs == a fresh index (same pinned
    quantizers — training is membership-independent) that never held
    the deleted vectors: no cell probe, shortlist, or re-rank can
    surface them."""
    from event_to_lakehouse_spark.similarity.ivfpq import IVFPQIndex
    from event_to_lakehouse_spark.similarity.pq import PQ_NQ

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < PQ_NQ)

    idx = IVFPQIndex.build(spark, f"{tmp_dir}/ivfpq", train=emb)
    idx.add_batch(emb, batch_token="all")
    gone = emb.filter(
        (F.col("vec_id") % 4 == 3) & (F.col("vec_id") >= PQ_NQ)
    ).select("vec_id")
    idx.delete_vecs(gone, batch_token="forget")

    fresh = IVFPQIndex.build(spark, f"{tmp_dir}/fresh", train=emb)
    fresh.add_batch(
        emb.join(gone, "vec_id", "left_anti"), batch_token="s"
    )
    surviving = emb.join(gone, "vec_id", "left_anti")
    got = [tuple(r) for r in idx.topk(surviving, queries).orderBy("query_id", "rank").collect()]
    want = [tuple(r) for r in fresh.topk(surviving, queries).orderBy("query_id", "rank").collect()]
    assert got == want
    assert idx.vec_count() == fresh.vec_count()
    deleted = {r.vec_id for r in gone.collect()}
    assert not deleted & {t[2] for t in got}  # (query_id, rank, vec_id, ...)


# -- bloom: rebuild-on-delete -------------------------------------------------


def test_bloom_rebuild_from_survivors(spark, tmp_dir):
    """The Bloom delete path is a rebuild: the new bitmap equals one
    build over the surviving keys bit-for-bit (deleted keys' private
    bits are gone), and the no-false-negative contract holds for every
    survivor."""
    from event_to_lakehouse_spark.dedup.bloom import (
        BloomIndex,
        bloom_bits,
        build_bloom,
    )

    keys = spark.range(0, 300).select(
        F.sha2(F.col("id").cast("string"), 256).alias("fp"), "id"
    ).localCheckpoint()
    m = bloom_bits(300)
    idx = BloomIndex(spark, f"{tmp_dir}/bf", m_bits=m)
    idx.add_batch(keys.select("fp"), "fp", batch_token="all")

    survivors = keys.filter("id % 3 != 0").select("fp").localCheckpoint()
    idx.rebuild_from(survivors, "fp", batch_token="rebuild")

    want = {
        (r.word_idx, r.word)
        for r in build_bloom(survivors, "fp", m, idx.k).collect()
    }
    got = {(r.word_idx, r.word) for r in idx.table.read().collect()}
    assert got == want
    # no false negatives for survivors
    probed = idx.probe(survivors, "fp")
    assert probed.filter(~F.col("bloom_maybe")).count() == 0


def test_bloom_sync_from_changelog_and_replay_noop(spark, tmp_dir):
    """VERDICT r12 #2 closed: the Bloom delete path is changelog-
    TRIGGERED, not just manual. A '-'-bearing CDC feed rebuilds the
    bitmap bit-for-bit from the paired survivors set; a '+'-only feed
    folds in incrementally; and BOTH a replayed pre-delete batch and a
    replayed sync are storage no-ops (carried token chain), so deleted
    keys' bits can never resurrect through stream replay."""
    from event_to_lakehouse_spark.dedup.bloom import (
        BloomIndex,
        bloom_bits,
        build_bloom,
    )

    keys = spark.range(0, 240).select(
        F.sha2(F.col("id").cast("string"), 256).alias("fp"), "id"
    ).localCheckpoint()
    m = bloom_bits(240)
    idx = BloomIndex(spark, f"{tmp_dir}/bfsync", m_bits=m)
    idx.add_batch(keys.filter("id < 200").select("fp"), "fp",
                  batch_token="b0")

    # '+'-only feed: incremental merge, no rebuild
    plus_feed = keys.filter("id >= 200").select(
        "fp", F.lit("+").alias("_change")
    )
    idx.sync_from_changelog(plus_feed, "fp", keys.select("fp"),
                            batch_token="b1")
    assert idx.probe(keys, "fp").filter(~F.col("bloom_maybe")).count() == 0

    # '-'-bearing feed: rebuild from survivors, bit-exact
    survivors = keys.filter("id % 3 != 0").select("fp").localCheckpoint()
    minus_feed = keys.filter("id % 3 = 0").select(
        "fp", F.lit("-").alias("_change")
    )
    idx.sync_from_changelog(minus_feed, "fp", survivors,
                            batch_token="forget1")
    want = {
        (r.word_idx, r.word)
        for r in build_bloom(survivors, "fp", m, idx.k).collect()
    }
    v_after = idx.table.snapshot().version
    got = {(r.word_idx, r.word) for r in idx.table.read().collect()}
    assert got == want
    assert idx.probe(survivors, "fp").filter(
        ~F.col("bloom_maybe")
    ).count() == 0  # no false negatives for survivors

    # replay the PRE-DELETE batch: token still carried -> storage no-op
    idx.add_batch(keys.filter("id < 200").select("fp"), "fp",
                  batch_token="b0")
    assert idx.table.snapshot().version == v_after
    assert {
        (r.word_idx, r.word) for r in idx.table.read().collect()
    } == want  # deleted keys' bits did NOT resurrect

    # replay the SYNC itself: no-op too
    idx.sync_from_changelog(minus_feed, "fp", survivors,
                            batch_token="forget1")
    assert idx.table.snapshot().version == v_after


def test_bloom_sync_mixed_feed_pre_window_survivors(spark, tmp_dir):
    """ADVICE r13 closed: a MIXED feed ('+' and '-' in one window)
    whose survivors frame was derived BEFORE the window's inserts must
    still set the new keys' bits — the rebuild unions the feed's '+'
    keys into the survivor set, so a stale-but-pre-window survivors
    frame can cost only false positives, never the false negatives the
    index forbids."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex, bloom_bits

    keys = spark.range(0, 200).select(
        F.sha2(F.col("id").cast("string"), 256).alias("fp"), "id"
    ).localCheckpoint()
    new_keys = spark.range(200, 260).select(
        F.sha2(F.col("id").cast("string"), 256).alias("fp"), "id"
    ).localCheckpoint()
    m = bloom_bits(260)
    idx = BloomIndex(spark, f"{tmp_dir}/bfmix", m_bits=m)
    idx.add_batch(keys.select("fp"), "fp", batch_token="seed")

    # one CDC window: delete id%4==0 of the old keys AND insert 60 new
    # ones; the caller's survivors frame predates the inserts (the
    # post-delete OLD key set only — the ADVICE r13 trap)
    pre_window_survivors = keys.filter("id % 4 != 0").select("fp")
    feed = (
        keys.filter("id % 4 = 0")
        .select("fp", F.lit("-").alias("_change"))
        .unionByName(new_keys.select("fp", F.lit("+").alias("_change")))
    )
    idx.sync_from_changelog(feed, "fp", pre_window_survivors,
                            batch_token="w1")

    # the window's inserts must be admitted: zero false negatives
    assert idx.probe(new_keys, "fp").filter(
        ~F.col("bloom_maybe")
    ).count() == 0
    # survivors stay admitted too
    assert idx.probe(
        keys.filter("id % 4 != 0"), "fp"
    ).filter(~F.col("bloom_maybe")).count() == 0
