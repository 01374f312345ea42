"""Bloom pre-filter: zero false negatives (structural), live FPR within
analytic bounds, bitmap compactness, broadcast-only probe plan, and the
gauge entry's invariants on the real documents table."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_to_lakehouse_spark.dedup.bloom import (
    BITS_PER_KEY,
    K_HASHES,
    bloom_bits,
    bloom_maybe,
    build_bloom,
    dedup_bloom_prefilter,
)

SF = "/root/testdata/sf0.001"


def _keys(spark, prefix, n):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("k")
    )


def test_no_false_negatives_planted(spark):
    """Every indexed key must pass the filter — Bloom's one hard
    guarantee, and the property the incremental-dedup composition
    relies on (a miss skips the exact join entirely)."""
    held = _keys(spark, "held-", 400)
    m = bloom_bits(400)
    words = build_bloom(held, "k", m)
    probes = held.unionAll(_keys(spark, "new-", 400))
    got = bloom_maybe(probes, "k", words, m)
    missed = got.filter(
        F.col("k").startswith("held-") & ~F.col("bloom_maybe")
    ).count()
    assert missed == 0


def test_fpr_within_analytic_bound(spark):
    """Non-members pass at roughly (1-e^{-k/b})^k ≈ 5.6% for the module
    geometry; assert under 3× that so the test stays seed-stable."""
    held = _keys(spark, "held-", 500)
    m = bloom_bits(500)
    words = build_bloom(held, "k", m)
    fresh = _keys(spark, "new-", 1000)
    fp = bloom_maybe(fresh, "k", words, m).filter("bloom_maybe").count()
    assert fp / 1000 < 3 * (1 - 2.718281828 ** (-K_HASHES / BITS_PER_KEY)) ** K_HASHES


def test_bitmap_is_word_bounded(spark):
    """The bitmap never exceeds m/32 rows regardless of key count —
    the property that makes it broadcastable at any corpus size."""
    held = _keys(spark, "held-", 300)
    m = bloom_bits(300)
    assert build_bloom(held, "k", m).count() <= m // 32


def test_probe_plan_is_broadcast_only(spark):
    """The probe side must never shuffle, aggregate, or re-broadcast
    anything batch-sized: bloom_maybe is k broadcast-hash joins of the
    (word-scale) bitmap against the probe scan with an inline AND
    verdict — no explode, no groupBy on probe keys, no verdict rejoin
    (ADVICE r9: the old shape broadcast the whole batch's key set)."""
    held = _keys(spark, "held-", 200)
    m = bloom_bits(200)
    words = build_bloom(held, "k", m)
    plan = bloom_maybe(
        _keys(spark, "new-", 200), "k", words, m
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == K_HASHES
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(k#" not in plan  # probe keys never shuffle


def test_stored_probe_plan_has_no_aggregate_or_shuffle(spark, tmp_dir):
    """Against a STORED bitmap (the production probe: BloomIndex on
    disk) the whole probe plan is scan + k broadcast joins + project —
    zero exchanges, zero aggregates of any scale."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex

    idx = BloomIndex(spark, f"{tmp_dir}/bfplan", m_bits=bloom_bits(200))
    idx.add_batch(_keys(spark, "held-", 200), "k", batch_token="b1")
    plan = (
        idx.probe(_keys(spark, "new-", 200), "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == K_HASHES
    assert "HashAggregate" not in plan
    assert "hashpartitioning" not in plan


def test_gauge_invariants_on_documents(spark):
    """On the real corpus split: no probe is missed (n_missed == 0
    everywhere), every member is caught inside the bloom-pass set, and
    the pass set is a strict subset of the probes (the filter actually
    filters at this geometry)."""
    rows = dedup_bloom_prefilter(spark, SF).collect()
    assert rows, "gauge returned no rows"
    assert sum(r.n_missed for r in rows) == 0
    for r in rows:
        assert r.n_bloom_pass >= r.n_members
        assert r.n_false_pos == r.n_bloom_pass - r.n_members
    assert sum(r.n_bloom_pass for r in rows) < sum(r.n_probes for r in rows)


def test_bloom_index_union_equivalence(spark, tmp_dir):
    """bit_or is commutative/associative/idempotent: indexing two
    batches must yield EXACTLY the bitmap of one build over the union."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex, build_bloom

    m = bloom_bits(400)
    idx = BloomIndex(spark, f"{tmp_dir}/bf", m_bits=m)
    idx.add_batch(_keys(spark, "a-", 200), "k", batch_token="b1")
    idx.add_batch(_keys(spark, "b-", 200), "k", batch_token="b2")
    got = {(r.word_idx, r.word) for r in idx.table.read().collect()}
    want = {
        (r.word_idx, r.word)
        for r in build_bloom(
            _keys(spark, "a-", 200).unionAll(_keys(spark, "b-", 200)), "k", m
        ).collect()
    }
    assert got == want


def test_bloom_index_reopen_replay_and_geometry(spark, tmp_dir):
    """Reopen adopts the stored geometry; a replayed batch_token is a
    storage no-op; probes after reopen still admit every held key and
    conflicting explicit geometry raises."""
    import pytest as _pytest

    from event_to_lakehouse_spark.dedup.bloom import BloomIndex

    m = bloom_bits(300)
    idx = BloomIndex(spark, f"{tmp_dir}/bf2", m_bits=m)
    idx.add_batch(_keys(spark, "a-", 300), "k", batch_token="b1")
    v1 = idx.table.snapshot().version

    re = BloomIndex(spark, f"{tmp_dir}/bf2")  # geometry from sidecar
    assert (re.m_bits, re.k) == (m, K_HASHES)
    re.add_batch(_keys(spark, "a-", 300), "k", batch_token="b1")  # replay
    assert re.table.snapshot().version == v1

    got = re.probe(_keys(spark, "a-", 300), "k")
    assert got.filter(~F.col("bloom_maybe")).count() == 0

    with _pytest.raises(ValueError):
        BloomIndex(spark, f"{tmp_dir}/bf2", m_bits=m * 2)


def test_bloom_add_batch_anchored_merge_survives_race(spark, tmp_dir):
    """The ADVICE-r9 lost-update window: a writer that read the bitmap
    at version N must NOT commit over a racer's version N+1 merge —
    that would drop the racer's bits and manufacture false negatives.
    The anchored overwrite makes the stale writer collide and re-merge;
    the final bitmap must equal one build over all three batches, and
    every batch's keys must still probe as maybe."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex

    m = bloom_bits(600)
    root = f"{tmp_dir}/bfrace"
    idx = BloomIndex(spark, root, m_bits=m)
    idx.add_batch(_keys(spark, "a-", 200), "k", batch_token="a")

    real_snapshot = idx.table.snapshot
    state = {"interleaved": False}

    def racy_snapshot(*args, **kwargs):
        s = real_snapshot(*args, **kwargs)
        if not state["interleaved"]:
            state["interleaved"] = True
            # another writer merges batch C AFTER we resolved our parent
            BloomIndex(spark, root).add_batch(
                _keys(spark, "c-", 200), "k", batch_token="c"
            )
        return s

    idx.table.snapshot = racy_snapshot
    try:
        idx.add_batch(_keys(spark, "b-", 200), "k", batch_token="b")
    finally:
        idx.table.snapshot = real_snapshot

    union = (
        _keys(spark, "a-", 200)
        .unionAll(_keys(spark, "b-", 200))
        .unionAll(_keys(spark, "c-", 200))
    )
    got = {(r.word_idx, r.word) for r in idx.table.read().collect()}
    want = {(r.word_idx, r.word) for r in build_bloom(union, "k", m).collect()}
    assert got == want  # no batch's bits were dropped
    assert idx.probe(union, "k").filter(~F.col("bloom_maybe")).count() == 0


def test_bloom_index_sized_from_manifest_stats(spark, tmp_dir):
    """BloomIndex.for_table derives its geometry from the source
    table's manifest row stats — identical to sizing from a count, with
    no data files read — and reopening through for_table adopts the
    pinned sidecar geometry."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    src = SnapshotTable(spark, f"{tmp_dir}/src")
    src.append(_keys(spark, "h-", 350))
    assert src.row_count() == 350
    idx = BloomIndex.for_table(spark, f"{tmp_dir}/bf4", src)
    assert idx.m_bits == bloom_bits(350)
    idx.add_batch(src.read(), "k", batch_token="b1")
    re = BloomIndex.for_table(spark, f"{tmp_dir}/bf4", src)  # reopen
    assert re.m_bits == idx.m_bits
    assert re.probe(src.read(), "k").filter(~F.col("bloom_maybe")).count() == 0


def test_bloom_index_empty_probe(spark, tmp_dir):
    """An index with no batches admits nothing (all guaranteed-new)."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex

    idx = BloomIndex(spark, f"{tmp_dir}/bf3", m_bits=64)
    assert idx.word_count() == 0
    assert (
        idx.probe(_keys(spark, "x-", 10), "k").filter("bloom_maybe").count()
        == 0
    )


def test_bloom_index_bounds_carried_token_chain(spark, tmp_dir):
    """ADVICE r10 (low): add_batch carries at most KEEP_TOKENS parent
    tokens through each overwrite (the RollupView valve) — the
    manifest must not grow O(#batches) over a long stream — while
    replay of a token INSIDE the horizon is still a storage no-op, and
    the bitmap stays the union build bit-for-bit (bit_or is idempotent
    even for a replay older than the horizon)."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex

    idx = BloomIndex(spark, f"{tmp_dir}/chain", m_bits=1 << 12)
    n_batches = BloomIndex.KEEP_TOKENS + 4
    for i in range(n_batches):
        idx.add_batch(_keys(spark, f"b{i}-", 20), "k", batch_token=f"t{i}")
    toks = idx.table.snapshot().batch_tokens
    assert len(toks) == BloomIndex.KEEP_TOKENS + 1  # trimmed, then appended
    assert toks[-1] == f"t{n_batches - 1}"

    v = idx.table.snapshot().version
    idx.add_batch(_keys(spark, f"b{n_batches - 1}-", 20), "k",
                  batch_token=f"t{n_batches - 1}")
    assert idx.table.snapshot().version == v  # in-horizon replay no-ops

    # every key ever added still probes True (no false negatives)
    allk = _keys(spark, "b0-", 20)
    for i in range(1, n_batches):
        allk = allk.unionByName(_keys(spark, f"b{i}-", 20))
    assert idx.probe(allk, "k").where(~F.col("bloom_maybe")).count() == 0
