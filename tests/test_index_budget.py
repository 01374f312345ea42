"""Per-call budgets of the durable indexes: Spark jobs per ingest batch
and per serve request, counts served from manifest row stats, and no
cached blocks left behind by a batch.

Under AQE every shuffle or broadcast is its own Spark job, and a
micro-batch pays a fixed scheduling cost per job, so the job count of
the index write and probe plans is pinned here on a small fixture: an
exchange that creeps back into one of them fails the budget."""

from __future__ import annotations

import gc
import time
import uuid

import pytest
from pyspark.sql import functions as F

from event_to_lakehouse_spark.tables import load_tables
from tests.conftest import SF_SMALL as SF

#: Jobs per call on the fixture below (``<=``: fewer is fine).
EXACT_INDEX_BATCH_JOBS = 7  # bloom-gated index_batch + collect
NEARDUP_INDEX_BATCH_JOBS = 13  # index_batch + collect
IVFPQ_TOPK_JOBS = 11  # one query, collected


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` launched): the jobs of a job group set
    for the call, plus group-less jobs it started from worker threads
    (those do not inherit the group). Streaming queries still draining
    from other tests run under their own groups and are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"budget-{uuid.uuid4().hex[:8]}"
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    threaded = set(tracker.getJobIdsForGroup(None)) - before
    return out, len(tracker.getJobIdsForGroup(group)) + len(threaded)


def _docs(spark):
    return load_tables(spark, SF)["documents"].select("doc_id", "text")


def _emb(spark):
    return load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")


def test_ingest_batch_job_budget(spark, tmp_dir):
    """One admission batch — Bloom-gated exact index, then the near-dup
    index over its new uniques — against indexes holding one earlier
    batch, each collected as the ingest path collects it."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex, bloom_bits
    from event_to_lakehouse_spark.dedup.incremental import (
        ExactDedupIndex,
        NearDupIndex,
    )

    docs = _docs(spark)
    held = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    ex = ExactDedupIndex(spark, f"{tmp_dir}/exact")
    nd = NearDupIndex(spark, f"{tmp_dir}/nd", hash_flavor="portable")
    bloom = BloomIndex(spark, f"{tmp_dir}/bloom", m_bits=bloom_bits(1000))
    ex.index_batch(held, batch_token="held", bloom=bloom).collect()
    nd.index_batch(held, batch_token="held").collect()

    verdicts, ex_jobs = _jobs(
        spark,
        lambda: ex.index_batch(batch, batch_token="b1", bloom=bloom).collect(),
    )
    assert len(verdicts) == 100
    new_ids = [r.doc_id for r in verdicts if r.is_new_unique]
    admitted = batch.filter(F.col("doc_id").isin(new_ids))
    _, nd_jobs = _jobs(
        spark, lambda: nd.index_batch(admitted, batch_token="b1").collect()
    )
    assert ex_jobs <= EXACT_INDEX_BATCH_JOBS, ex_jobs
    assert nd_jobs <= NEARDUP_INDEX_BATCH_JOBS, nd_jobs


def test_ivfpq_topk_job_budget(spark, tmp_dir):
    from event_to_lakehouse_spark.similarity.ivfpq import IVFPQIndex

    emb = _emb(spark)
    idx = IVFPQIndex.build(spark, f"{tmp_dir}/ivfpq", train=emb)
    idx.add_batch(emb, batch_token="all")
    q = emb.filter(F.col("vec_id") == 7)
    rows, jobs = _jobs(spark, lambda: idx.topk(emb, q, k=5).collect())
    assert len(rows) == 5
    assert jobs <= IVFPQ_TOPK_JOBS, jobs


# -- counts from manifest row stats ----------------------------------------------


def _scan(table) -> int:
    try:
        return table.read().count()
    except FileNotFoundError:  # no snapshot, or one with no files
        return 0


def _no_jobs(spark, fn):
    out, jobs = _jobs(spark, fn)
    assert jobs == 0, f"a manifest count launched {jobs} Spark jobs"
    return out


def test_exact_index_doc_count_is_manifest_read(spark, tmp_dir):
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex

    docs = _docs(spark)
    idx = ExactDedupIndex(spark, f"{tmp_dir}/exact")
    assert _no_jobs(spark, idx.doc_count) == 0
    idx.index_batch(docs.filter("doc_id < 300"), batch_token="b1").collect()
    idx.index_batch(docs.filter("doc_id >= 300"), batch_token="b2").collect()
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.table) > 0
    idx.delete_docs(docs.filter("doc_id % 4 = 0").select("doc_id"), batch_token="d")
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.table)
    idx.maintain()
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.table)


def test_neardup_index_doc_count_is_manifest_read(spark, tmp_dir):
    from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

    docs = _docs(spark)
    idx = NearDupIndex(spark, f"{tmp_dir}/nd")
    assert _no_jobs(spark, idx.doc_count) == 0
    idx.index_batch(docs.filter("doc_id < 300"), batch_token="b1")
    idx.index_batch(docs.filter("doc_id >= 300"), batch_token="b2")
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.sigs_table) == 500
    idx.delete_docs(docs.filter("doc_id % 4 = 0").select("doc_id"), batch_token="d")
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.sigs_table) == 375
    idx.maintain()
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.sigs_table) == 375


def test_inverted_index_doc_count_is_manifest_read(spark, tmp_dir):
    from event_to_lakehouse_spark.textindex import InvertedIndex

    docs = _docs(spark)
    idx = InvertedIndex(spark, f"{tmp_dir}/inv")
    assert _no_jobs(spark, idx.doc_count) == 0
    idx.add_batch(docs.filter("doc_id < 300"), batch_token="b1")
    idx.add_batch(docs.filter("doc_id >= 300"), batch_token="b2")
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.doclens_table) == 500
    idx.delete_docs(docs.filter("doc_id % 4 = 0").select("doc_id"), batch_token="d")
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.doclens_table) == 375
    idx.maintain()
    assert _no_jobs(spark, idx.doc_count) == _scan(idx.doclens_table) == 375


def _ivfpq_index(spark, root, emb):
    from event_to_lakehouse_spark.similarity.ivfpq import IVFPQIndex

    return IVFPQIndex.build(spark, root, train=emb)


def _pq_index(spark, root, emb):
    from event_to_lakehouse_spark.similarity.pq import PQIndex

    return PQIndex(spark, root)


@pytest.mark.parametrize("make", [_ivfpq_index, _pq_index], ids=["ivfpq", "pq"])
def test_vector_index_vec_count_is_manifest_read(spark, tmp_dir, make):
    """The first batch holds the PQ seed rows (vec_id < PQ_K), which
    PQIndex trains its codebook from. PQIndex has no delete path."""
    from event_to_lakehouse_spark.similarity.pq import PQ_M

    emb = _emb(spark)
    idx = make(spark, f"{tmp_dir}/idx", emb)
    assert _no_jobs(spark, idx.vec_count) == 0
    idx.add_batch(emb.filter("vec_id < 250"), batch_token="b1")
    idx.add_batch(emb.filter("vec_id >= 250"), batch_token="b2")
    left = emb.count()
    assert _no_jobs(spark, idx.vec_count) == _scan(idx.codes_table) // PQ_M == left
    if hasattr(idx, "delete_vecs"):
        idx.delete_vecs(emb.filter("vec_id % 4 = 0").select("vec_id"), batch_token="d")
        left = emb.filter("vec_id % 4 != 0").count()
        assert _no_jobs(spark, idx.vec_count) == _scan(idx.codes_table) // PQ_M == left
    idx.maintain()
    assert _no_jobs(spark, idx.vec_count) == _scan(idx.codes_table) // PQ_M == left


def test_bloom_index_word_count_is_manifest_read(spark, tmp_dir):
    """The Bloom bitmap has no row delete; its delete path is the
    rebuild from surviving keys."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex, bloom_bits

    keys = spark.range(0, 400).select(
        F.sha2(F.col("id").cast("string"), 256).alias("fp"), "id"
    )
    idx = BloomIndex(spark, f"{tmp_dir}/bf", m_bits=bloom_bits(400))
    assert _no_jobs(spark, idx.word_count) == 0
    idx.add_batch(keys.filter("id < 200").select("fp"), "fp", batch_token="b1")
    idx.add_batch(keys.filter("id >= 200").select("fp"), "fp", batch_token="b2")
    assert _no_jobs(spark, idx.word_count) == _scan(idx.table) > 0
    idx.rebuild_from(keys.filter("id % 8 = 0").select("fp"), "fp", batch_token="r")
    assert _no_jobs(spark, idx.word_count) == _scan(idx.table) > 0


# -- cached blocks ---------------------------------------------------------------


def _exact_with_bloom(spark, root):
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex, bloom_bits
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex

    idx = ExactDedupIndex(spark, f"{root}/exact")
    bloom = BloomIndex(spark, f"{root}/bloom", m_bits=bloom_bits(1000))

    def step(docs, token):
        idx.index_batch(docs, batch_token=token, bloom=bloom).collect()

    return step, idx


def _neardup(spark, root):
    from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

    idx = NearDupIndex(spark, f"{root}/nd", hash_flavor="portable")

    def step(docs, token):
        idx.index_batch(docs, batch_token=token).collect()

    return step, idx


def _inverted(spark, root):
    from event_to_lakehouse_spark.textindex import InvertedIndex

    idx = InvertedIndex(spark, f"{root}/inv")

    def step(docs, token):
        idx.add_batch(docs, batch_token=token)

    return step, idx


@pytest.mark.parametrize(
    "write_path",
    [_exact_with_bloom, _neardup, _inverted],
    ids=["exact_bloom", "neardup", "inverted"],
)
def test_write_path_releases_its_cache(spark, tmp_dir, write_path):
    """Three batches through one ingest write path leave no cached RDD
    behind: a long ingest loop must not accrete cached blocks. A
    ``persist()`` must be released by the write path itself — the
    cache manager holds it until then. The blocks of a
    ``localCheckpoint`` go with the last frame that reads them, so the
    check lets a garbage collection run first. The map
    ``getPersistentRDDs()`` returns holds its RDDs too, until py4j's
    finalizer thread (1 s poll) releases it, so each round waits for
    that before the JVM collects."""
    sc = spark.sparkContext

    def cached() -> set[int]:
        return set(sc._jsc.getPersistentRDDs().keys())

    def grown(before: set[int]) -> set[int]:
        for _ in range(10):
            gc.collect()
            time.sleep(1.5)
            sc._jvm.System.gc()
            left = cached() - before
            if not left:
                break
        return left

    step, idx = write_path(spark, tmp_dir)
    before = cached()  # other tests' frames share this session
    docs = _docs(spark)
    for i in range(3):
        step(docs.filter(f"doc_id % 3 = {i}"), f"b{i}")
    assert grown(before) == set()
    assert idx.doc_count() > 0
