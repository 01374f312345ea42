"""Incremental near-duplicate detection against a PERSISTED LSH index.

The batch flavors (``minhash.py``) re-shingle the whole corpus every
run — fine for a one-shot dedup, wrong for the 100 TB operating mode,
where a pipeline ingests batch after batch and must answer "which of these
docs near-duplicate anything we already hold?" without touching the
held corpus's text again. This module persists the two artifacts the
batch pipeline already computes —

- ``<root>/bands``: (doc_id, band_idx, band_hash) LSH band rows
- ``<root>/sigs``:  (doc_id, sig array<long>) minhash signatures

— into :class:`~..storage.snapshots.SnapshotTable`\\ s (atomic commits,
exactly-once batch tokens, time travel), and probes each NEW batch
against them:

1. shingle → signature → band rows for the new docs ONLY,
2. the new batch's distinct band keys are BROADCAST against the index
   scan — the index is filtered to probed buckets without a shuffle
   (its text was never read, its bands never re-hashed) — after
   dropping the batch's OWN doc_ids from the stored side (broadcast
   anti probe, r15: makes crash-retried and replayed tokens return
   the fresh-probe result instead of pairing the batch against its
   already-committed copies),
3. the hot-bucket guard applies over index∪batch counts per probed
   bucket (the semi-filtered index retains every row of a probed
   bucket, so counts equal full-recompute counts),
4. candidate pairs = bucket join where at least one side is new;
   signatures for scoring are the batch's own plus one signature-store
   scan semi-probed by the pairs' held member ids (broadcast), and
   that batch-scale set is broadcast once for both pair sides,
5. the batch's band rows + signatures are appended with an optional
   ``batch_token`` (replays are storage no-ops and return the same
   pairs — the batch's own indexed copy never self-pairs).

Per-batch cost therefore scales with the BATCH for all compute stages
(shingling, hashing, window guard, pair scoring); the corpus enters
only as two columnar scans of fixed-width band/signature rows probed
by broadcast hashes — no corpus shuffle, no corpus text I/O
(``tools/scale_probe.py`` measures the flat probe cost).

Union-equivalence: indexing batches B1..Bn and unioning the returned
pair sets yields EXACTLY ``candidate_pairs(B1 ∪ .. ∪ Bn)`` — each pair
is emitted precisely when its later member arrives (pytest-pinned; the
registry entry's DuckDB oracle checks the probe against the portable
full-pipeline SQL restricted to pairs touching the new batch). Caveat
shared with every streaming-LSH design: the hot-bucket guard is
append-monotone — a bucket that only later exceeds ``max_bucket``
keeps pairs it emitted while still cold.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..storage.index_core import IndexTables
from .minhash import (
    BANDS,
    MAX_BUCKET,
    N_HASHES,
    band_rows,
    guard_hot_buckets,
    score_pairs,
    signatures,
)

__all__ = ["NearDupIndex", "ExactDedupIndex"]

_FLAVORS = {"xxhash64", "portable"}


class NearDupIndex:
    """A durable LSH band + signature index for incremental near-dup.

    Geometry (k, bands, hash flavor, …) is pinned in ``<root>/index.json``
    at creation; reopening with conflicting explicit arguments raises —
    mixing hash flavors in one index would silently miss every
    cross-flavor duplicate.

    Commit order: bands, then signatures, for appends and forgets alike
    (``IndexTables``). A crash between the two manifests leaves band
    rows without signatures — after an append, candidate pairs with the
    half-indexed docs are dropped at scoring and ``doc_count`` leaves
    them out; after a forget, the forgotten docs are already
    unprobeable — and a retry with the same token lands the signature
    commit.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_hashes: int = N_HASHES,
        bands: int = BANDS,
        max_bucket: int = MAX_BUCKET,
        hash_flavor: str = "xxhash64",
        text_col: str = "text",
    ):
        if hash_flavor not in _FLAVORS:
            raise ValueError(f"hash_flavor must be one of {sorted(_FLAVORS)}")
        self.spark = spark
        self.root = Path(root)
        meta_path = self.root / "index.json"
        geometry = {
            "n_hashes": n_hashes,
            "bands": bands,
            "max_bucket": max_bucket,
            "hash_flavor": hash_flavor,
            "text_col": text_col,
        }
        if meta_path.exists():
            stored = json.loads(meta_path.read_text())
            if stored != geometry:
                raise ValueError(
                    f"index at {root} was built with {stored}, "
                    f"reopened with {geometry}"
                )
        else:
            self.root.mkdir(parents=True, exist_ok=True)
            meta_path.write_text(json.dumps(geometry))
        self.n_hashes = n_hashes
        self.bands = bands
        self.max_bucket = max_bucket
        self.hash_flavor = hash_flavor
        self.text_col = text_col
        # maintain(): bands clustered by bucket so each probed bucket
        # lives in few files and refreshed zone maps prune the probe scan
        self.tables = IndexTables(
            spark,
            self.root,
            {"bands": ["band_idx", "band_hash"], "sigs": ["doc_id"]},
        )
        self.bands_table = self.tables["bands"]
        self.sigs_table = self.tables["sigs"]

    # -- internals ----------------------------------------------------------

    def _hash_sql(self):
        if self.hash_flavor == "portable":
            from .portable import seeded_hash_spark

            return seeded_hash_spark
        return None  # minhash default: xxhash64

    # -- API ----------------------------------------------------------------

    def index_batch(
        self, docs: DataFrame, batch_token: str | None = None
    ) -> DataFrame:
        """Probe ``docs`` against the index, append their keys, return
        (doc_id_a, doc_id_b, jaccard_est) pairs where at least one side
        is in this batch. See module docstring for the plan shape."""
        # The batch's signatures feed the band rows, the probe, the
        # scoring and the append: checkpoint them once. Unlike a cached
        # scan, a checkpointed one lets the scoring's two broadcast
        # builds of the same frame be one reused exchange, and there is
        # no persist() to release.
        new_sigs = signatures(
            docs, self.text_col, self.n_hashes, self._hash_sql()
        ).localCheckpoint()
        new_bands = band_rows(
            new_sigs,
            self.n_hashes,
            self.bands,
            band_concat=self.hash_flavor == "portable",
        )

        # SELF-EXCLUSION (r15, found by the hypothesis add/forget
        # property suite): the stored side drops the batch's OWN
        # doc_ids before probing. Without it, a replayed or
        # crash-retried batch_token — whose band/sig rows are already
        # committed — probed the batch against its own indexed copies:
        # bucket counts doubled (hot-bucket guard could drop pairs
        # near max_bucket) and the duplicated signature rows
        # multiplied each scored pair row 2-4×
        # (tests/test_index_deletes.py::test_neardup_replay_returns_same_pairs).
        # With the exclusion, EVERY index_batch call — first,
        # crash-retry, or late replay — returns exactly the fresh
        # probe of the batch against (stored \ batch). Batch ids are
        # batch-scale, so the anti joins stay broadcast hash probes on
        # the index scans — no new shuffle.
        batch_ids = new_sigs.select("doc_id")
        idx_bands = self.tables.read("bands")
        if idx_bands is not None:
            idx_bands = idx_bands.join(
                F.broadcast(batch_ids), "doc_id", "left_anti"
            )
            # Broadcast the batch's band keys; the index side is
            # filtered by hash probe during its scan — never shuffled.
            # No distinct(): a broadcast semi-join ignores duplicate keys.
            keys = new_bands.select("band_idx", "band_hash")
            matched = idx_bands.join(
                F.broadcast(keys), ["band_idx", "band_hash"], "semi"
            )
            combined = matched.withColumn("is_new", F.lit(False)).unionByName(
                new_bands.withColumn("is_new", F.lit(True))
            )
        else:
            combined = new_bands.withColumn("is_new", F.lit(True))
        # Guard over index∪batch: 'matched' retains every index row of
        # each probed bucket, so these counts equal full-recompute
        # counts for exactly the buckets that can produce pairs.
        # localCheckpoint: both sides of the candidate self-join read
        # this (probed-buckets-only, so batch-scale) set — without
        # materialization the index scan + semi probe + window would
        # execute twice (measured 6.4 s -> 2.5 s at sf0.1).
        # eager=False defers only the checkpoint's own final stage:
        # under AQE, building the plan's RDD runs every query stage
        # below it (index scans, broadcasts, the window shuffle) right
        # here, before the appends — so a build-only call whose pairs
        # are never consumed still pays the probe. The plan reads the
        # PRE-append pinned file set, so when it runs cannot move any
        # value.
        guarded = guard_hot_buckets(combined, self.max_bucket).localCheckpoint(
            eager=False
        )
        a, b = guarded.alias("a"), guarded.alias("b")
        hits = a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.is_new") | F.col("b.is_new")),
        )
        pairs = hits.select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        ).dropDuplicates(["doc_id_a", "doc_id_b"])
        # Signatures for scoring: the batch's own, plus the stored ones
        # of the pairs' held (index-side) members only — one signature
        # store scan, semi-probed by a broadcast of those ids. Held
        # members come from the batch-excluded index side, so a stored
        # copy of a batch doc (a replay) never enters. The result is
        # batch-scale: score_pairs broadcasts it once for both lookups.
        sigs = new_sigs
        idx_sigs = self.tables.read("sigs")
        if idx_sigs is not None:
            held_ids = hits.select(
                F.explode(
                    F.array(
                        F.when(~F.col("a.is_new"), F.col("a.doc_id")),
                        F.when(~F.col("b.is_new"), F.col("b.doc_id")),
                    )
                ).alias("doc_id")
            )
            sigs = new_sigs.unionByName(
                idx_sigs.join(F.broadcast(held_ids), "doc_id", "semi")
            )
        scored = score_pairs(pairs, sigs, self.n_hashes, broadcast_sigs=True)
        # Append AFTER building the probe plan: read() pinned the
        # pre-append file set, so the returned DataFrame is stable no
        # matter when the caller executes it.
        self.tables.commit(batch_token, {"bands": new_bands, "sigs": new_sigs})
        return scored

    def doc_count(self) -> int:
        """Indexed documents (signature rows), from the manifest row
        stats (no Spark job)."""
        return self.sigs_table.row_count()

    def delete_docs(
        self, doc_ids: DataFrame, batch_token: str | None = None
    ) -> None:
        """FORGET documents (VERDICT r11 #1): COW-remove their band
        rows and signatures. Band/sig rows are per-doc independent
        state — no shared statistics — so a probe after a delete is
        EXACTLY a probe against a fresh index over the surviving docs
        (pytest-pinned): the forgotten docs can never match again, and
        no surviving pair is lost. Both tables take the SAME
        ``batch_token``, bands first (see the class docstring). Note
        the hot-bucket guard's append-monotone caveat runs in reverse
        here: a bucket that dropped below ``max_bucket`` through
        deletes simply becomes eligible again — no correctness debt."""
        self.tables.delete_keys(doc_ids, "doc_id", batch_token=batch_token)

    def maintain(
        self, target_file_bytes: int = 128 * 1024 * 1024, keep_versions: int = 1
    ) -> int:
        """Every batch commit lands its own small files: one atomic
        bin-packed rewrite per table, then vacuum. Returns files
        removed by vacuum."""
        return self.tables.maintain(target_file_bytes, keep_versions)


def _incremental_oracle() -> str:
    """The incremental probe must equal the portable FULL-pipeline
    pairs restricted to pairs touching the new batch (doc_id % 5 = 0
    here) — so the oracle is the full-recompute SQL with that filter,
    checking union-equivalence itself, not just the plumbing."""
    from .portable import _minhash_oracle

    return f"""
    SELECT * FROM ({_minhash_oracle()}) p
    WHERE p.doc_id_a % 5 = 0 OR p.doc_id_b % 5 = 0
    """


from ..operators.relational import query  # noqa: E402
from ..tables import load_tables  # noqa: E402


@query("dedup_incremental", _incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup, driver-checkable end-to-end: index the
    held corpus (doc_id % 5 != 0) into a fresh on-disk NearDupIndex,
    then probe the 'newly arrived' batch (doc_id % 5 = 0) against it.
    The oracle is the full-recompute portable SQL filtered to pairs
    touching the batch — green means probe == recompute."""
    import tempfile

    docs = load_tables(spark, sf_dir)["documents"]
    idx = NearDupIndex(
        spark,
        tempfile.mkdtemp(prefix="neardup_idx_"),
        hash_flavor="portable",
    )
    idx.index_batch(docs.filter(F.col("doc_id") % 5 != 0), batch_token="held")
    return idx.index_batch(
        docs.filter(F.col("doc_id") % 5 == 0), batch_token="new"
    )


def _neardup_forget_oracle() -> str:
    """Probe-after-forget must equal the full portable pipeline over
    the SURVIVING universe (held minus forgotten, plus the batch),
    restricted to pairs touching the batch — the ``dedup_incremental``
    union-equivalence theorem with a delete in the middle."""
    from .portable import _minhash_oracle

    nd = _minhash_oracle().replace("FROM documents", "FROM vis_docs")
    assert "FROM documents" not in nd  # exactly one universe
    return f"""
    WITH vis_docs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 5 = 0 OR doc_id % 3 <> 0
    )
    SELECT * FROM ({nd}) p
    WHERE p.doc_id_a % 5 = 0 OR p.doc_id_b % 5 = 0
    """


@query("dedup_neardup_forget", _neardup_forget_oracle())
def dedup_neardup_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete propagation through the durable LSH index (VERDICT r11
    #1), driver-checkable: index the held corpus (doc_id % 5 != 0),
    FORGET every held doc with doc_id % 3 == 0 (COW key-delete of its
    band rows + signature), then probe the arriving batch
    (doc_id % 5 == 0). The oracle recomputes the portable pipeline
    over held-minus-forgotten ∪ batch — green means forgotten docs
    never pair again AND every surviving pair is still found, i.e.
    probe-after-delete == recompute-from-survivors."""
    import tempfile

    docs = load_tables(spark, sf_dir)["documents"]
    held = docs.filter(F.col("doc_id") % 5 != 0)
    idx = NearDupIndex(
        spark, tempfile.mkdtemp(prefix="nd_forget_"), hash_flavor="portable"
    )
    idx.index_batch(held, batch_token="held")
    idx.delete_docs(
        held.filter(F.col("doc_id") % 3 == 0).select("doc_id"),
        batch_token="forget",
    )
    return idx.index_batch(
        docs.filter(F.col("doc_id") % 5 == 0), batch_token="new"
    )


class ExactDedupIndex:
    """The EXACT twin of :class:`NearDupIndex`: a durable fingerprint
    index for first-arrival-wins content dedup. The SnapshotTable holds
    one (fp, doc_id) row per distinct content ever seen — the canonical
    survivor — and a new batch resolves each doc to:

    - ``is_new_unique``: content never held before AND this doc is the
      batch's own min-id holder of it (it becomes the canonical copy),
    - ``dup_of``: the canonical doc this one duplicates (a HELD doc for
      re-crawled content — first arrival stays canonical, which is what
      an ingest pipeline wants — else the within-batch survivor), NULL
      for the survivor itself.

    Probe shape mirrors the near-dup index: the batch's fingerprints
    broadcast against the index scan (32-byte keys; the index never
    shuffles); only new-unique rows append, so the index
    stays one row per distinct content forever. Replays (same
    ``batch_token``) are storage no-ops and return the SAME frame: a
    doc finding ITSELF as the held survivor reports exactly what its
    first run reported.

    The fingerprint table is the index's only table, and it lives at
    ``root`` itself. With a paired ``BloomIndex`` the bitmap commits
    first (see ``index_batch``).
    """

    def __init__(self, spark: SparkSession, root: str, text_col: str = "text"):
        self.spark = spark
        self.text_col = text_col
        # maintain(): clustered by fp so the broadcast probe prunes on
        # refreshed zone maps
        self._name = Path(root).name
        self.tables = IndexTables(spark, Path(root).parent, {self._name: ["fp"]})
        self.table = self.tables[self._name]

    def index_batch(
        self, docs: DataFrame, batch_token: str | None = None, bloom=None
    ) -> DataFrame:
        """Resolve ``docs`` against the index (see class docstring).

        ``bloom`` (a :class:`~..dedup.bloom.BloomIndex` kept in sync
        with this index's content) turns on ADMISSION: every doc is
        probed against the bitmap first, and only the ``bloom_maybe``
        sliver's fingerprints enter the held-index join — bloom-false
        docs are GUARANTEED absent (no false negatives), so skipping
        the join for them cannot change any verdict. The batch's
        new-unique fingerprints are then merged into the bitmap under
        the same ``batch_token``, keeping filter and index content in
        lock-step. The output gains a ``bloom_maybe`` column — an
        ADMISSION observation: on a crash-replay the resolution columns
        are reproduced exactly (the self-held rule below), but a
        replayed doc's own fingerprint is now in the bitmap, so its
        bloom_maybe reads True — callers that persist verdicts should
        guard replays at the batch level, as
        ``streaming.jobs.bloom_admission_stream`` does."""
        from ..functions.text import fingerprint

        # A NULL text has no fingerprint and gets no verdict.
        fps = docs.select(
            "doc_id", fingerprint(self.text_col).alias("fp")
        ).filter(F.col("fp").isNotNull())
        if bloom is not None:
            fps = bloom.probe(fps, "fp")
        # The within-batch survivor as a window: one batch-side
        # exchange (a groupBy joined back to ``fps`` would take two).
        per = fps.withColumn(
            "batch_survivor", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        held = self.tables.read(self._name)
        if held is not None:
            probe_side = (
                fps if bloom is None else fps.filter(F.col("bloom_maybe"))
            )
            # No distinct(): a broadcast semi-join ignores duplicate
            # keys. ``matched`` holds at most one held row per batch
            # fingerprint, so it is batch-scale and broadcast too.
            matched = held.join(
                F.broadcast(probe_side.select("fp")), "fp", "semi"
            ).select("fp", F.col("doc_id").alias("held_survivor"))
            per = per.join(F.broadcast(matched), "fp", "left")
        else:
            per = per.withColumn("held_survivor", F.lit(None).cast("long"))
        # Materialize the per-doc resolution once: batch-scale by
        # contract, and read by up to THREE consumers — the bloom
        # merge, the new-uniques append, and the caller's consumption
        # of ``out``. Recomputed, each re-ran the fingerprint scan, the
        # bitmap broadcast probes and both probe joins. A local
        # checkpoint, not persist(): nothing can unpersist a frame that
        # the caller still reads after this returns, while checkpoint
        # blocks go with the last frame that reads them. As in
        # NearDupIndex, eager=False still runs every query stage below
        # it here, before the commits, against the pinned pre-commit
        # file sets.
        per = per.localCheckpoint(eager=False)
        # held_survivor == doc_id happens only on replay (the doc's own
        # indexed row): report it exactly as the first run did.
        self_held = F.col("held_survivor") == F.col("doc_id")
        out = per.select(
            "doc_id",
            *(["bloom_maybe"] if bloom is not None else []),
            (
                (F.col("held_survivor").isNull() | self_held)
                & (F.col("doc_id") == F.col("batch_survivor"))
            ).alias("is_new_unique"),
            F.when(
                F.col("held_survivor").isNotNull() & ~self_held,
                F.col("held_survivor"),
            )
            .when(
                F.col("doc_id") != F.col("batch_survivor"),
                F.col("batch_survivor"),
            )
            .alias("dup_of"),
        )
        new_uniques = per.filter(
            F.col("held_survivor").isNull()
            & (F.col("doc_id") == F.col("batch_survivor"))
        ).select("fp", "doc_id")
        if bloom is not None:
            # Bitmap first, fingerprint table second: a crash between
            # the two commits leaves the bitmap ahead of the index —
            # Bloom FALSE POSITIVES only, which the exact probe
            # resolves — never a false negative. The shared token makes
            # the retry skip the landed bitmap commit and finish the
            # append.
            bloom.add_batch(
                new_uniques.select("fp"), "fp", batch_token=batch_token
            )
        self.table.append(new_uniques, batch_token=batch_token)
        return out

    def doc_count(self) -> int:
        """Distinct contents held, from the manifest row stats (no
        Spark job)."""
        return self.table.row_count()

    def delete_docs(
        self, doc_ids: DataFrame, batch_token: str | None = None
    ) -> None:
        """FORGET canonical documents (VERDICT r11 #1): COW-remove the
        (fp, doc_id) rows whose CANONICAL holder is in ``doc_ids`` —
        the content leaves the index, so a future arrival of the same
        text is a fresh ``is_new_unique`` (no ghost fingerprint keeps
        matching a forgotten doc; pytest-pinned).

        SEMANTIC BOUNDARY, by design: the index stores ONE row per
        distinct content — the first-arrival survivor — never the dup
        history. If doc 7 was reported ``dup_of`` doc 5 at ingest and
        doc 5 is later forgotten, the index cannot know doc 7 still
        carries that content; re-ingesting the surviving copies (or
        replaying them from the corpus table's CDC feed) re-registers
        them as canonical, and convergence is exactly the replay
        contract. A CONTENT-level forget request (erase this text no
        matter which doc holds it) should instead compute the
        fingerprint and call :meth:`delete_fps`. A paired
        ``BloomIndex`` must be rebuilt from the surviving fingerprints
        (``BloomIndex.rebuild_from`` — bits are shared; see there)."""
        self.tables.delete_keys(doc_ids, "doc_id", batch_token=batch_token)

    def delete_fps(
        self, fps: DataFrame, batch_token: str | None = None
    ) -> None:
        """Content-level forget: remove fingerprints outright (column
        ``fp``), regardless of which doc_id holds them."""
        self.tables.delete_keys(fps, "fp", batch_token=batch_token)

    def maintain(
        self, target_file_bytes: int = 128 * 1024 * 1024, keep_versions: int = 1
    ) -> int:
        """Bin-pack the fingerprint table and vacuum; batch tokens
        survive. Returns files removed."""
        return self.tables.maintain(target_file_bytes, keep_versions)


def _exact_incremental_oracle() -> str:
    from .exact import FINGERPRINT_SQL

    return f"""
    WITH fp AS (
      SELECT doc_id, {FINGERPRINT_SQL} AS fp FROM documents
    ),
    held AS (
      SELECT fp, min(doc_id) AS held_survivor
      FROM fp WHERE doc_id % 5 != 0 GROUP BY fp
    ),
    batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 5 = 0),
    bm AS (SELECT fp, min(doc_id) AS batch_survivor FROM batch GROUP BY fp)
    SELECT b.doc_id,
           (h.held_survivor IS NULL AND b.doc_id = bm.batch_survivor)
             AS is_new_unique,
           CASE WHEN h.held_survivor IS NOT NULL THEN h.held_survivor
                WHEN b.doc_id <> bm.batch_survivor THEN bm.batch_survivor
                ELSE NULL END AS dup_of
    FROM batch b
    LEFT JOIN held h ON b.fp = h.fp
    JOIN bm ON b.fp = bm.fp
    ORDER BY b.doc_id
    """


def _admission_oracle() -> str:
    """The three certified tiers composed as CTEs (the corpus_scorecard
    pattern): the bloom verdict SQL, the exact first-arrival-wins
    resolution SQL, and the portable minhash SQL — the last with its
    document universe restricted to held ∪ new-unique (exactly the
    rows the near-dup index holds when the probe runs), which is what
    makes probe == recompute hold for the SUBSET probe the pipeline
    issues (same theorem ``dedup_incremental`` certifies for the full
    batch)."""
    from .bloom import _bloom_verdict_sql
    from .portable import _minhash_oracle

    nd_restricted = _minhash_oracle().replace(
        "FROM documents", "FROM vis_docs"
    )
    assert "FROM documents" not in nd_restricted  # exactly one universe
    return f"""
    WITH bloomv AS ({_bloom_verdict_sql()}),
    exact AS ({_exact_incremental_oracle()}),
    nu AS (SELECT doc_id FROM exact WHERE is_new_unique),
    vis_docs AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 5 <> 0 OR doc_id IN (SELECT doc_id FROM nu)
    ),
    ndp AS ({nd_restricted}),
    touched AS (
      SELECT doc_id_a AS doc_id FROM ndp
      UNION ALL
      SELECT doc_id_b AS doc_id FROM ndp
    ),
    ndc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM touched
      WHERE doc_id IN (SELECT doc_id FROM nu) GROUP BY doc_id
    )
    SELECT e.doc_id,
           b.maybe AS bloom_maybe,
           e.is_new_unique,
           e.dup_of,
           coalesce(ndc.n, 0) AS n_neardup
    FROM exact e
    JOIN bloomv b ON e.doc_id = b.doc_id
    LEFT JOIN ndc ON e.doc_id = ndc.doc_id
    ORDER BY e.doc_id
    """


@query("dedup_admission_pipeline", _admission_oracle())
def dedup_admission_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ingest admission chain, end-to-end as one
    driver-checkable entry (VERDICT r9 #7): an arriving batch flows
    bloom → exact-fingerprint index → near-dup index —

    1. the Bloom bitmap (sized from the exact index's MANIFEST row
       stats, built over its held fingerprints) pre-filters the batch:
       bloom-false docs skip the held join entirely (guaranteed new);
    2. the ExactDedupIndex resolves first-arrival-wins content
       identity over the admitted sliver + within-batch survivors;
    3. only the NEW-UNIQUE docs probe the NearDupIndex — content dups
       don't pay the LSH path at all — and each gets its candidate
       near-duplicate count.

    Per-doc output: (doc_id, bloom_maybe, is_new_unique, dup_of,
    n_neardup). The oracle composes the three certified SQLs as CTEs,
    so every verdict, survivor id, and pair count is value-checked
    through the composition. At 100 TB each stage cuts the next
    stage's input: the bitmap is metadata-scale, the exact probe is
    bloom-pass-sized, the LSH probe is new-unique-sized."""
    import tempfile

    from .bloom import BloomIndex

    docs = load_tables(spark, sf_dir)["documents"]
    held = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    root = tempfile.mkdtemp(prefix="admission_")

    ex = ExactDedupIndex(spark, f"{root}/exact")
    nd = NearDupIndex(spark, f"{root}/nd", hash_flavor="portable")
    ex.index_batch(held, batch_token="held")
    bloom = BloomIndex.for_table(spark, f"{root}/bloom", ex.table)
    bloom.add_batch(ex.table.read(), "fp", batch_token="held")
    nd.index_batch(held, batch_token="held")

    resolved = ex.index_batch(
        batch, batch_token="new", bloom=bloom
    ).localCheckpoint()  # read thrice below; verdicts are batch-scale
    nu = resolved.filter(F.col("is_new_unique")).select("doc_id")
    pairs = nd.index_batch(batch.join(nu, "doc_id"), batch_token="new")
    touched = pairs.select(F.col("doc_id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_id_b").alias("doc_id"))
    )
    ndc = (
        touched.join(F.broadcast(nu), "doc_id", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        resolved.join(ndc, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_maybe",
            "is_new_unique",
            "dup_of",
            F.coalesce("n", F.lit(0)).alias("n_neardup"),
        )
        .orderBy("doc_id")
    )


@query("dedup_exact_incremental", _exact_incremental_oracle())
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup, driver-checkable: index the held corpus
    (doc_id % 5 != 0), probe the arriving batch (doc_id % 5 = 0). The
    oracle computes the same first-arrival-wins resolution in SQL over
    the union — green means probe == recompute."""
    import tempfile

    docs = load_tables(spark, sf_dir)["documents"]
    idx = ExactDedupIndex(spark, tempfile.mkdtemp(prefix="exact_idx_"))
    idx.index_batch(docs.filter(F.col("doc_id") % 5 != 0), batch_token="held")
    return idx.index_batch(
        docs.filter(F.col("doc_id") % 5 == 0), batch_token="new"
    ).orderBy("doc_id")
