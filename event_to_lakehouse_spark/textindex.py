"""Durable inverted index — BM25 lexical search as a SERVING artifact,
completing the durable-index family (NearDup / ExactDedup / Bloom /
IVF / PQ / IVFPQ / this).

``text_bm25_search`` (textops.py) proves the scoring math over a batch
corpus; this module makes retrieval INCREMENTAL: the posting table
(term, doc_id, tf) and the doc-length table (doc_id, dl) persist as
:class:`~.storage.snapshots.SnapshotTable`\\ s, each ``add_batch``
tokenizes ONLY the arriving docs (batch cost — held text is never
re-read), and ``topk`` serves a query from the stored postings:

- the query's terms prune the posting scan (predicate pushdown on the
  clustered ``term`` column; ``maintain()`` bin-packs postings
  CLUSTERED BY (term, doc_id), so after compaction a 3-term query
  opens the few files whose zone maps cover those terms — the same
  file-skipping contract the Bloom/IVFPQ indexes carry),
- document frequencies come from that pruned scan, never a full one,
- the corpus stats (n_docs, avgdl) are a one-column aggregate of the
  doc-length table — doc-cardinality, not posting-cardinality; a
  production deployment folds them from per-commit manifest row
  stats instead (the ``ops_table_stats_advisor`` note applies).

Served results are EQUAL to the batch operator over everything ever
added — ``text_bm25_index_persisted``'s oracle is the identical
whole-corpus BM25 SQL that certifies ``text_bm25_search``, and pytest
pins served == batch row-for-row, so the incremental path cannot
drift from the certified math.

Crash/replay contract: both tables carry the SAME exactly-once batch
token and commit in one order, postings then doc lengths, for adds and
forgets alike (``storage.index_core.IndexTables``); a replayed
``add_batch`` is a storage no-op per table, so a crash between the two
commits self-heals on retry (a retry skips the landed postings commit
and completes the doc-length commit). While that gap is open — crash
window or a concurrent reader mid-stream — ``topk`` stays CORRECT, not
just available: it pins both tables to a token-consistent frontier
(``storage.snapshots.token_consistent_versions``), never scoring a
half-committed batch's postings against stats that exclude it. Single
concurrent writer per index root, like every durable index here (see
the BloomIndex parent-anchoring note in ``dedup/bloom.py``).

Reference parity: the reference ETL has no retrieval tier (SURVEY §2
LLM-pipeline fill); the BM25 form follows Robertson-Sparck Jones idf
with k1/b length normalization, parameters pinned by textops.py.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.relational import query
from .storage.index_core import IndexTables
from .tables import load_tables
from .textops import BM25_B, BM25_K1, BM25_QUERY, BM25_TOPK

__all__ = ["InvertedIndex"]


def tokenize_postings(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a doc batch — the same lowercase
    whitespace tokenization as ``text_bm25_search`` so served scores
    are bit-identical to the certified batch operator."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    return tf.select("term", "doc_id", "tf"), dl


class InvertedIndex:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        # maintain(): postings clustered by (term, doc_id) so each
        # term's posting list lands contiguously and a query's pruned
        # scan opens few files
        self.tables = IndexTables(
            spark,
            self.root,
            {"postings": ["term", "doc_id"], "doclens": ["doc_id"]},
        )
        self.postings_table = self.tables["postings"]
        self.doclens_table = self.tables["doclens"]

    def add_batch(self, docs: DataFrame, batch_token: str | None = None):
        """Tokenize the batch and append postings + doc lengths. Each
        table skips the commit if it already holds ``batch_token``, so
        replays (and crash retries) are no-ops that converge.

        The batch is tokenized ONCE: the doc-length commit derives from
        the PERSISTED postings frame, released once both commits are
        done — otherwise each of the two appends re-ran the full
        explode + per-(doc, term) count over the batch text."""
        from pyspark import StorageLevel

        postings, _ = tokenize_postings(docs)
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
        doclens = postings.groupBy("doc_id").agg(
            F.sum("tf").cast("long").alias("dl")
        )
        try:
            return self.tables.commit(
                batch_token, {"postings": postings, "doclens": doclens}
            )
        finally:
            postings.unpersist()

    def doc_count(self) -> int:
        """Indexed documents (doc-length rows), from the manifest row
        stats (no Spark job)."""
        return self.doclens_table.row_count()

    def delete_docs(
        self, doc_ids: DataFrame, batch_token: str | None = None
    ) -> None:
        """FORGET documents (VERDICT r11 #1 — the delete path the CDC
        feed was missing a consumer for): COW-remove every posting and
        doc-length row whose ``doc_id`` is in ``doc_ids``. Because
        ``topk`` derives ALL its statistics from the stored tables
        (per-term df from the pruned posting scan, n_docs/avgdl from
        the doc-length table), serving after a delete EQUALS a fresh
        index over the surviving docs — no ghost postings, no df/idf
        skew from forgotten documents (pytest-pinned served ==
        recompute). Both tables take the SAME ``batch_token``,
        postings first, so a crash between the two commits self-heals
        on retry and the ``token_consistent_versions`` pin keeps a
        racing reader on the pre-delete frontier until both land."""
        self.tables.delete_keys(doc_ids, "doc_id", batch_token=batch_token)

    def sync_from_changelog(
        self,
        feed: DataFrame,
        batch_token: str | None = None,
        order_col: str | None = None,
        tiebreak_col: str | None = None,
    ) -> None:
        """Consume a docs-table CHANGE DATA FEED
        (``SnapshotTable.change_feed`` rows: table schema + ``_change``
        in {'+','-'}) — the index-maintenance contract that keeps a
        durable index in lock-step with its source-of-truth table
        through upserts AND deletes:

        - every retracted pre-image ('-') drops its postings/length
          rows (a pure delete forgets the doc; an upsert's pre-image
          clears the OLD text's postings),
        - every applied row ('+') is then indexed exactly like a fresh
          batch (a pure insert's delete half is a no-op — it had no
          stored postings).

        Delete-then-reinsert is the standard inverted-index CDC fold;
        both halves are tokened off ``batch_token`` so a replay of the
        same feed window converges. The delete half is additionally
        gated PER TABLE on the ADD token: a table that already holds
        ``batch_token`` has this window's add applied, so its delete
        half is stale and must not run again. Without that gate, the
        FIRST window of a fresh index records only the add token (the
        delete half finds no table and is skipped before its ``:del``
        token can commit), and a replay would delete the just-indexed
        docs while the add half token-skips — the index forgets docs
        the table holds (found by the r15 feed-composition property
        suite, ``test_inverted_index_feed_sync_lockstep_property``).
        The same gate heals a crash between the two add commits: the
        table that committed skips its stale delete, the table that
        did not re-runs delete (token-gated) then add. A window
        spanning several
        commits can carry multiple generations of one doc ('+' v1,
        '-' v1, '+' v2 …) and must fold to the NET outcome. When the
        feed carries ``_commit_version`` (every ``change_feed`` since
        r15 does), the fold is COMMIT-ORDERED — newest commit wins,
        '+' beats '-' within one commit (a rewrite commit means
        survival with the new text) — which is correct for ANY source
        history, including delete-then-reinsert at a lower version.
        For feeds without commit provenance, ``order_col`` (REQUIRED
        then for multi-commit windows) + ``tiebreak_col`` order by row
        identity with '-' beating '+' at equal identity (a retraction
        of row v is the later event than v's application) — correct
        only while the source strictly increases its order column per
        doc. A single-commit feed needs no fold: ``apply_changes``
        already nets each key to one verdict.

        History of the fallback path's fold key (both r15, both found
        by the feed-composition property suite): folding on
        (order, _change) alone dropped a same-``order_col`` payload
        rewrite — the reused-identity upsert the r13 fingerprint work
        makes truthful emits '-'(v, old-tiebreak) / '+'(v,
        new-tiebreak), and the '-' won, so the index forgot a doc the
        table still holds (a serving false negative); ``tiebreak_col``
        fixes that case, and a genuine delete — whose '-' carries the
        SAME (order, tiebreak) as the row it retracts — still nets to
        forgotten via the '-' > '+' final key. One hypothesis round
        later the suite produced delete-then-reinsert-at-a-LOWER-
        version, which NO row-identity key can order — hence the
        commit-ordered primary path above. Sources without commit
        provenance that rewrite payloads at fully-reused identity or
        re-insert at lower versions must be synced per-commit
        windows."""
        minus = feed.filter(F.col("_change") == "-").select("doc_id")
        for table in (self.postings_table, self.doclens_table):
            snap = table.snapshot()
            if snap is None:
                continue  # fresh index: nothing to clear; on a replay
                # the table exists and the ADD-token gate below skips
            if batch_token is not None and batch_token in snap.batch_tokens:
                continue  # this window's add already landed here: the
                # delete half is stale (see docstring)
            table.delete_keys(
                minus,
                "doc_id",
                batch_token=f"{batch_token}:del" if batch_token else None,
            )
        plus = feed
        if "_commit_version" in feed.columns:
            from pyspark.sql import Window

            # COMMIT-ORDER fold (r15, found by the same property suite
            # one round deeper): row-identity ordering breaks on
            # delete-then-REINSERT-at-a-lower-version across commits —
            # the '-' pre-image carries the OLD row's order_col, which
            # out-ranks the later commit's re-insert, and the index
            # forgets a doc the table holds. ``change_feed`` rows carry
            # their commit, which totally orders the generations: the
            # newest COMMIT wins, and within one commit '+' beats '-'
            # (a commit that both retracts and applies — a rewrite —
            # means the doc survives with the new text; apply_changes
            # nets one verdict per key, so a commit has at most one
            # '+' and one '-' per doc). order_col/tiebreak_col refine
            # the within-commit order only for non-key-unique append
            # feeds.
            order = [F.col("_commit_version").desc(), F.col("_change").asc()]
            if order_col is not None:
                order.append(F.col(order_col).desc())
            if tiebreak_col is not None:
                order.append(F.col(tiebreak_col).desc())
            w = Window.partitionBy("doc_id").orderBy(*order)
            plus = (
                feed.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        elif order_col is not None:
            from pyspark.sql import Window

            # Feeds without commit provenance fall back to row-identity
            # ordering: (order, source tiebreak if any, then '-' > '+'
            # — at fully-equal identity the retraction is the later
            # event; see docstring). Correct only while order_col
            # increases monotonically per doc across the window.
            order = [F.col(order_col).desc()]
            if tiebreak_col is not None:
                order.append(F.col(tiebreak_col).desc())
            order.append(F.col("_change").desc())
            w = Window.partitionBy("doc_id").orderBy(*order)
            plus = (
                feed.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        self.add_batch(
            plus.filter(F.col("_change") == "+").select("doc_id", "text"),
            batch_token=batch_token,
        )

    def topk(self, terms: list[str], k: int = BM25_TOPK) -> DataFrame:
        """BM25 top-k over the stored postings: (doc_id, score,
        n_terms_hit, rank). The `` term IN (...)`` filter reaches the
        posting scan (pushed predicate + post-maintain zone maps), so
        serving cost tracks the probed terms' posting lists, not the
        corpus.

        Reads are TOKEN-CONSISTENT (ADVICE r10): a reader racing
        ``add_batch`` between its two commits — or arriving after a
        crash left postings one batch ahead of doclens — pins both
        tables to the newest versions carrying the SAME batch-token
        set, so per-term df always counts the same corpus n_docs/avgdl
        normalize by. Without the pin, mid-stream scores are silently
        df-skewed until the batch replays."""
        from .storage.snapshots import token_consistent_versions

        pv, dv = token_consistent_versions(
            self.postings_table, self.doclens_table
        )
        tf = self.postings_table.read(version=pv).filter(
            F.col("term").isin(terms)
        )
        dl = self.doclens_table.read(version=dv)
        stats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        norm = F.col("tf") + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        contrib = idf * F.col("tf") * (BM25_K1 + 1.0) / norm
        scored = (
            tf.join(F.broadcast(df), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                F.sum(contrib).alias("score"),
                F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
            )
        )
        # top-k first (TakeOrderedAndProject: per-partition k-row
        # heaps, no single-partition sort of every matching doc), then
        # rank the <= k survivors — same deterministic tiebreak, same
        # values (ADVICE r12 follow-through, as text_bm25_search).
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            top.select(
                "doc_id",
                F.round("score", 6).alias("score"),
                "n_terms_hit",
                F.row_number().over(w).cast("int").alias("rank"),
            )
            .orderBy("rank")
        )

    def maintain(
        self, target_file_bytes: int = 128 * 1024 * 1024, keep_versions: int = 1
    ) -> int:
        """Bin-pack postings by (term, doc_id) and doc lengths by
        doc_id, then vacuum both. Batch tokens survive. Returns files
        removed."""
        return self.tables.maintain(target_file_bytes, keep_versions)


def _persisted_oracle() -> str:
    # Serving from the stored postings must equal the certified batch
    # BM25 over the whole corpus — reuse that entry's exact oracle.
    from .operators.relational import ORACLES

    return ORACLES["text_bm25_search"]


def _forget_oracle() -> str:
    """Serving after delete_docs must equal the certified batch BM25
    over the SURVIVING corpus: the batch oracle with its document
    universe restricted — df, n_docs, avgdl all recomputed over
    survivors, so any ghost posting or stale statistic hash-fails."""
    from .operators.relational import ORACLES

    base = ORACLES["text_bm25_search"].replace("FROM documents", "FROM vis_docs")
    assert "FROM documents" not in base  # exactly one universe
    return base.replace(
        "WITH tok AS",
        "WITH vis_docs AS (\n"
        "      SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0\n"
        "    ),\n    tok AS",
        1,
    )


@query("text_bm25_index_forget", _forget_oracle())
def text_bm25_index_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete propagation through the durable inverted index (VERDICT
    r11 #1), driver-checkable end-to-end: index the WHOLE documents
    table, forget every doc_id % 7 == 0 via ``delete_docs`` (COW
    key-delete on postings + doclens), then serve the pinned query.
    The oracle is the batch BM25 SQL over the surviving universe —
    green means the forgotten docs left NO trace: no ghost postings
    match, and df/n_docs/avgdl shed them exactly."""
    import tempfile

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    idx = InvertedIndex(spark, tempfile.mkdtemp(prefix="inv_forget_"))
    idx.add_batch(docs, batch_token="all")
    idx.delete_docs(
        docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"),
        batch_token="forget",
    )
    return idx.topk(BM25_QUERY)


_CDC_SUFFIX = " merge stream refresh"


def _cdc_sync_oracle() -> str:
    """The index after consuming an apply_changes CHANGE DATA FEED
    must equal the batch BM25 over the table's FINAL state: upserted
    docs score on their NEW text, deleted docs are gone. The oracle
    rebuilds that final state in SQL (same deterministic text edit)."""
    from .operators.relational import ORACLES

    base = ORACLES["text_bm25_search"].replace("FROM documents", "FROM vis_docs")
    assert "FROM documents" not in base
    return base.replace(
        "WITH tok AS",
        "WITH vis_docs AS (\n"
        "      SELECT doc_id,\n"
        f"             CASE WHEN doc_id % 10 = 1 THEN text || '{_CDC_SUFFIX}'\n"
        "                  ELSE text END AS text\n"
        "      FROM documents WHERE doc_id % 10 <> 2\n"
        "    ),\n    tok AS",
        1,
    )


@query("text_bm25_index_cdc_sync", _cdc_sync_oracle())
def text_bm25_index_cdc_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CDC → durable-index maintenance loop (VERDICT r11 #1),
    driver-checkable: a docs SnapshotTable takes an ``apply_changes``
    commit (upserts rewrite text for doc_id % 10 == 1, deletes drop
    doc_id % 10 == 2, ``changelog=True``); the index consumes the
    recorded feed via ``sync_from_changelog`` — retracted pre-images
    drop their postings, applied rows re-index. The oracle is batch
    BM25 over the table's final state, so green means feed-driven
    maintenance == rebuild, including the upserted docs scoring on
    their NEW text only."""
    import tempfile

    from .storage.snapshots import SnapshotTable

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", F.lit(1).alias("ver")
    )
    root = tempfile.mkdtemp(prefix="inv_cdc_")
    t = SnapshotTable(spark, f"{root}/docs", stats_col="doc_id")
    t.append(docs)
    idx = InvertedIndex(spark, f"{root}/inv")
    idx.add_batch(docs, batch_token="v1")
    v0 = t.snapshot().version

    changes = (
        docs.filter(F.col("doc_id") % 10 == 1)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(_CDC_SUFFIX)).alias("text"),
            F.lit(2).alias("ver"),
            F.lit("U").alias("_op"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 2).select(
                "doc_id", "text", F.lit(2).alias("ver"), F.lit("D").alias("_op")
            )
        )
    )
    t.apply_changes(changes, key="doc_id", order_col="ver", changelog=True)
    idx.sync_from_changelog(
        t.change_feed(from_version=v0), batch_token="v2", order_col="ver"
    )
    return idx.topk(BM25_QUERY)


@query("text_bm25_index_persisted", _persisted_oracle())
def text_bm25_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable inverted index end-to-end under the batch BM25
    oracle: index the documents table in TWO batches (even then odd
    doc_ids — the incremental path), then serve the pinned query from
    the stored postings. Green means the persisted path — two-batch
    tokenize, pushed term filter, pruned-df scoring — reproduces the
    certified whole-corpus operator exactly."""
    import tempfile

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    idx = InvertedIndex(spark, tempfile.mkdtemp(prefix="inv_idx_"))
    idx.add_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_token="even")
    idx.add_batch(docs.filter(F.col("doc_id") % 2 == 1), batch_token="odd")
    return idx.topk(BM25_QUERY)
