"""Structured Streaming semantics (SURVEY §2.9).

The reference's streaming surface is stateless map/filter with a
processing-time trigger and foreachBatch append (:280-299). This module
keeps that shape (see ``pipeline.normalize.start_silver_stream``) and
adds the stateful event-time semantics the reference lacks:

- watermarked tumbling / sliding window aggregation
- session windows (``F.session_window``)
- streaming dedup (``dropDuplicatesWithinWatermark``)
- multi-query concurrency + awaitAnyTermination (reference :280-299)

Every transform takes and returns DataFrames, so the same function is
testable with ``availableNow`` triggers over file sources and
deployable against Kafka (swap the reader). State stores are
checkpointed; watermarks bound state size at 100 TB/day streams.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, schema: T.StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded JSON file source (declared schema — streaming sources
    cannot infer; reference :81-84)."""
    reader = spark.readStream.format("json").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling (or sliding, if ``slide``) window counts per
    event_type. Late rows beyond the watermark are dropped and window
    state is GC'd — bounded state at any scale."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time session windows per user (the streaming twin of the
    batch ``events_sessionize`` operator)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact-dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped; state for older keys is
    GC'd (SURVEY §2.9 fill)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY
    §2.9 fill; the escape hatch for semantics window/session aggs can't
    express): per-user lifetime totals maintained in the state store
    and re-emitted on every update.

    State is one (count, sum) pair per user — O(distinct users), not
    O(events); rows arrive Arrow-batched per group. Update output mode:
    downstream sinks see the latest totals after each micro-batch."""
    import pandas as pd  # local import: Arrow path only
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_totals(key, pdf_iter, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def rocksdb_state_store(spark):
    """Scope the RocksDB state-store provider to a query start: sets
    the conf, restores the previous value on exit. The provider is read
    when a streaming query STARTS, so wrapping just the ``start()``
    call is sufficient — queries already running, and those started
    after the block, keep their own provider."""
    prev = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    try:
        yield spark
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)


def running_user_totals_tws(
    events: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """``running_user_totals`` on Spark 4's ``transformWithState``
    API — the successor to ``applyInPandasWithState`` and the shape new
    stateful operators should take: typed state variables
    (ValueState/ListState/MapState) with per-state TTL and timers,
    backed by the RocksDB state store (required by the API; state spills
    to local disk instead of capping at executor heap — the 100 TB
    answer to "how big can per-key state get").

    Semantics are identical to the applyInPandasWithState twin: one
    (count, sum) ValueState per user, updated per Arrow batch, latest
    totals re-emitted each micro-batch. ``ttl_ms`` bounds state
    lifetime for corpora where keys churn (state for idle users is
    evicted by the store, not by hand-rolled timeout code).

    REQUIRES the RocksDB state-store provider. Building the DataFrame
    does NOT set it (a session-wide conf mutated as a side effect
    would silently switch every other streaming query in the session —
    ADVICE r3): wrap query start in ``rocksdb_state_store(spark)`` or
    set ``spark.sql.streaming.stateStore.providerClass`` in your
    session factory."""
    import pandas as pd  # local import: Arrow path only
    from pyspark.sql.streaming import StatefulProcessor

    ttl = ttl_ms

    class _UserTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, s double", ttlDurationMs=ttl
            )

        def handleInputRows(self, key, rows, timerValues):
            got = self._totals.get() if self._totals.exists() else None
            n, s = got if got is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].fillna(0.0).sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _UserTotals(),
        outputStructType="user_id long, n_events long, sum_value double",
        outputMode="update",
        timeMode="none",
    )


def purchase_attribution(
    events: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream join (SURVEY §2.3/§2.9 fill): each
    purchase is attributed to same-user clicks in the preceding
    ``horizon``. The time-bound condition lets Spark GC both join state
    buffers past the watermark — mandatory for unbounded streams."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), "ts", "value")
        .withWatermark("ts", watermark)
    )
    cond = (
        (purchases.user_id == clicks.c_user)
        & (clicks.click_ts < purchases.ts)
        & (clicks.click_ts >= purchases.ts - F.expr(f"INTERVAL {horizon}"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id", "user_id", "ts", "value", "click_id", "click_ts"
    )


def _start(stream: DataFrame, write, checkpoint: str, available_now: bool):
    """Start ``stream`` with ``write`` as its foreachBatch sink and
    ``checkpoint`` as its checkpoint location; ``available_now`` runs
    it as a finite availableNow query."""
    writer = stream.writeStream.foreachBatch(write).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_to_completion(query) -> None:
    """Drive an availableNow query to its end (test/maintenance-job
    helper; production uses awaitAnyTermination like the reference
    :299)."""
    query.awaitTermination()


def dedup_documents_stream(docs: DataFrame, watermark_col: str, watermark: str = "1 hour") -> DataFrame:
    """Streaming content dedup for a document feed: fingerprint each
    arriving doc (sha2 over normalized text — the exact-dedup key) and
    drop repeats within the watermark horizon.

    This is the ingest-time half of corpus dedup: late re-crawls and
    producer retries die here with bounded state (one 32-byte key per
    unique doc inside the watermark), while the batch pass
    (``dedup.exact``) handles cross-horizon duplicates. Same
    fingerprint function both places, so the two passes agree on
    identity."""
    from ..functions.text import fingerprint

    return (
        docs.withColumn("fp", fingerprint("text"))
        .withWatermark(watermark_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def enrich_stream(events: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static dimension enrichment — the most common production
    join shape: an unbounded fact stream joined to a bounded dimension.
    Structured Streaming re-resolves the STATIC side every micro-batch,
    so a dimension backed by a table path picks up slowly-changing
    updates without restarting the query; ``F.broadcast`` keeps the
    fact stream shuffle-free at any rate."""
    return events.join(F.broadcast(dim), on, how)


def heavyhitters_sketch_stream(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Streaming count-min sketch (the mergeable-sketch streaming twin
    of ``operators.events.events_heavyhitters_cm``): each arriving
    event fans out to its d (row, bucket) cells map-side, and the
    running sketch is ONE bounded stateful aggregation — state is at
    most d·w cells no matter how many distinct keys the stream ever
    sees, which is why this runs forever without a watermark. Update
    mode re-emits only the cells each micro-batch touched; estimates
    are served by probing the sink table exactly as the batch operator
    probes its broadcast sketch."""
    from ..operators.events import CM_D, _cm_bucket_spark

    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(_cm_bucket_spark(j, key)).alias("bucket"),
            )
            for j in range(CM_D)
        ]
    )
    return (
        events.select(F.explode(cells).alias("e"))
        .select("e.j", "e.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def neardup_index_stream(
    docs,
    index_root: str,
    pairs_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming incremental near-dup — the production topology of
    ``dedup.incremental.NearDupIndex``: each micro-batch of arriving
    documents is probed against the persisted LSH band index (held text
    never re-read), its pairs land under ``pairs_path``, and its band
    rows + signatures append to the index with ``batch_id`` as the
    exactly-once token. Replayed micro-batches are storage no-ops on
    the index (token dedup) AND on the pairs sink (batch-subdir
    overwrite, the same idempotence pattern as
    ``foreach_batch_writer``), and a replayed probe returns the same
    pairs — the batch's own indexed copy never self-pairs.

    State is the on-disk index, not the state store, so the query needs
    no watermark and restarts resume wherever the source checkpoint
    says — the cross-batch dedup guarantee is union-equivalence:
    unioning all emitted pair batches equals a full batch recompute
    over everything ever indexed (pytest-pinned)."""
    from ..dedup.incremental import NearDupIndex

    def _write(batch_df, batch_id: int) -> None:
        idx = NearDupIndex(batch_df.sparkSession, index_root)
        pairs = idx.index_batch(batch_df, batch_token=f"b{batch_id}")
        pairs.write.mode("overwrite").parquet(
            f"{pairs_path}/batch_id={batch_id}"
        )

    return _start(docs, _write, checkpoint, available_now)


def exact_dedup_index_stream(
    docs,
    index_root: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming exact dedup against ALL history — the index-backed
    complement of ``dedup_documents_stream`` (whose state is bounded by
    a watermark and therefore forgets): each micro-batch resolves
    through the durable ``ExactDedupIndex`` (first-arrival-wins), its
    per-doc verdicts land under ``out_path``, and only new-unique
    fingerprints append with ``batch_id`` as the exactly-once token.
    Same idempotence pattern as ``neardup_index_stream``."""
    from ..dedup.incremental import ExactDedupIndex

    def _write(batch_df, batch_id: int) -> None:
        idx = ExactDedupIndex(batch_df.sparkSession, index_root)
        out = idx.index_batch(batch_df, batch_token=f"b{batch_id}")
        out.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return _start(docs, _write, checkpoint, available_now)


def bloom_admission_stream(
    docs,
    index_root: str,
    out_path: str,
    checkpoint: str,
    m_bits: int = 1 << 20,
    available_now: bool = True,
    size_from_root: str | None = None,
):
    """Streaming admission filter — the ingest topology of
    ``dedup.bloom.BloomIndex``: each arriving micro-batch is probed
    against the durable bitmap BEFORE anything joins anything, so docs
    whose fingerprint was never seen in ANY earlier batch (or earlier
    run — the bitmap survives restarts) carry ``bloom_maybe = false``
    and can skip the exact/near-dup index joins entirely; only the
    maybe-sliver (true re-crawls + the analytic false-positive rate)
    needs the expensive path. After probing, the batch's fingerprints
    bit_or-merge into the bitmap with ``batch_id`` as the exactly-once
    token. Replay is exactly-once on BOTH artifacts: if the batch's
    token is already in the bitmap chain, the whole callback is a no-op
    (re-probing would see the batch's OWN fingerprints in the merged
    bitmap and flip its verdicts — the guard, not the probe, is what
    makes the verdicts idempotent); if the first run crashed between
    writing verdicts and committing the bitmap, the replay re-probes an
    unchanged bitmap and overwrites byte-identical verdicts.

    State is the ≤ m_bits/32-row bitmap table, not the state store: no
    watermark, bounded size forever, constant per-batch merge cost —
    the property ``dedup_documents_stream``'s watermark horizon and the
    exact index's growing key table each trade away.

    ``m_bits`` sizes the bitmap on FIRST use only (then the geometry
    sidecar pins it); default 2^20 bits = 128 KiB ≈ 175k held keys at
    the module's 6-bit/key operating point. When the bloom fronts an
    existing durable index, pass that index's SnapshotTable root as
    ``size_from_root`` and the geometry comes from its MANIFEST row
    stats instead (``BloomIndex.for_table`` — a metadata read, never a
    fact-scale count)."""
    from ..dedup.bloom import BloomIndex
    from ..functions.text import fingerprint

    def _write(batch_df, batch_id: int) -> None:
        if size_from_root is not None:
            from ..storage.snapshots import SnapshotTable

            idx = BloomIndex.for_table(
                batch_df.sparkSession,
                index_root,
                SnapshotTable(batch_df.sparkSession, size_from_root),
            )
        else:
            idx = BloomIndex(batch_df.sparkSession, index_root, m_bits=m_bits)
        snap = idx.table.snapshot()
        if snap is not None and f"b{batch_id}" in snap.batch_tokens:
            return  # replay of a fully-committed batch: verdicts stand
        fps = batch_df.withColumn("fp", fingerprint("text"))
        idx.probe(fps, "fp").write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )
        idx.add_batch(
            fps.select("fp").distinct(), "fp", batch_token=f"b{batch_id}"
        )

    return _start(docs, _write, checkpoint, available_now)


def scd2_history_stream(
    events,
    table_root: str,
    checkpoint: str,
    available_now: bool = True,
    token_horizon: int = 64,
):
    """Streaming SCD2 maintenance — the production topology of
    ``pipeline.gold.scd2_apply_batch``: each micro-batch of state
    observations (asset_uid, state, ts, event_id) closes the open
    versions it changes and appends the new ones to the SnapshotTable
    at ``table_root``, with ``batch_id`` as the exactly-once token
    (replayed micro-batches no-op at the storage layer, including the
    all-rows-late case, which commits token-only).

    Like the index streams, state lives in the versioned table — no
    state store, no watermark; a restart resumes from the source
    checkpoint and the already-applied tokens make overlap harmless.
    Micro-batch ordering IS the time ordering contract: file streams
    deliver in arrival order, so late-vs-open-version events are
    counted and dropped by the batch apply (its documented late-data
    semantics)."""
    from ..pipeline.gold import scd2_apply_batch
    from ..storage.snapshots import SnapshotTable

    def _write(batch_df, batch_id: int) -> None:
        table = SnapshotTable(
            batch_df.sparkSession, table_root, stats_col="hist_key"
        )
        # token_horizon bounds commit metadata over a long-running
        # stream (same argument as the KMV stream: a checkpointed
        # source never replays past its committed offset)
        scd2_apply_batch(
            table, batch_df, batch_token=f"b{batch_id}",
            keep_tokens=token_horizon,
        )

    return _start(events, _write, checkpoint, available_now)


def kmv_sketch_stream(
    events,
    state_root: str,
    checkpoint: str,
    key: str = "user_id",
    group: str = "event_type",
    available_now: bool = True,
    token_horizon: int = 64,
    vacuum_every: int = 32,
):
    """Streaming KMV distinct sketch (the set-operation sketch's
    streaming twin — see ``operators.sketches.kmv_sketch``): each
    micro-batch's k-min state merges into a SnapshotTable via
    ``kmv_merge``, so the durable DATA state is at most groups × K
    rows — no watermark needed, same bounded-state argument as the
    count-min stream. COMMIT METADATA is bounded too (ADVICE r5: the
    unbounded default would carry every batch token forever and old
    snapshot files would accumulate until vacuum): each overwrite
    carries only the newest ``token_horizon`` tokens — safe because a
    checkpointed source never re-delivers a batch older than its last
    committed offset, and kmv_merge is idempotent anyway (k smallest
    of a union absorbs re-merged batches) — and every
    ``vacuum_every``-th batch vacuums superseded snapshots (state
    tables need no time travel; the latest snapshot IS the state).
    Exactly-once comes twice over: the batch_id token makes replays
    storage no-ops, and the merge is idempotent. Estimates/set-ops
    are served off the state table with ``kmv_estimate`` exactly as
    the batch operator serves them. Drained-stream == whole-batch
    equality is pytest-pinned
    (``test_kmv_sketch_stream_equals_batch``); the bounded manifest is
    pinned by ``test_kmv_stream_manifest_bounded``."""
    from ..operators.sketches import kmv_merge, kmv_sketch
    from ..storage.snapshots import SnapshotTable

    def _write(batch_df, batch_id: int) -> None:
        tbl = SnapshotTable(batch_df.sparkSession, state_root)
        batch_sk = kmv_sketch(batch_df, key, group)
        snap = tbl.snapshot()
        merged = batch_sk if snap is None else kmv_merge(tbl.read(), batch_sk)
        tbl.overwrite(merged, keep_tokens=token_horizon, batch_token=f"b{batch_id}")
        if vacuum_every and batch_id % vacuum_every == vacuum_every - 1:
            tbl.vacuum(keep_versions=2)

    return _start(events, _write, checkpoint, available_now)


def trend_partials_stream(
    events,
    state_root: str,
    checkpoint: str,
    available_now: bool = True,
    token_horizon: int = 64,
    vacuum_every: int = 32,
):
    """Streaming maintenance of the OLS-trend sufficient statistics
    (``operators.stats.trend_partials``) — the pinned proof of the
    trend module's claim that "the same partials roll up across
    days/files/batches unchanged, which is how the trend would be
    maintained incrementally at 100 TB".

    Each micro-batch reduces to its per-type six-sum state (n, Σx, Σy,
    Σxy, Σx², Σy²) and merges into the SnapshotTable state with
    ``merge_trend_partials`` — EXACT integer addition, so drained
    stream state equals the whole-batch partials bit-for-bit
    (pytest-pinned) and ``trend_from_partials`` serves slope/
    intercept/r² off the state table at any point. Durable state is
    one row per event type forever; commit metadata is bounded the
    same way as the KMV stream (token horizon + periodic vacuum).

    Caveat vs the batch operator: batch groups x = calendar day over
    the WHOLE corpus, so a day split across micro-batches contributes
    one (x, y) point in batch but two partial points here. The pinned
    equality therefore feeds day-aligned micro-batches (the natural
    file cadence: daily drops). Mid-day cuts need a day-rollup before
    the merge — the day is derivable from x, so the fix is a groupBy
    in the writer, documented not implemented (the synthetic corpus
    ships whole files)."""
    from ..operators.stats import merge_trend_partials, trend_partials
    from ..storage.snapshots import SnapshotTable
    from pyspark.sql import functions as F

    def _write(batch_df, batch_id: int) -> None:
        tbl = SnapshotTable(batch_df.sparkSession, state_root)
        daily = batch_df.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("x"),
        ).agg(F.count("*").alias("y"))
        part = trend_partials(daily)
        snap = tbl.snapshot()
        merged = part if snap is None else merge_trend_partials(tbl.read(), part)
        tbl.overwrite(
            merged, keep_tokens=token_horizon, batch_token=f"b{batch_id}"
        )
        if vacuum_every and batch_id % vacuum_every == vacuum_every - 1:
            tbl.vacuum(keep_versions=2)

    return _start(events, _write, checkpoint, available_now)


def welch_partials_stream(
    events,
    state_root: str,
    checkpoint: str,
    available_now: bool = True,
    token_horizon: int = 64,
    vacuum_every: int = 32,
):
    """Streaming maintenance of the Welch t-test sufficient statistics
    (``operators.insights.welch_partials``): each micro-batch reduces
    to its two per-arm (n, Σv, Σv²) rows and merges into the
    SnapshotTable state by addition, so ``welch_from_partials`` serves
    the current t statistic off the state table at any time — the
    same mergeable-partials posture as ``trend_partials_stream``.

    Unlike the trend twin the sums are DOUBLES, so drained state
    equals the whole-batch partials to FP addition reordering
    (pytest pins rel 1e-9, and n exactly), not bit-for-bit. Durable
    state is two rows forever; commit metadata is bounded by the
    token horizon + periodic vacuum (the KMV-stream fix)."""
    from ..operators.insights import merge_welch_partials, welch_partials
    from ..storage.snapshots import SnapshotTable

    def _write(batch_df, batch_id: int) -> None:
        tbl = SnapshotTable(batch_df.sparkSession, state_root)
        part = welch_partials(batch_df)
        snap = tbl.snapshot()
        merged = part if snap is None else merge_welch_partials(tbl.read(), part)
        tbl.overwrite(
            merged, keep_tokens=token_horizon, batch_token=f"b{batch_id}"
        )
        if vacuum_every and batch_id % vacuum_every == vacuum_every - 1:
            tbl.vacuum(keep_versions=2)

    return _start(events, _write, checkpoint, available_now)


def user_type_counts_stream(
    events,
    state_root: str,
    checkpoint: str,
    available_now: bool = True,
    token_horizon: int = 64,
    vacuum_every: int = 32,
):
    """Streaming maintenance of the per-(user, event_type) count state
    behind the behavioral-entropy and bot-score operators
    (``operators.stats.events_user_entropy``,
    ``operators.events.events_bot_score``'s entropy signal): counts are
    the simplest mergeable sufficient statistic — per-batch counts ADD
    — so the durable state is one row per (user, type) pair and the
    drained stream equals the whole-batch counts exactly.

    Serving: ``entropy_from_counts(tbl.read())`` computes the same
    normalized Shannon entropy the batch operator emits, off the state
    table, with no re-scan of history — the 100 TB operating mode for
    a per-user signal over an append-only event stream. Commit
    metadata is bounded like the other state streams (token horizon +
    periodic vacuum)."""
    from ..storage.snapshots import SnapshotTable

    def _write(batch_df, batch_id: int) -> None:
        tbl = SnapshotTable(batch_df.sparkSession, state_root)
        part = (
            batch_df.where(F.col("user_id").isNotNull())
            .groupBy("user_id", "event_type")
            .agg(F.count("*").alias("c"))
        )
        snap = tbl.snapshot()
        if snap is None:
            merged = part
        else:
            merged = (
                tbl.read()
                .unionByName(part)
                .groupBy("user_id", "event_type")
                .agg(F.sum("c").alias("c"))
            )
        tbl.overwrite(
            merged, keep_tokens=token_horizon, batch_token=f"b{batch_id}"
        )
        if vacuum_every and batch_id % vacuum_every == vacuum_every - 1:
            tbl.vacuum(keep_versions=2)

    return _start(events, _write, checkpoint, available_now)


def entropy_from_counts(counts: DataFrame) -> DataFrame:
    """Finisher: normalized Shannon entropy per user from the
    (user_id, event_type, c) count state — the same fixed expression
    tree as the batch ``events_user_entropy``, so state-served values
    equal batch values exactly (pytest-pinned)."""
    t = counts.groupBy("user_id").agg(
        F.sum("c").alias("tot"), F.count("*").alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("tot").cast("double")
    ent = -F.sum(p * F.log(p))
    return (
        counts.join(t, "user_id")
        .groupBy("user_id", "n_types", "tot")
        .agg(
            F.round(ent, 4).alias("entropy"),
            F.when(F.col("n_types") == 1, F.lit(None).cast("double"))
            .otherwise(F.round(ent / F.log(F.col("n_types").cast("double")), 4))
            .alias("norm_entropy"),
        )
        .select(
            "user_id",
            "n_types",
            F.col("tot").alias("n_events"),
            "entropy",
            "norm_entropy",
        )
    )


def inverted_index_stream(
    docs,
    index_root: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming maintenance of the durable inverted index — the
    ingest topology of ``textindex.InvertedIndex``: each micro-batch
    tokenizes ONLY its own docs and appends postings + doc lengths
    under ``batch_id`` as the exactly-once token. Replay is a storage
    no-op on both tables, and a crash between the postings and
    doc-length commits self-heals on the replayed batch (the
    ``add_batch`` contract, pytest-pinned in ``test_incremental``) —
    so a drained stream serves EXACTLY what one-shot batch indexing
    would, and queries keep working mid-stream on whatever prefix has
    committed.

    Like the other index streams, state lives in the versioned tables
    — no state store, no watermark, per-batch cost tracks the batch.
    """
    from ..textindex import InvertedIndex

    def _write(batch_df, batch_id: int) -> None:
        idx = InvertedIndex(batch_df.sparkSession, index_root)
        idx.add_batch(
            batch_df.select("doc_id", "text"), batch_token=f"b{batch_id}"
        )

    return _start(docs, _write, checkpoint, available_now)


def expectations_gate_stream(
    rows,
    table_root: str,
    quarantine_path: str,
    checkpoint: str,
    expectations: list[tuple[str, str]] | None = None,
    available_now: bool = True,
):
    """Streaming WRITE-AUDIT-PUBLISH quality gate — the ingest topology
    of ``operators.expectations``: every micro-batch is STAGED first
    (``SnapshotTable.stage`` — no reader ever sees an unaudited row),
    the declarative expectation suite evaluates on the staged audit
    view in one conditional-sum pass, and only a fully-passing batch
    is PUBLISHED (atomic append, exactly-once token). A failing batch
    never touches the live chain: its rows land in a quarantine
    sidecar under ``batch_id=`` with the failed-expectation names
    attached, and the stage is discarded — the Delta expectations /
    Deequ ``VerificationSuite`` gate, on the lakehouse primitives this
    repo already certifies.

    ``expectations`` is a list of (name, VIOLATION predicate) pairs —
    engine-neutral SQL over the batch columns; defaults to the orders
    rows of ``operators.expectations.ROW_EXPECTATIONS``.

    Crash/replay contract, per path:

    - crash after publish: the batch token is in the live chain — the
      whole callback is a no-op on replay;
    - crash between stage and publish: the replay RESOLVES the pending
      stage by its token (never stages twice) and completes the
      audit+publish;
    - crash around a quarantine write: the replay re-audits the same
      staged rows to the same verdict and overwrites the quarantine
      partition byte-identically before discarding — idempotent.

    State is the table's manifest chain plus pending stage docs —
    metadata-scale; no state store, no watermark."""
    from ..storage.snapshots import SnapshotTable

    if expectations is None:
        from ..operators.expectations import ROW_EXPECTATIONS

        expectations = [
            (name, pred) for name, tbl, pred in ROW_EXPECTATIONS
            if tbl == "orders"
        ]

    def _write(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        t = SnapshotTable(spark, table_root)
        token = f"b{batch_id}"
        snap = t.snapshot()
        if snap is not None and token in snap.batch_tokens:
            return  # replay of a published batch
        sid = next(
            (
                s
                for s in t.staged()
                if t._staged_doc(s).get("batch_token") == token
            ),
            None,
        ) or t.stage(batch_df, batch_token=token)
        staged = t.read_staged(sid)
        viol = staged.agg(
            *[
                F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(f"v{i}")
                for i, (_, pred) in enumerate(expectations)
            ]
        ).first()
        failed = [
            name
            for i, (name, _) in enumerate(expectations)
            if (viol[f"v{i}"] or 0) > 0
        ]
        if not failed:
            t.publish(sid)
            return
        staged.withColumn(
            "_failed_expectations", F.lit(",".join(failed))
        ).write.mode("overwrite").parquet(
            f"{quarantine_path}/batch_id={batch_id}"
        )
        t.discard(sid)

    return _start(rows, _write, checkpoint, available_now)


def cdc_apply_stream(
    changes,
    table_root: str,
    checkpoint: str,
    key: str,
    order_col: str,
    op_col: str = "_op",
    available_now: bool = True,
):
    """Streaming CDC APPLY — the ingest topology of
    ``SnapshotTable.apply_changes``: each micro-batch of I/U/D change
    rows applies as ONE manifest-pruned copy-on-write commit
    (latest-wins per key by ``order_col``, deletes honored, STALE
    upserts correctly ignored — the applied-effect contract the r10
    advice fixed), with ``changelog=True`` so every commit records its
    retraction sidecar and a downstream ``RollupView`` folds the feed
    instead of rebuilding. This is the Delta Live Tables
    ``APPLY CHANGES INTO`` topology end to end: change stream → merged
    fact → incrementally-maintained aggregate, all on the certified
    primitives.

    Exactly-once: ``batch_id`` is the commit token (replay of an
    applied batch is a storage no-op — verdicts, feed and fact all
    stand); ``keep_tokens=8`` bounds the carried chain to the replay
    horizon (the RollupView/Bloom valve). State is the manifest chain —
    no state store, no watermark; per-batch cost tracks the CHANGED-key
    file footprint via the stats-column manifest pruning."""
    from ..storage.snapshots import SnapshotTable

    def _write(batch_df, batch_id: int) -> None:
        t = SnapshotTable(batch_df.sparkSession, table_root, stats_col=key)
        t.apply_changes(
            batch_df,
            key=key,
            order_col=order_col,
            op_col=op_col,
            batch_token=f"b{batch_id}",
            keep_tokens=8,
            changelog=True,
        )

    return _start(changes, _write, checkpoint, available_now)


def target_encoder_stream(
    orders,
    customer_dim,
    state_root: str,
    checkpoint: str,
    available_now: bool = True,
    token_horizon: int = 64,
    vacuum_every: int = 32,
    threshold: float = 250_000.0,
):
    """Streaming maintenance of the target-encoder sufficient
    statistics — the online-feature-store twin of
    ``operators.features.ml_target_encoding``: the encoder's FIT state
    is just per-category (n, n_pos), which is mergeable integer
    addition, so a stream of label-bearing facts keeps the encoder
    fresh without ever re-scanning history.

    Each micro-batch broadcast-joins the category dim, reduces to the
    per-category pair, and integer-merges into the SnapshotTable
    state (same fold shape as ``trend_partials_stream``); drained
    state equals the whole-batch fit bit-for-bit (pytest-pinned) and
    ``operators.features.target_encoder_from_state`` serves the same
    smoothed encoding the batch entry computes, at any point
    mid-stream. Durable state is category-cardinality rows forever;
    commit metadata is bounded by the token horizon + periodic
    vacuum like every partials stream here."""
    from pyspark.sql import functions as F

    from ..storage.snapshots import SnapshotTable

    def _write(batch_df, batch_id: int) -> None:
        tbl = SnapshotTable(batch_df.sparkSession, state_root)
        part = (
            batch_df.join(
                F.broadcast(customer_dim),
                batch_df.o_custkey == customer_dim.c_custkey,
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    F.when(F.col("o_totalprice") > threshold, 1).otherwise(0)
                )
                .cast("long")
                .alias("n_pos"),
            )
        )
        snap = tbl.snapshot()
        if snap is not None:
            part = (
                tbl.read()
                .unionByName(part)
                .groupBy("c_mktsegment")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("n_pos").cast("long").alias("n_pos"),
                )
            )
        tbl.overwrite(
            part, keep_tokens=token_horizon, batch_token=f"b{batch_id}"
        )
        if vacuum_every and batch_id % vacuum_every == vacuum_every - 1:
            tbl.vacuum(keep_versions=2)

    return _start(orders, _write, checkpoint, available_now)
