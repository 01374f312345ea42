"""Plan-shape regression tests: pin the physical-plan facts the 100 TB
design depends on (pushdown, pruning, broadcast choices, shuffle
counts). A failure here is a performance regression even if results
stay correct."""

from __future__ import annotations

import pytest

from event_to_lakehouse_spark.catalog import QUERIES  # master registry
from event_to_lakehouse_spark.plans import audit_plan
from event_to_lakehouse_spark.plans.audit import pushed_filter_columns

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return dict(QUERIES)


def test_q1_single_shuffle_pushdown(spark, qs):
    a = audit_plan(qs["q1_pricing_summary"](spark, SF_DIR))
    # one shuffle for the groupBy; partial (map-side) aggregation before it
    assert a.shuffle_exchanges == 1
    assert a.has_partial_aggregate
    assert "l_shipdate" in pushed_filter_columns(a)


def test_q6_scan_prunes_columns(spark, qs):
    a = audit_plan(qs["q6_revenue_forecast"](spark, SF_DIR))
    # global agg: one all-to-one exchange carrying one partial row per
    # partition — constant bytes regardless of input size
    assert a.shuffle_exchanges == 1
    cols = pushed_filter_columns(a)
    assert {"l_shipdate", "l_discount", "l_quantity"} <= cols
    # projection pruning: the scan must not read all 11 lineitem columns
    assert a.read_schemas and "l_returnflag" not in a.read_schemas[0]


def test_q3_dimensions_broadcast(spark, qs):
    a = audit_plan(qs["q3_shipping_priority"](spark, SF_DIR))
    assert a.broadcast_hash_joins >= 1
    assert a.sort_merge_joins == 0  # no fact-fact sort-merge at this shape
    assert a.take_ordered  # top-k must be TakeOrderedAndProject, not global sort


def test_q5_all_dims_broadcast(spark, qs):
    a = audit_plan(qs["q5_region_revenue"](spark, SF_DIR))
    assert a.broadcast_hash_joins >= 2  # region + nation (at least)


def test_topk_never_global_sort(spark, qs):
    a = audit_plan(qs["sort_limit_topk"](spark, SF_DIR))
    assert a.take_ordered


def test_ann_bruteforce_corpus_not_shuffled(spark, qs):
    """The corpus side must stay partition-local: query set broadcast,
    no shuffle before scoring (only the final window/top-k may
    exchange)."""
    a = audit_plan(qs["ann_bruteforce_topk"](spark, SF_DIR))
    assert a.nested_loop_joins + a.broadcast_hash_joins >= 1
    assert a.sort_merge_joins == 0


def test_jaccard_pairs_equi_join(spark, qs):
    """Candidate pairing must be an equi-join on the block key — never
    a nested-loop cross product."""
    a = audit_plan(qs["dedup_ngram_jaccard"](spark, SF_DIR))
    assert a.nested_loop_joins == 0


def test_normalization_is_narrow(spark, rapid7_bronze):
    """The bronze→silver contract pipeline is scan→filter→project:
    zero shuffles at any scale."""
    from event_to_lakehouse_spark.pipeline.contracts import RAPID7_MAPPING
    from event_to_lakehouse_spark.pipeline.normalize import (
        apply_mapping,
        read_bronze,
    )
    from tests.test_pipeline_golden import RAPID7_SCHEMA

    silver = apply_mapping(
        read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA), RAPID7_MAPPING
    )
    a = audit_plan(silver)
    assert a.shuffle_exchanges == 0
    assert a.exchanges == 0


def test_q9_star_join_dims_broadcast(spark, qs):
    """Q9's 5-table star: supplier/part/nation must broadcast; the only
    permissible shuffle joins are on the lineitem-orders fact spine."""
    a = audit_plan(qs["q9_product_profit"](spark, SF_DIR))
    assert a.broadcast_hash_joins >= 3
    assert a.sort_merge_joins + a.shuffled_hash_joins <= 1
    assert a.nested_loop_joins == 0


def test_q21_self_joins_are_equi(spark, qs):
    """Q21's EXISTS/NOT EXISTS self-joins must plan as equi semi/anti
    joins on l_orderkey (the <> residual must not force nested-loop)."""
    a = audit_plan(qs["q21_waiting_suppliers"](spark, SF_DIR))
    assert a.nested_loop_joins == 0


def test_q16_exclusion_broadcasts(spark, qs):
    """The NOT IN exclusion list is a dimension subset: it must ride a
    broadcast anti-join, never a shuffle."""
    a = audit_plan(qs["q16_supplier_part_counts"](spark, SF_DIR))
    assert a.broadcast_hash_joins >= 2
    assert a.sort_merge_joins == 0
    assert a.has_partial_aggregate


def test_q2_scalar_subquery_broadcasts(spark, qs):
    """The decorrelated per-part MIN aggregate joins back by broadcast;
    no fact-fact sort-merge anywhere in the plan."""
    a = audit_plan(qs["q2_min_cost_per_part"](spark, SF_DIR))
    assert a.broadcast_hash_joins >= 3
    assert a.sort_merge_joins == 0


def test_window_analytics_single_exchange(spark, qs):
    """Eleven analytic functions, ONE shuffle: every window spec shares
    the o_custkey partitioning, so Catalyst must reuse a single
    exchange (regression guard for the §2.5 combo)."""
    a = audit_plan(qs["window_analytics"](spark, SF_DIR))
    assert a.shuffle_exchanges == 1


def test_join_semi_anti_all_broadcast(spark, qs):
    """Semi + anti over the same key: both existence joins broadcast
    the filtered side — zero shuffles end to end."""
    a = audit_plan(qs["join_semi_anti"](spark, SF_DIR))
    assert a.broadcast_hash_joins == 2
    assert a.shuffle_exchanges == 0


def test_dedup_exact_one_shuffle(spark, qs):
    """Fingerprint dedup: one 32-byte-key shuffle for the group, then a
    broadcast join-back — never a second exchange of document rows."""
    a = audit_plan(qs["dedup_exact"](spark, SF_DIR))
    assert a.shuffle_exchanges == 1
    assert a.broadcast_hash_joins >= 1


def test_agg_distinct_stats_no_expand_percentile_mix(spark, qs):
    """The distinct counts and the exact percentiles must stay in
    SEPARATE aggregations (split shape): mixing them Expands the input
    3x and drags percentile object-buffers through the distinct
    shuffle (measured 5-9s vs ~1s at sf0.1). One Expand (distincts),
    percentile aggregate NOT downstream of it."""
    a = audit_plan(qs["agg_distinct_stats"](spark, SF_DIR))
    assert a.text.count("Expand") <= 2  # tree + detail render once each
    # percentile runs in its own arm: an ObjectHashAggregate whose
    # input comes straight from the scan, never from Expand output
    import re

    expand_ids = re.findall(r"\((\d+)\) Expand", a.text)
    pct_sections = re.findall(
        r"\(\d+\) ObjectHashAggregate[\s\S]*?partial_percentile", a.text
    )
    assert pct_sections, "percentile arm missing"
    for sec in pct_sections:
        for eid in expand_ids:
            assert f"Expand (#{eid})" not in sec


def test_multimodal_transform_no_shuffle(spark, qs):
    """Both mapInPandas transforms are partition-local; the tagged
    union must not introduce any exchange."""
    a = audit_plan(qs["multimodal_transform"](spark, SF_DIR))
    assert a.shuffle_exchanges == 0


def test_corpus_curation_single_dedup_shuffle(spark, qs):
    """The end-to-end curation chain: enrich/filter/sample are
    partition-local; the only exchanges belong to the dedup groupBy
    and the small final mix aggregation."""
    a = audit_plan(qs["corpus_curation"](spark, SF_DIR))
    assert a.shuffle_exchanges <= 3


def test_plan_policy_no_unexpected_nested_loops(spark, qs):
    """Fleet-wide plan policy over the ENTIRE driver catalog: nested-
    loop joins appear ONLY where they are the intended algorithm
    (broadcast-NL of a scalar/centroid/query set or an explicit
    dim×dim cross join), and a CartesianProduct appears nowhere. Any
    new catalog entry that accidentally plans an unbounded pair-up
    fails here before it ships."""
    from event_to_lakehouse_spark.catalog import driver_queries

    BNLJ_ALLOWED = {
        "ann_bruteforce_topk",      # corpus × broadcast query set (the algorithm)
        "ann_ivf_topk",             # corpus × broadcast centroid set (assignment)
        # r5 promotions — scalar/tiny broadcast-NL is the intended plan:
        "agg_quantile_histogram",   # rows × broadcast 1-row (mn,mx) bounds
        "agg_hll_portable_merge",   # register sum × broadcast 1-row partial count
        "corpus_domain_mix",        # corpus × broadcast per-domain rate table
        # r5 consolidation promotions — same intended patterns:
        "ann_hard_negatives",       # corpus × broadcast anchor set (as bruteforce)
        "text_tfidf_topterms",      # tf rows × broadcast 1-row source count
        # late-r6 promotions — scalar 1-row broadcast crossJoins:
        "market_basket_rules",      # ≤600 pair rows × broadcast 1-row txn total
        "survival_kaplan_meier",    # day rows × broadcast 1-row cohort size
        # r10 seat swaps — same intended patterns:
        "ann_ivfpq_index_persisted",  # corpus × broadcast centroid set (assignment)
        "text_bm25_index_persisted",  # postings × broadcast 1-row corpus stats
        # r12 seat swap — the hybrid entry composes BOTH allowlisted
        # seats above, so it inherits exactly their intended
        # broadcast-NL sites (centroid assignment + 1-row BM25 stats):
        "retrieval_hybrid_index_persisted",
        # r13 seat swap — same scalar pattern as the r5 rows above:
        "ml_target_encoding",  # 5 category rows × broadcast 1-row prior totals
        # r14 seat swap — dim-row iteration frames × broadcast 1-row
        # scalars (norm per iteration, eigenvalue, n_vecs):
        "emb_pca_power_iteration",
    }
    offenders, cartesian = [], []
    for name, fn in driver_queries().items():
        a = audit_plan(fn(spark, SF_DIR))
        if a.nested_loop_joins and name not in BNLJ_ALLOWED:
            offenders.append(name)
        if "CartesianProduct" in a.text:
            cartesian.append(name)
    assert offenders == [], f"unexpected nested-loop joins: {offenders}"
    assert cartesian == [], f"cartesian products: {cartesian}"


def test_incremental_index_probes_never_shuffle_the_index(spark, tmp_dir):
    """The durable-index probe contract, pinned at the plan level: the
    held index enters each probe as a broadcast-probed scan — zero
    SortMergeJoin anywhere, every join broadcast-built; the only
    shuffles belong to BATCH-side aggregation/ranking. A regression
    that makes the index ride a shuffle fails here."""
    from unittest import mock

    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex
    from event_to_lakehouse_spark.similarity.ivf_index import IVFIndex
    from event_to_lakehouse_spark.tables import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    edi = ExactDedupIndex(spark, f"{tmp_dir}/ex")
    edi.index_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_token="held")
    # The probe result is served off the LOCAL CHECKPOINT of the
    # per-document resolution, so its own plan is a scan of that
    # checkpoint; the probe's joins live in the frame index_batch
    # checkpoints, which is the plan audited here.
    checkpointed = []
    real = ClassicDataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    with mock.patch.object(ClassicDataFrame, "localCheckpoint", spy):
        edi.index_batch(docs.filter(F.col("doc_id") % 2 == 1), batch_token="new")
    (resolution,) = checkpointed
    a = audit_plan(resolution)
    assert a.sort_merge_joins == 0
    assert a.broadcast_hash_joins >= 1  # the fp semi-probe + resolution
    # The only batch-side shuffle is the survivor window over fp; the
    # checkpoint call has already run the adaptive plan's stages, so
    # the formatted plan lists that exchange in both its initial and
    # its final plan. The INDEX side never shuffles — which the
    # sort_merge_joins == 0 assertion pins.
    assert a.shuffle_exchanges <= 2

    emb = load_tables(spark, SF_DIR)["embeddings"].select("vec_id", "embedding")
    ivf = IVFIndex.build(spark, f"{tmp_dir}/ivf", emb, cent_stride=50)
    q = ivf.query(emb.filter(F.col("vec_id") < 5), k=10, n_probe=3)
    a = audit_plan(q)
    assert a.sort_merge_joins == 0
    assert a.broadcast_hash_joins >= 1  # the query-cell probe join
    # every shuffle is QUERY-side (query-affinity window, pair dedup,
    # final rank) — bounded by the query set, never by the index
    assert a.shuffle_exchanges <= 3


def test_corr_matrix_single_scan_single_agg(spark, qs):
    """All six correlation pairs must come from ONE scan of lineitem
    (a per-pair union would plan six scans — the struct-array explode
    keeps it to one aggregate branch)."""
    from event_to_lakehouse_spark.plans import audit_plan

    import re

    a = audit_plan(qs["stats_corr_matrix"](spark, SF_DIR))
    scans = re.findall(r"^\(\d+\) Scan", a.text, re.MULTILINE)
    assert len(scans) == 1
    assert a.has_partial_aggregate
    assert a.exchanges <= 1  # the single-partition final agg


def test_graph_queries_use_equi_joins_only(spark, qs):
    """The graph family must never fall back to nested-loop joins:
    wedge/orientation/rank joins are all equi-keyed."""
    from event_to_lakehouse_spark.plans import audit_plan

    for name in (
        "graph_pagerank_parts",
        "graph_triangle_count",
        "graph_link_prediction",
        "graph_link_prediction_capped",
    ):
        a = audit_plan(qs[name](spark, SF_DIR))
        assert a.nested_loop_joins == 0, name


def test_link_prediction_wedge_exchange_pinned(spark, qs):
    """The CANDIDATE-PAIR exchange (wedge output, keyed (a, c)) must
    carry REPARTITION_BY_NUM origin so AQE cannot coalesce it — the
    r13 cpu_min alarm was AQE sizing that exchange from session-
    varying map statistics, landing the candidate pipeline on a
    session-varying task count (BENCH_NOTES.md). The pin REPLACES the
    AQE-managed exchange: (a, c) is the anti-join/groupBy key, so both
    downstream operators must reuse the pinned partitioning (no second
    fact-sized exchange after it)."""
    from event_to_lakehouse_spark.plans import audit_plan

    a = audit_plan(qs["graph_link_prediction_capped"](spark, SF_DIR))
    assert a.text.count("REPARTITION_BY_NUM") >= 1, (
        "candidate-pair exchange lost its explicit-count pin:\n"
        + a.text[:2000]
    )
    assert a.nested_loop_joins == 0


def test_er_fuzzy_blocks_before_distance(spark, qs):
    """ER pair generation must be an equi-join on the blocking key —
    Levenshtein runs as a post-join filter, never as a join condition
    that degrades to a nested loop."""
    from event_to_lakehouse_spark.plans import audit_plan

    a = audit_plan(qs["er_fuzzy_part_matches"](spark, SF_DIR))
    assert a.nested_loop_joins == 0


def test_key_skew_profile_one_scan_two_exchanges(spark, qs):
    """The skew gauge must diagnose, not cause, a scan storm: every
    profiled column rides ONE stack-unpivot scan of the fact table
    (never one scan per column), and the only exchanges are the
    key-cardinality groupBy plus the per-column rollup."""
    from event_to_lakehouse_spark.catalog import QUERIES as REG

    a = audit_plan(REG["ops_key_skew_profile"](spark, SF_DIR))
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", a.text, re.MULTILINE)
    assert len(scans) == 1, f"expected 1 fact scan, saw {len(scans)}"
    assert a.shuffle_exchanges == 2


def test_interval_overlap_bucketed_equi_join_reuses_exchange(spark, qs):
    """The interval×interval overlap join must run as a BUCKETED
    equi-join (never a per-key nested loop/cartesian), and — because
    both self-join inputs keep identical column names through the
    (custkey, bucket) exchange — the runtime plan must materialize the
    span derivation ONCE and feed the second side from a
    ReusedExchange."""
    df = qs["join_interval_overlap"](spark, SF_DIR)
    a = audit_plan(df)
    assert a.nested_loop_joins == 0
    assert "CartesianProduct" not in a.text
    # equi-join on (custkey, bucket): SMJ or shuffled-hash, by size
    assert a.sort_merge_joins + a.shuffled_hash_joins >= 1
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, "span subplan materialized twice"


def test_asof_nearest_equi_join_with_band_residual(spark, qs):
    """direction='nearest' as-of: equi join on user_id with the
    tolerance band as residual — the candidate set is bounded, the
    join never degrades to a nested loop."""
    a = audit_plan(qs["join_asof_nearest"](spark, SF_DIR))
    assert a.nested_loop_joins == 0
    assert "CartesianProduct" not in a.text


def test_compaction_plan_one_scan_two_exchanges(spark, qs):
    """The compaction-ledger twin: ONE fact scan builds the per-
    (year, month) file ledger; the only exchanges are the ledger
    groupBy and the per-partition packing window — the window sorts
    file-count-scale rows, never data-scale."""
    import re

    a = audit_plan(qs["ops_compaction_plan"](spark, SF_DIR))
    scans = re.findall(r"^\(\d+\) Scan parquet", a.text, re.MULTILINE)
    assert len(scans) == 1
    assert a.shuffle_exchanges == 2


def test_pq_pipeline_broadcast_only(spark, qs):
    """PQ encode + ADC + re-rank must never sort-merge: the codebook,
    LUTs, shortlist, and query vectors are all broadcast; the only
    shuffles are the argmin partial-agg groupBy and the final
    per-query window."""
    a = audit_plan(qs["ann_pq_rerank_topk"](spark, SF_DIR))
    assert a.sort_merge_joins == 0
    assert a.broadcast_hash_joins >= 3  # codebook, LUT, shortlist/query
    assert a.has_partial_aggregate  # struct-min argmin combines map-side


def test_zorder_gauge_projection_only(spark, qs):
    """The layout gauge is projection + one aggregation: no join, no
    window, and the Morton arithmetic stays in the scan projection."""
    a = audit_plan(qs["ops_zorder_pruning_gauge"](spark, SF_DIR))
    assert a.broadcast_hash_joins + a.sort_merge_joins + a.nested_loop_joins == 0
    assert a.has_partial_aggregate


def test_bloom_gauge_no_sort_merge(spark, qs):
    """Bitmap build and probe ride broadcast joins end-to-end — at
    100 TB neither the bitmap nor the verdicts may shuffle the batch."""
    a = audit_plan(qs["dedup_bloom_prefilter"](spark, SF_DIR))
    assert a.sort_merge_joins == 0
    assert a.broadcast_hash_joins >= 2  # words probe + verdict rejoin


def test_bucketed_rank_plans_no_single_partition_sort(spark):
    """ADVICE r12 plan pin: the bucketed branch of
    `_global_row_numbers` must never funnel the input through a
    SinglePartition exchange (the scale-killer the helper replaces) —
    its row_number window is hash-partitioned by bucket and the only
    global order left is over the B-row offset frame. The direct
    branch IS a single-partition sort by design (size-gated); pin the
    bucketed one."""
    from pyspark.sql import functions as F

    from event_to_lakehouse_spark.operators.stats import (
        _global_row_numbers,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 97).cast("double").alias("value"),
        F.col("id").alias("event_id"),
    )
    ranked = _global_row_numbers(
        df, "value", "event_id", force_bucketed=True
    )
    ranked.write.format("noop").mode("overwrite").save()
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # the window sort must be bucket-partitioned: every exchange that
    # feeds data-sized operators is hashpartitioning; SinglePartition
    # may appear only for the <= B-row offsets/splits scalar frames
    import re

    singles = [
        ln
        for ln in plan.splitlines()
        if "Exchange SinglePartition" in ln
    ]
    # the offsets prefix-sum runs over the <= n_buckets count frame —
    # that tiny frame is the only SinglePartition allowed, and it is
    # fed by a partial-agg HashAggregate, never by the raw input
    assert len(singles) <= 1, plan
    assert "hashpartitioning(_bkt" in plan, plan
