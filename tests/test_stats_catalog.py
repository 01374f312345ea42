"""Invariants for storage/stats_catalog.py — the durable ANALYZE
artifact behind the audit gauges' manifest-stats claims."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_to_lakehouse_spark.storage.stats_catalog import (
    CATALOG_K,
    StatsCatalog,
)
from event_to_lakehouse_spark.tables import load_tables

SF = "/root/testdata/sf0.001"


def test_incremental_analyze_equals_one_pass(spark, tmp_dir):
    """The KMV merge law realized: analyzing customer in 3 batches
    yields the SAME merged sketch, NDV estimate, and advice row as
    one full-table pass — the catalog never needs a re-scan."""
    t = load_tables(spark, SF)
    cust, orders = t["customer"], t["orders"]

    inc = StatsCatalog(spark, f"{tmp_dir}/inc")
    for i in range(3):
        inc.analyze(
            "customer", cust.where(F.col("c_custkey") % 3 == i),
            ["c_custkey"], batch_token=f"customer:{i}",
        )
    inc.analyze("orders", orders, ["o_custkey"], batch_token="orders:all")

    one = StatsCatalog(spark, f"{tmp_dir}/one")
    one.analyze("customer", cust, ["c_custkey"], batch_token="customer:all")
    one.analyze("orders", orders, ["o_custkey"], batch_token="orders:all")

    est_inc = inc.ndv_estimate("customer", "c_custkey").collect()[0].est
    est_one = one.ndv_estimate("customer", "c_custkey").collect()[0].est
    assert est_inc == est_one
    a = inc.advise_join("customer", "c_custkey", "orders", "o_custkey").collect()
    b = one.advise_join("customer", "c_custkey", "orders", "o_custkey").collect()
    assert a == b


def test_ndv_estimate_accuracy_and_exact_rows(spark, tmp_dir):
    """Rows are exact; the KMV NDV estimate lands within the sketch's
    ~3/sqrt(K-1) band of the true distinct count."""
    t = load_tables(spark, SF)
    cust = t["customer"]
    cat = StatsCatalog(spark, f"{tmp_dir}/acc")
    cat.analyze("customer", cust, ["c_custkey"], batch_token="c")
    n = cust.count()
    ndv = cust.select("c_custkey").distinct().count()
    assert cat.row_stats("customer").collect()[0].n_rows == n
    est = cat.ndv_estimate("customer", "c_custkey").collect()[0].est
    tol = 3.0 / (CATALOG_K - 1) ** 0.5
    assert abs(est - ndv) <= max(tol * ndv, 1.0)


def test_advise_is_metadata_only(spark, tmp_dir):
    """After analyze, advise_join's plan reads ONLY catalog files —
    the source tables are never rescanned."""
    t = load_tables(spark, SF)
    cat = StatsCatalog(spark, f"{tmp_dir}/meta")
    cat.analyze("customer", t["customer"], ["c_custkey"], batch_token="c")
    cat.analyze("orders", t["orders"], ["o_custkey"], batch_token="o")
    advise = cat.advise_join("customer", "c_custkey", "orders", "o_custkey")
    files = advise.inputFiles()
    assert files, "plan should read the catalog tables"
    for f in files:
        assert f"{tmp_dir}/meta" in f  # catalog roots only
        assert "testdata" not in f


def test_replay_tokens_and_crash_heal(spark, tmp_dir):
    """Replayed tokens no-op on both artifacts; a crash between the
    counts and sketches commits self-heals on the retried analyze."""
    t = load_tables(spark, SF)
    cust = t["customer"]
    cat = StatsCatalog(spark, f"{tmp_dir}/tok")
    cat.analyze("customer", cust, ["c_custkey"], batch_token="b0")
    vc = cat.counts_table.snapshot().version
    vs = cat.sketches_table.snapshot().version
    cat.analyze("customer", cust, ["c_custkey"], batch_token="b0")
    assert cat.counts_table.snapshot().version == vc
    assert cat.sketches_table.snapshot().version == vs

    # simulate the crash: counts committed, sketches not
    cat.counts_table.append(
        spark.createDataFrame([("orders", 0)], ["tbl", "n_rows"]),
        batch_token="crash",
    )
    cat.analyze("orders", t["orders"], ["o_custkey"], batch_token="crash")
    assert "crash" in cat.counts_table.snapshot().batch_tokens
    assert "crash" in cat.sketches_table.snapshot().batch_tokens
    # the retry must not have double-counted the counts commit
    n = (
        cat.counts_table.read()
        .where(F.col("tbl") == "orders")
        .agg(F.count(F.lit(1)))
        .collect()[0][0]
    )
    assert n == 1


def test_maintain_bounds_state_and_preserves_answers(spark, tmp_dir):
    """maintain() folds sketches to <= keys x k rows, keeps every
    answer identical, and replay protection survives the rewrite."""
    t = load_tables(spark, SF)
    cat = StatsCatalog(spark, f"{tmp_dir}/mnt")
    for i in range(4):
        cat.analyze(
            "customer", t["customer"].where(F.col("c_custkey") % 4 == i),
            ["c_custkey"], batch_token=f"customer:{i}",
        )
    cat.analyze("orders", t["orders"], ["o_custkey"], batch_token="orders:all")
    rows_before = cat.sketches_table.read().count()
    before = cat.advise_join(
        "customer", "c_custkey", "orders", "o_custkey"
    ).collect()
    removed = cat.maintain()
    assert removed >= 0
    rows_after = cat.sketches_table.read().count()
    assert rows_after <= 2 * CATALOG_K  # (tbl, key) groups x k
    assert rows_after <= rows_before
    after = cat.advise_join(
        "customer", "c_custkey", "orders", "o_custkey"
    ).collect()
    assert after == before
    v = cat.sketches_table.snapshot().version
    cat.analyze(
        "customer", t["customer"].where(F.col("c_custkey") % 4 == 0),
        ["c_custkey"], batch_token="customer:0",
    )
    assert cat.sketches_table.snapshot().version == v


def test_reads_pin_token_consistent_frontier(spark, tmp_dir):
    """ADVICE r10 (medium): analyze commits two tables under one
    token; a reader that finds one table ahead of the other must not
    combine row counts that include a batch with k-min states that
    exclude it (or the reverse). row_stats /
    ndv_estimate / advise_join pin both artifacts to the newest
    token-consistent frontier, so mid-gap reads equal pre-batch reads."""
    t = load_tables(spark, SF)
    cat = StatsCatalog(spark, f"{tmp_dir}/pin")
    cat.analyze("customer", t["customer"], ["c_custkey"], batch_token="b0")
    cat.analyze("orders", t["orders"], ["o_custkey"], batch_token="b1")
    before_rows = cat.row_stats("orders").collect()[0]["n_rows"]
    before_ndv = cat.ndv_estimate("orders", "o_custkey").collect()[0]["est"]

    # open the gap: a counts-only commit for a doubled orders batch
    cat.counts_table.append(
        spark.createDataFrame([("orders", 999_999)], ["tbl", "n_rows"]),
        batch_token="gap",
    )
    assert cat.row_stats("orders").collect()[0]["n_rows"] == before_rows
    assert (
        cat.ndv_estimate("orders", "o_custkey").collect()[0]["est"]
        == before_ndv
    )

    # the crash retry completes the batch (counts commit skips on its
    # token, sketches commit lands): both artifacts now serve it
    cat.analyze("orders", t["orders"], ["o_custkey"], batch_token="gap")
    assert (
        cat.row_stats("orders").collect()[0]["n_rows"]
        == before_rows + 999_999
    )


def test_advised_join_plan_flips_with_stats(spark, tmp_dir):
    """ACTIONABLE CBO (VERDICT r11 #4): advised_join must CONSTRUCT the
    join the catalog recommends, and the physical plan must FLIP when
    the catalog's stats flip — small dim stats → BroadcastHashJoin (no
    shuffle), fact-sized stats on both sides → SortMergeJoin. The
    values are identical either way (pinned here too), which is what
    lets the registry oracle stay strategy-invariant."""
    from event_to_lakehouse_spark.storage.stats_catalog import BROADCAST_ROWS

    dim = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    fact = spark.range(0, 5000).select(
        (F.col("id") % 200).alias("k"), F.col("id").alias("v")
    )

    small = StatsCatalog(spark, f"{tmp_dir}/small")
    small.analyze("dim", dim, ["k"], batch_token="d")
    small.analyze("fact", fact, ["k"], batch_token="f")
    joined, adv = small.advised_join(dim, "dim", "k", fact, "fact", "k")
    assert adv["strategy"] == "broadcast"
    assert adv["build_side"] == "left"
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    vals_bhj = sorted(tuple(r) for r in joined.collect())

    # same data, BIG stats: pad the catalog's counts past the broadcast
    # bound on BOTH sides (counts are per-batch rows; the advice reads
    # the metadata sum — the honest 100 TB shape without 100 TB data)
    big = StatsCatalog(spark, f"{tmp_dir}/big")
    big.analyze("dim", dim, ["k"], batch_token="d")
    big.analyze("fact", fact, ["k"], batch_token="f")
    pad = spark.createDataFrame(
        [("dim", BROADCAST_ROWS), ("fact", BROADCAST_ROWS)],
        ["tbl", "n_rows"],
    )
    big.counts_table.append(pad, batch_token="pad")
    big.sketches_table.append(  # keep the token frontier consistent
        big.sketches_table.read().limit(0), batch_token="pad"
    )
    joined2, adv2 = big.advised_join(dim, "dim", "k", fact, "fact", "k")
    assert adv2["strategy"] == "sort_merge"
    plan2 = joined2._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan2
    # strategy-invariance: identical rows under either physical plan
    assert sorted(tuple(r) for r in joined2.collect()) == vals_bhj
