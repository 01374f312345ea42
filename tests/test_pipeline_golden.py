"""Golden tests for the bronze→silver normalization pipeline
(FIXTURES.md §B): pins the reference-faithful contract semantics."""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_to_lakehouse_spark.pipeline.contracts import (
    FORTISIEM_MAPPING,
    RAPID7_MAPPING,
    SILVER_ASSETS_CONTRACT,
)
from event_to_lakehouse_spark.pipeline.normalize import (
    apply_mapping,
    read_bronze,
    silver_union,
    start_silver_stream,
    write_silver_batch,
)
from tests.conftest import drain

RAPID7_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("ip", T.StringType()),
        T.StructField("hostName", T.StringType()),
        T.StructField(
            "addresses", T.ArrayType(T.StructType([T.StructField("ip", T.StringType())]))
        ),
        T.StructField("assessedForPolicies", T.BooleanType()),
        T.StructField("assessedForVulnerabilities", T.BooleanType()),
        T.StructField("os", T.StringType()),
        T.StructField("osCertainty", T.StringType()),
        T.StructField(
            "osFingerprint",
            T.StructType(
                [
                    T.StructField("architecture", T.StringType()),
                    T.StructField("family", T.StringType()),
                    T.StructField("vendor", T.StringType()),
                    T.StructField("product", T.StringType()),
                    T.StructField(
                        "cpe", T.StructType([T.StructField("version", T.StringType())])
                    ),
                ]
            ),
        ),
        T.StructField("riskScore", T.DoubleType()),
        T.StructField("rawRiskScore", T.DoubleType()),
        T.StructField(
            "vulnerabilities",
            T.StructType(
                [
                    T.StructField("total", T.IntegerType()),
                    T.StructField("critical", T.IntegerType()),
                    T.StructField("severe", T.IntegerType()),
                    T.StructField("moderate", T.IntegerType()),
                    T.StructField("exploits", T.IntegerType()),
                    T.StructField("malwareKits", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FORTI_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StructType([T.StructField("$oid", T.StringType())])),
        T.StructField("accessIp", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("naturalId", T.StringType()),
        T.StructField("approved", T.BooleanType()),
        T.StructField("unmanaged", T.BooleanType()),
        T.StructField(
            "deviceType",
            T.StructType(
                [
                    T.StructField("vendor", T.StringType()),
                    T.StructField("model", T.StringType()),
                    T.StructField("version", T.StringType()),
                ]
            ),
        ),
    ]
)

CONTRACT_COLS = [name for name, _ in SILVER_ASSETS_CONTRACT]


def test_rapid7_golden(spark, rapid7_bronze):
    bronze = read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA)
    silver = apply_mapping(bronze, RAPID7_MAPPING)
    rows = {r.rapid7_id: r for r in silver.collect()}

    # corrupt record excluded; 2 clean rows survive
    assert len(rows) == 2
    assert silver.columns == CONTRACT_COLS  # ordered 32-col contract

    r = rows["101"]
    assert r.source_system == "rapid7"
    # nested extraction incl. 3-deep cpe.version
    assert r.os_version == "22.04" and r.os_family == "Linux"
    assert r.os_certainty == 0.85  # string→double cast
    assert r.vuln_total == 12 and r.vuln_malware_kits == 0
    # fortisiem-only fields are typed NULLs
    assert r.fortisiem_id is None and r.approved is None and r.device_vendor is None
    # uid: lower(trim(host))|lower(trim(ip))|raw id — reference :139-149
    expected = hashlib.sha256(b"web-01|10.0.0.1|101").hexdigest()
    assert r.asset_uid == expected
    assert '"hostName"' in r.raw_json and "_corrupt_record" not in r.raw_json


def test_fortisiem_golden(spark, forti_bronze):
    bronze = read_bronze(spark, forti_bronze, FORTI_SCHEMA)
    silver = apply_mapping(bronze, FORTISIEM_MAPPING)
    rows = {r.fortisiem_id: r for r in silver.collect()}

    assert len(rows) == 2
    r = rows["64f1aa00c2d3e4f5a6b7c8d9"]
    # $-named Mongo field extracted (reference :172-174, :203)
    assert r.source_system == "fortisiem"
    assert r.device_vendor == "Fortinet" and r.device_version == "7.2"
    assert r.approved is True and r.unmanaged is False
    # rapid7-only fields are typed NULLs
    assert r.rapid7_id is None and r.os_name is None and r.vuln_total is None
    expected = hashlib.sha256(
        b"fw-edge-01|172.16.0.5|64f1aa00c2d3e4f5a6b7c8d9"
    ).hexdigest()
    assert r.asset_uid == expected


def test_uid_deterministic_across_runs(spark, rapid7_bronze):
    bronze = read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA)
    a = {r.asset_uid for r in apply_mapping(bronze, RAPID7_MAPPING).collect()}
    b = {r.asset_uid for r in apply_mapping(bronze, RAPID7_MAPPING).collect()}
    assert a == b and len(a) == 2


def test_silver_union_and_batch_write(spark, rapid7_bronze, forti_bronze, tmp_dir):
    r7 = apply_mapping(read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA), RAPID7_MAPPING)
    fs = apply_mapping(read_bronze(spark, forti_bronze, FORTI_SCHEMA), FORTISIEM_MAPPING)
    silver = silver_union(r7, fs)
    assert silver.count() == 4
    # exactly one of rapid7_id / fortisiem_id per row (FIXTURES §B3)
    bad = silver.filter(
        F.col("rapid7_id").isNotNull() == F.col("fortisiem_id").isNotNull()
    ).count()
    assert bad == 0

    out = f"{tmp_dir}/silver_assets"
    write_silver_batch(silver, out)
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert set(back.columns) == set(CONTRACT_COLS)
    assert {r.source_system for r in back.select("source_system").distinct().collect()} == {
        "rapid7",
        "fortisiem",
    }


def test_streaming_silver_end_to_end(spark, rapid7_bronze, tmp_dir):
    """The reference's own shape: unbounded bronze scan → same transform
    → checkpointed foreachBatch append (availableNow for the test)."""
    bronze = read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA, streaming=True)
    silver = apply_mapping(bronze, RAPID7_MAPPING)
    q = start_silver_stream(
        silver, f"{tmp_dir}/silver", f"{tmp_dir}/ckpt", idempotent=True
    )
    drain(q)
    back = spark.read.parquet(f"{tmp_dir}/silver")
    assert back.count() == 2  # corrupt row filtered in-stream
    assert set(back.select("rapid7_id").toPandas()["rapid7_id"]) == {"101", "102"}


def test_two_concurrent_silver_streams(spark, rapid7_bronze, forti_bronze, tmp_dir):
    """The reference's hallmark runtime shape (:280-299): TWO streaming
    queries in one session appending to the SAME silver table with
    separate checkpoints, awaited via awaitAnyTermination-style
    multi-query management."""
    from event_to_lakehouse_spark.pipeline.contracts import FORTISIEM_MAPPING

    out = f"{tmp_dir}/silver"
    q1 = start_silver_stream(
        apply_mapping(
            read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA, streaming=True),
            RAPID7_MAPPING,
        ),
        out,
        f"{tmp_dir}/ckpt_r7",
    )
    q2 = start_silver_stream(
        apply_mapping(
            read_bronze(spark, forti_bronze, FORTI_SCHEMA, streaming=True),
            FORTISIEM_MAPPING,
        ),
        out,
        f"{tmp_dir}/ckpt_fs",
    )
    # both queries run concurrently in this session until drained
    assert {q.id for q in spark.streams.active} >= {q1.id, q2.id}
    drain(q1, q2)
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert {
        r.source_system for r in back.select("source_system").distinct().collect()
    } == {"rapid7", "fortisiem"}


def test_write_silver_branch_selection(spark, rapid7_bronze, tmp_dir):
    """S5 sink branch: writeTo(...).append() (reference :275-277) when a
    V2 catalog is configured, partitioned parquet otherwise — both
    selections exercised without Iceberg jars (conf probe + stub)."""
    from event_to_lakehouse_spark.pipeline.normalize import (
        v2_catalog_available,
        write_silver,
    )

    silver = apply_mapping(
        read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA), RAPID7_MAPPING
    )

    # no catalog configured -> parquet fallback actually writes
    assert not v2_catalog_available(spark, "iceberg.silver.assets")
    out = f"{tmp_dir}/silver_v2_fallback"
    assert write_silver(silver, spark, path=out) == "parquet"
    assert spark.read.parquet(out).count() == 2

    # catalog conf present -> v2 branch chosen; a stub df records the
    # writeTo(...).append() call (the sandbox has no Iceberg jars to
    # execute it for real)
    calls = []

    class _StubDF:
        def writeTo(self, table):
            calls.append(("writeTo", table))

            class _W:
                def append(_self):
                    calls.append("append")

            return _W()

    spark.conf.set(
        "spark.sql.catalog.fakecat", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        assert v2_catalog_available(spark, "fakecat.silver.assets")
        got = write_silver(_StubDF(), spark, table="fakecat.silver.assets")
        assert got == "writer_v2"
        assert calls == [("writeTo", "fakecat.silver.assets"), "append"]
    finally:
        spark.conf.unset("spark.sql.catalog.fakecat")

    # neither catalog nor path is an explicit error, not a silent no-op
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_silver(silver, spark)


def test_writer_id_no_collision_for_same_leaf_checkpoints(
    spark, rapid7_bronze, forti_bronze, tmp_dir
):
    """Two streams whose checkpoint paths share a basename
    (.../a/checkpoint and .../b/checkpoint) writing the same silver
    table must not clobber each other's batch_id dirs: writer_id is a
    hash of the FULL checkpoint path."""
    from event_to_lakehouse_spark.pipeline.contracts import FORTISIEM_MAPPING

    out = f"{tmp_dir}/silver"
    q1 = start_silver_stream(
        apply_mapping(
            read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA, streaming=True),
            RAPID7_MAPPING,
        ),
        out,
        f"{tmp_dir}/a/checkpoint",
    )
    q2 = start_silver_stream(
        apply_mapping(
            read_bronze(spark, forti_bronze, FORTI_SCHEMA, streaming=True),
            FORTISIEM_MAPPING,
        ),
        out,
        f"{tmp_dir}/b/checkpoint",
    )
    drain(q1, q2)
    batch_dirs = {
        p.name for p in Path(out).iterdir() if p.name.startswith("batch_id=")
    }
    assert len(batch_dirs) == 2, batch_dirs  # one namespaced dir per query
    back = spark.read.parquet(out)
    assert back.count() == 4  # nothing clobbered


def test_write_silver_snapshot_branch(spark, rapid7_bronze, tmp_dir):
    """Branch 2 of the S5 sink: no V2 catalog, snapshot_root given →
    atomic snapshot append with batch-token replay dedup."""
    from event_to_lakehouse_spark.pipeline.normalize import write_silver
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    silver = apply_mapping(
        read_bronze(spark, rapid7_bronze, RAPID7_SCHEMA), RAPID7_MAPPING
    )
    root = f"{tmp_dir}/silver_snap"
    got = write_silver(silver, spark, snapshot_root=root, batch_token="b0")
    assert got == "snapshot"
    t = SnapshotTable(spark, root)
    assert t.read().count() == 2
    # replay: same token is a no-op
    write_silver(silver, spark, snapshot_root=root, batch_token="b0")
    assert t.read().count() == 2 and t.snapshot().version == 1
    # the contract columns opt the table into manifest pruning stats:
    # ingest_ts zone maps + an asset_uid bloom per file
    f0 = t.snapshot().files[0]
    assert "ingest_ts" in f0.get("stats", {})
    assert isinstance(f0.get("bloom"), str)
    uid = silver.select("asset_uid").first()["asset_uid"]
    t2 = SnapshotTable(spark, root, bloom_col="asset_uid")
    assert t2.read_point(uid).count() == 1

def test_write_silver_v2_real_roundtrip(spark):
    """The writer_v2 branch executed FOR REAL — not a stub: Spark's
    built-in JDBCTableCatalog over in-memory Derby (both ship with
    pyspark) is a genuine DataSource-V2 catalog, so
    ``df.writeTo(table).append()`` runs the same V2 write path an
    Iceberg/Delta deployment would (reference
    bronze_assets_to_silver_assets.py:275-277), and the appended rows
    read back through ``spark.table``. Complex/nested columns stay out
    (JDBC type mapping), which is fine: branch selection and the V2
    call chain are what this pins."""
    from event_to_lakehouse_spark.pipeline.normalize import (
        v2_catalog_available,
        write_silver,
    )

    confs = {
        "spark.sql.catalog.testcat":
            "org.apache.spark.sql.execution.datasources.v2.jdbc."
            "JDBCTableCatalog",
        "spark.sql.catalog.testcat.url":
            "jdbc:derby:memory:writer_v2_test;create=true",
        "spark.sql.catalog.testcat.driver":
            "org.apache.derby.jdbc.EmbeddedDriver",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        assert v2_catalog_available(spark, "testcat.silver_assets")
        df = spark.range(3).selectExpr(
            "id", "CAST(id AS STRING) AS asset", "'rapid7' AS source_system"
        )
        df.limit(0).writeTo("testcat.silver_assets").create()
        assert (
            write_silver(df, spark, table="testcat.silver_assets")
            == "writer_v2"
        )
        assert spark.table("testcat.silver_assets").count() == 3
        # V2 appends accumulate (snapshot/exactly-once dedup is the
        # table format's job — SnapshotTable supplies it jar-free)
        write_silver(df, spark, table="testcat.silver_assets")
        assert spark.table("testcat.silver_assets").count() == 6
    finally:
        for k in confs:
            spark.conf.unset(k)
