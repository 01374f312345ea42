"""Connector layer: format round-trips, corrupt-record CSV hardening,
streaming schema enforcement, Kafka payload normalization (SURVEY §2.1).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_to_lakehouse_spark.sources.connectors import (
    parse_kafka_payload,
    read_csv,
    read_files,
    write_files,
)
from tests.conftest import drain

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

ROWS = [(1, "alpha", 0.5), (2, "beta", 1.5), (3, "gamma", -2.0)]


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip(spark, tmp_dir, fmt):
    df = spark.createDataFrame(ROWS, SCHEMA)
    opts = {"header": "true"} if fmt == "csv" else {}
    write_files(df, f"{tmp_dir}/{fmt}", fmt, mode="overwrite", **opts)
    back = read_files(spark, f"{tmp_dir}/{fmt}", fmt, schema=SCHEMA, **opts)
    assert sorted((r.id, r.name, r.score) for r in back.collect()) == sorted(ROWS)


def test_partitioned_write_prunes(spark, tmp_dir):
    df = spark.createDataFrame(ROWS, SCHEMA).withColumn(
        "bucket", F.when(F.col("id") < 3, "small").otherwise("large")
    )
    write_files(df, f"{tmp_dir}/p", "parquet", mode="overwrite", partition_by=["bucket"])
    back = read_files(spark, f"{tmp_dir}/p", "parquet").filter(F.col("bucket") == "small")
    assert back.count() == 2
    # partition filter must prune at scan level, not post-filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_csv_corrupt_record_capture(spark, tmp_dir):
    import pathlib

    p = pathlib.Path(tmp_dir) / "csv_raw"
    p.mkdir(parents=True)
    (p / "a.csv").write_text("id,name,score\n1,alpha,0.5\n2,beta,notanumber\n")
    df = read_csv(spark, str(p), schema=SCHEMA).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 1 and bad.count() == 1
    assert bad.collect()[0]._corrupt_record.startswith("2,beta")


def test_streaming_requires_schema(spark, tmp_dir):
    with pytest.raises(ValueError, match="declared schema"):
        read_files(spark, tmp_dir, "json", streaming=True)
    with pytest.raises(ValueError, match="unsupported format"):
        read_files(spark, tmp_dir, "avro")


def test_kafka_payload_normalization(spark):
    """Transport-gated: the Kafka value→typed-columns contract is tested
    on a synthetic frame with the connector's record shape."""
    raw = spark.createDataFrame(
        [
            Row(
                key=b"k1",
                topic="assets",
                partition=0,
                offset=42,
                timestamp="2024-01-01 00:00:00",
                value=b'{"id": 7, "name": "x", "score": 1.25}',
            ),
            Row(
                key=None,
                topic="assets",
                partition=0,
                offset=43,
                timestamp="2024-01-01 00:00:01",
                value=b'{"id": BROKEN',
            ),
        ]
    )
    out = parse_kafka_payload(raw, SCHEMA).cache()
    ok = out.filter(F.col("_corrupt_record").isNull()).collect()
    assert len(ok) == 1 and ok[0].id == 7 and ok[0].kafka_key == "k1"
    bad = out.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0].offset == 43


def test_kafka_stream_roundtrip_without_broker(spark, tmp_dir):
    """S8 wiring end-to-end with NO transport gate: kafka-record-shaped
    parquet (exact connector schema, KAFKA_RECORD_SCHEMA) is streamed
    through parse_kafka_payload into a memory sink — the same unbounded
    path read_kafka builds after load(), including key/topic/partition/
    offset/timestamp passthrough and PERMISSIVE corrupt capture."""
    import datetime as dt

    from event_to_lakehouse_spark.sources.connectors import (
        KAFKA_RECORD_SCHEMA,
        kafka_source_options,
        parse_kafka_payload,
    )

    ts = dt.datetime(2024, 1, 1, 0, 0, 0)
    records = [
        (b"k1", b'{"id": 7, "name": "x", "score": 1.25}', "assets", 0, 42, ts, 0),
        (b"k2", b"{not json at all", "assets", 1, 43, ts, 0),
    ]
    src = f"{tmp_dir}/kafka_records"
    spark.createDataFrame(records, KAFKA_RECORD_SCHEMA).write.parquet(src)

    raw = spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(src)
    parsed = parse_kafka_payload(raw, SCHEMA)
    q = (
        parsed.writeStream.format("memory")
        .queryName("kafka_rt")
        .option("checkpointLocation", f"{tmp_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    rows = {r.offset: r for r in spark.sql("SELECT * FROM kafka_rt").collect()}

    good, bad = rows[42], rows[43]
    assert (good.kafka_key, good.topic, good.partition) == ("k1", "assets", 0)
    assert (good.id, good.name, good.score) == (7, "x", 1.25)
    assert good.kafka_ts == ts and good._corrupt_record is None
    # malformed value: typed columns NULL, raw payload captured
    assert bad.id is None and bad._corrupt_record is not None

    # read_kafka's source options are exactly the connector contract
    assert kafka_source_options("broker:9092", "assets") == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "assets",
        "startingOffsets": "earliest",
    }


def test_custom_python_datasource_eventgen(spark):
    """Spark 4 pure-Python DataSource: registered source reads via
    spark.read.format('eventgen'); generation is partitioned and
    deterministic (same options => byte-identical rows)."""
    from event_to_lakehouse_spark.sources.eventgen import register

    register(spark)
    df = (
        spark.read.format("eventgen")
        .option("rows", "1000")
        .option("numPartitions", "4")
        .option("seed", "42")
        .load()
    )
    assert df.count() == 1000
    assert df.rdd.getNumPartitions() == 4
    assert set(df.columns) == {
        "event_id", "ts", "user_id", "event_type", "value", "props"
    }
    # determinism: a second read with the same options is identical
    again = (
        spark.read.format("eventgen")
        .option("rows", "1000")
        .option("numPartitions", "4")
        .option("seed", "42")
        .load()
    )
    a = sorted(df.collect())
    b = sorted(again.collect())
    assert a == b
    # nulls exist in value (the ~5% gap used by null-handling tests)
    assert df.filter("value IS NULL").count() > 0
