"""Schema evolution: diff/classify/conform semantics (the governance
mechanics the reference declares but does not implement)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import types as T

from event_to_lakehouse_spark.registry.evolution import (
    classify,
    conform,
    diff_schemas,
)
from tests.conftest import drain

V1 = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "meta",
            T.StructType([T.StructField("score", T.FloatType())]),
        ),
    ]
)

V2_SAFE = T.StructType(  # id widened, nested field added, new column
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("score", T.DoubleType()),
                    T.StructField("tag", T.StringType()),
                ]
            ),
        ),
        T.StructField("added_col", T.StringType()),
    ]
)

V3_BREAKING = T.StructType(  # name removed, id narrowed to string
    [T.StructField("id", T.StringType())]
)


def test_diff_nested_paths():
    d = diff_schemas(V1, V2_SAFE)
    assert ("added_col", "string") in d.added
    assert ("meta.tag", "string") in d.added
    assert d.removed == []
    assert ("id", "int", "bigint") in d.changed
    assert ("meta.score", "float", "double") in d.changed


def test_classify():
    assert classify(diff_schemas(V1, V1)) == "none"
    assert classify(diff_schemas(V1, V2_SAFE)) == "safe"
    assert classify(diff_schemas(V1, V3_BREAKING)) == "breaking"
    # a type narrowing alone is breaking
    narrowed = T.StructType(
        [T.StructField("id", T.ShortType())] + list(V1.fields[1:])
    )
    assert classify(diff_schemas(V1, narrowed)) == "breaking"


def test_conform_adds_casts_drops_orders(spark):
    df = spark.createDataFrame([(1, "a", "junk")], ["id", "name", "extra"])
    target = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("added_col", T.StringType()),
        ]
    )
    out = conform(df, target)
    assert out.columns == ["name", "id", "added_col"]
    assert out.schema["id"].dataType == T.LongType()
    row = out.collect()[0]
    assert row.name == "a" and row.id == 1 and row.added_col is None


def test_conform_then_union_across_versions(spark):
    """Old-version rows conform to the new contract and union cleanly —
    the evolution path for mixed-version bronze."""
    old = spark.createDataFrame([(1, "a")], ["id", "name"])
    new_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("added_col", T.StringType()),
        ]
    )
    new = spark.createDataFrame([(2, "b", "x")], new_schema)
    merged = conform(old, new_schema).unionByName(new)
    assert merged.count() == 2
    assert {r.added_col for r in merged.collect()} == {None, "x"}


def test_conform_in_stream_mid_evolution(spark, tmp_dir):
    """Operational schema evolution: bronze files written under TWO
    schema versions (v2 adds a nullable field) flow through ONE
    streaming query whose foreachBatch conforms every micro-batch to
    the v2 contract — old-version rows surface with typed NULLs, no
    reprocessing or job restart."""
    import json as _json

    from pyspark.sql import types as T

    from event_to_lakehouse_spark.registry.evolution import (
        classify,
        conform,
        diff_schemas,
    )

    v1 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    v2 = T.StructType(
        list(v1.fields) + [T.StructField("region", T.StringType())]
    )
    assert classify(diff_schemas(v1, v2)) == "safe"

    src = Path(tmp_dir) / "bronze"
    src.mkdir()
    (src / "old.json").write_text(_json.dumps({"id": 1, "name": "a"}) + "\n")
    (src / "new.json").write_text(
        _json.dumps({"id": 2, "name": "b", "region": "emea"}) + "\n"
    )

    # stream reads with the WIDEST schema (v2); conform guarantees the
    # contract shape for every batch regardless of producer version
    raw = spark.readStream.schema(v2).json(str(src))
    out = f"{tmp_dir}/conformed"

    def _write(batch_df, batch_id):
        conform(batch_df, v2).write.mode("append").parquet(out)

    q = (
        raw.writeStream.outputMode("append")
        .option("checkpointLocation", f"{tmp_dir}/ckpt")
        .trigger(availableNow=True)
        .foreachBatch(_write)
        .start()
    )
    drain(q)
    back = {r.id: (r.name, r.region) for r in spark.read.parquet(out).collect()}
    assert back == {1: ("a", None), 2: ("b", "emea")}


def test_registry_drift_to_conformed_silver_end_to_end(spark, tmp_dir):
    """The reference's promised human-in-the-loop evolution loop, wired
    end to end: bronze files land under schema v1 → the registry infers
    and versions it → a producer starts emitting an extra field → the
    registry detects drift (new version, changed flag) → diff/classify
    label the change SAFE (nullable add) → the v1-era batch is
    CONFORMED to v2 → both eras union into one mapped silver write with
    the contract shape intact."""
    import json as _json
    import os as _os

    from tests.conftest import RAPID7_RECORDS, write_bronze

    from event_to_lakehouse_spark.pipeline.contracts import (
        RAPID7_MAPPING,
        SILVER_ASSETS_CONTRACT,
    )
    from event_to_lakehouse_spark.pipeline.normalize import (
        apply_mapping,
        read_bronze,
        write_silver_batch,
    )
    from event_to_lakehouse_spark.registry.schema_registry import SchemaRegistry

    topic_dir = f"{tmp_dir}/bronze/rapid7.assets.raw"
    write_bronze(topic_dir, RAPID7_RECORDS, corrupt=False)
    reg = SchemaRegistry(spark, f"{tmp_dir}/registry")
    s1 = reg.run_topic("rapid7.assets.raw", topic_dir, sampling_ratio=None)
    assert s1.schema_changed and s1.schema_version == 1

    # era 2: same producer adds a (nullable) rack-location field
    era2 = [dict(r, rackLocation=f"r{r['id']}") for r in RAPID7_RECORDS]
    for i, rec in enumerate(era2):
        p = f"{topic_dir}/era2_{i:04d}.json"
        with open(p, "w") as f:
            f.write(_json.dumps(rec, indent=2))
        _os.utime(p, (s1.last_processed_mtime + 60, s1.last_processed_mtime + 60))

    s2 = reg.run_topic("rapid7.assets.raw", topic_dir, sampling_ratio=None)
    assert s2.schema_changed and s2.schema_version == 2

    v1 = T.StructType.fromJson(
        _json.loads(open(f"{tmp_dir}/registry/rapid7.assets.raw/schema/v1.json").read())
    )
    v2 = T.StructType.fromJson(
        _json.loads(reg.latest_schema("rapid7.assets.raw"))
    )
    diff = diff_schemas(v1, v2)
    assert [p for p, _t in diff.added] == ["rackLocation"]
    assert classify(diff) == "safe"  # auto-appliable, no human gate

    # v1-era rows read under their own era's schema, conformed to the
    # v2 contract shape (corrupt-capture column included), one union
    from event_to_lakehouse_spark.pipeline.normalize import with_corrupt_column

    era1_df = read_bronze(spark, f"{topic_dir}/rec_*.json", v1)
    era2_df = read_bronze(spark, f"{topic_dir}/era2_*.json", v2)
    bronze_all = conform(era1_df, with_corrupt_column(v2)).unionByName(era2_df)
    assert bronze_all.schema == era2_df.schema
    silver = apply_mapping(bronze_all, RAPID7_MAPPING)
    out = f"{tmp_dir}/silver"
    write_silver_batch(silver, out)
    back = spark.read.parquet(out)
    assert back.count() == 2 * len(RAPID7_RECORDS)
    assert {f.name for f in back.schema.fields} == {c for c, _t in SILVER_ASSETS_CONTRACT}
    # era-1 rows carry NULL for the drifted field pre-mapping; both eras
    # map to identical uids for the same asset (evolution never forks
    # identity)
    uids = back.groupBy("asset_uid").count().collect()
    assert all(r["count"] == 2 for r in uids)
