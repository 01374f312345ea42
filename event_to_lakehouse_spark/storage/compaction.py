"""Small-file compaction (lakehouse maintenance).

Streaming ingestion writes one file set per micro-batch (the
reference's 30 s trigger → ~2880 file sets/day/stream); small files
destroy scan throughput (per-file open cost, tiny row groups, listing
pressure). This job bin-packs a parquet directory into
``target_file_bytes`` files — the plain-parquet analog of Iceberg's
rewrite_data_files / Delta OPTIMIZE.

Mechanics: size the output partition count from the INPUT BYTES (not
row count — the one signal that tracks actual file sizes), optionally
range-cluster by sort columns so parquet min/max stats become
selective (data skipping), write to a sibling staging dir, then swap.
The swap is two renames, so readers never observe a MIX of old and new
files, but there is a sub-millisecond window where the path is absent
— schedule compaction in a maintenance window, or manage the table
with ``storage.snapshots.SnapshotTable`` (its manifest commit swaps a
pointer, so rewrites are fully atomic for readers). A failure mid-swap
leaves ``<path>__precompact`` for manual recovery.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def data_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")) and f.endswith(".parquet"))
    return n


def plan_output_files(input_bytes: int, target_file_bytes: int) -> int:
    return max(1, math.ceil(input_bytes / target_file_bytes))


def _shape(
    df: DataFrame,
    n_out: int,
    sort_cols: list[str] | None,
    zorder_cols: list[str] | None,
) -> DataFrame:
    """Pick the rewrite layout: Z-order multi-column clustering beats a
    lexicographic sort when predicates hit more than the leading
    column; plain sort_cols keeps the single-column case simple; no
    cols = pure bin-packing."""
    if zorder_cols:
        from .layout import cluster_by_zorder

        return cluster_by_zorder(df, zorder_cols, n_out)
    if sort_cols:
        if n_out == 1:
            # one globally sorted file needs no range exchange
            return df.coalesce(1).sortWithinPartitions(*sort_cols)
        return df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    return df.repartition(n_out)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    sort_cols: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> int:
    """Compact the parquet dir at ``path`` in place; returns the number
    of output files. ``sort_cols`` range-clusters rows across the
    output files (global order → tight per-file min/max → skipping);
    ``zorder_cols`` Morton-clusters instead (Delta ``OPTIMIZE ZORDER
    BY``: min/max stay selective for EVERY listed column, not just the
    leading one)."""
    n_out = plan_output_files(dir_bytes(path), target_file_bytes)
    df: DataFrame = spark.read.parquet(path)
    shaped = _shape(df, n_out, sort_cols, zorder_cols)

    staging = f"{path}__compacting"
    backup = f"{path}__precompact"
    shaped.write.mode("overwrite").parquet(staging)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return data_file_count(path)


def compact_snapshot(
    table,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    sort_cols: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> int:
    """Compact a ``snapshots.SnapshotTable`` — the fully atomic flavor:
    the bin-packed rewrite lands as a new snapshot (manifest pointer
    swap), so readers see the old or new file set with NO window where
    the table is absent; the pre-compaction snapshot stays readable
    until ``vacuum``. ``zorder_cols`` makes this the full ``OPTIMIZE
    ZORDER`` shape: bin-pack + Morton-cluster in one rewrite, and the
    refreshed manifests' multi-column stats (``stats_cols``) prune
    boxes over every clustered column afterwards. Returns the output
    file count."""
    snap = table.snapshot()
    if snap is None:
        return 0
    input_bytes = sum(
        os.path.getsize(f["path"]) for f in snap.files if os.path.exists(f["path"])
    )
    n_out = plan_output_files(input_bytes, target_file_bytes)
    shaped = _shape(table.read(), n_out, sort_cols, zorder_cols)
    return len(table.overwrite(shaped).files)
