"""The durable-index core: an index's named SnapshotTables in one
declared order.

Every durable index here (``NearDupIndex``, ``ExactDedupIndex``,
``BloomIndex``, ``InvertedIndex``, ``IVFIndex``, ``PQIndex``,
``IVFPQIndex``, ``StatsCatalog``) keeps its state as a few
SnapshotTables under one root, commits each micro-batch to them exactly
once under a batch token (the idempotent-sink contract of Structured
Streaming), forgets keys from them, and compacts them. This module is
that shared part; the indexes keep only their own plans.

Order is the crash contract. ``commit`` and ``delete_keys`` run the
tables one after another in the declared order, and each table skips a
token its chain already holds (``SnapshotTable.append`` /
``delete_keys`` return the parent before writing anything). A crash
between two manifests therefore leaves a PREFIX of the tables holding
the token, and a retry with the same token skips that prefix and lands
the rest. Each index declares its order so that the prefix state is
harmless — false positives only, or a state that readers pin past
(``token_consistent_versions``) until the same token repairs it; its
class docstring says which.

Everything runs on the calling thread: a Spark job started from a plain
worker thread carries neither the caller's job group nor its
description.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .compaction import compact_snapshot
from .snapshots import Snapshot, SnapshotTable

__all__ = ["IndexTables"]


class IndexTables:
    """``layout`` maps each table name — its directory under ``root`` —
    to the columns ``maintain()`` clusters it by, in the declared
    order. ``None`` marks a PINNED table (a trained quantizer, the
    Bloom bitmap): written once or rewritten whole by its index, and
    left alone by ``delete_keys`` and ``maintain``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | Path,
        layout: dict[str, list[str] | None],
    ):
        self.layout = dict(layout)
        self.tables = {
            name: SnapshotTable(spark, str(Path(root) / name)) for name in layout
        }

    def __getitem__(self, name: str) -> SnapshotTable:
        return self.tables[name]

    def _data_tables(self) -> list[tuple[SnapshotTable, list[str]]]:
        return [
            (self.tables[name], cols)
            for name, cols in self.layout.items()
            if cols is not None
        ]

    def read(self, name: str) -> DataFrame | None:
        """The table's latest snapshot, or ``None`` while it holds none
        (a fresh index)."""
        try:
            return self.tables[name].read()
        except FileNotFoundError:
            return None

    def commit(
        self, batch_token: str | None, frames: dict[str, DataFrame]
    ) -> Snapshot:
        """Append each named frame under ``batch_token``, one table after
        another in the declared order. Returns the last table's
        snapshot."""
        snap = None
        for name in self.layout:
            if name in frames:
                snap = self.tables[name].append(
                    frames[name], batch_token=batch_token
                )
        return snap

    def delete_keys(
        self, keys: DataFrame, key: str, batch_token: str | None = None
    ) -> None:
        """Copy-on-write delete of every row whose ``key`` is in ``keys``
        from each unpinned table, in the declared order."""
        for table, _ in self._data_tables():
            table.delete_keys(keys, key, batch_token=batch_token)

    def maintain(self, target_file_bytes: int, keep_versions: int) -> int:
        """Rewrite each unpinned table bin-packed and clustered by its
        columns, then vacuum each, in the declared order. Batch-token
        chains survive the rewrite, so a replay straddling maintenance
        is still a no-op. Returns the data files vacuum removed."""
        tables = self._data_tables()
        for table, cols in tables:
            compact_snapshot(table, target_file_bytes, sort_cols=cols)
        return sum(table.vacuum(keep_versions) for table, _ in tables)
