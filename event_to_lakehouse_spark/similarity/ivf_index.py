"""Durable IVF ANN index — the persisted, incrementally-growable twin
of ``ann.ann_ivf_topk``'s session-scoped affinity cache.

Completes the durable-index triad (``dedup.incremental.NearDupIndex``
for near-dup, ``ExactDedupIndex`` for content identity, this for
similarity search): build the index ONCE over the held corpus, then
any number of later jobs add new vector batches and serve queries
without re-assigning the corpus — the 100 TB pattern where the
embedding store outlives every individual Spark job.

Layout (SnapshotTables under ``root``):

- ``centroids``: (cent_id, c_emb, c_norm) — k rows, metadata-scale,
  written once at build (deterministic corpus sample, optionally
  refined by Lloyd iterations via ``ann.kmeans'' shapes).
- ``assign``: (vec_id, cent_id, embedding, _norm) — every indexed
  vector with its cell and precomputed norm; appended per batch with
  exactly-once tokens.

Plan shapes (the 100 TB case):

- ``add_batch``: batch × broadcast centroids argmin (partition-local
  broadcast-NL — the intended plan) then append. Cost scales with the
  batch only.
- ``query``: queries × broadcast centroids pick ``n_probe`` cells
  each; the assignment scan inner-joins the broadcast (query, cell)
  pairs, which keeps only probed cells (the index never shuffles);
  exact cosine + per-query top-k via window (TakeOrdered-scale:
  queries ≪ corpus).

EXACTNESS ESCAPE HATCH: with ``n_probe >= n_centroids`` every cell is
probed and the result equals brute-force top-k EXACTLY — the pytest
pin that certifies the probe math without an approximation tolerance.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..storage.index_core import IndexTables

__all__ = ["IVFIndex", "rank_against_centroids"]


def rank_against_centroids(
    vectors: DataFrame, cent: DataFrame, top: int
) -> DataFrame:
    """(vec_id, embedding, _norm, cent_id, crank<=top): each vector
    ranked against the broadcast centroid table (cent_id, c_emb,
    c_norm) — partition-local broadcast-NL + per-row window; the SAME
    math (round(cos, 6) desc, cent_id tiebreak) as ``ann.ivf_affinity``
    so every IVF flavor assigns identically. Shared by ``IVFIndex`` and
    ``IVFPQIndex``."""
    from ..functions.vectors import dot, l2_norm

    v = vectors.select("vec_id", "embedding").withColumn(
        "_norm", l2_norm("embedding")
    )
    denom = F.col("_norm") * F.col("c_norm")
    c_cos = F.when(denom > 0, dot("embedding", "c_emb") / denom)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("cent_id")
    )
    return (
        v.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "_norm",
            "cent_id",
            F.round(c_cos, 6).alias("c_cos"),
        )
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= top)
        .drop("c_cos")
    )


class IVFIndex:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        # maintain(): assignments clustered by cent_id so each cell's
        # vectors land contiguously and a probe of n_probe cells
        # touches few files; the centroids are pinned at build
        self.tables = IndexTables(
            spark, self.root, {"centroids": None, "assign": ["cent_id"]}
        )
        self.centroids_table = self.tables["centroids"]
        self.assign_table = self.tables["assign"]
        meta = self.root / "index.json"
        self.n_centroids = (
            json.loads(meta.read_text())["n_centroids"] if meta.exists() else None
        )

    # -- build --------------------------------------------------------------

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        root: str,
        corpus: DataFrame,
        cent_stride: int = 50,
        batch_token: str = "build",
        centroids: list[list[float]] | None = None,
    ) -> "IVFIndex":
        """Create the index over ``corpus`` (vec_id, embedding).
        Centroids default to the deterministic every-``cent_stride``-th-
        vector sample — same coarse quantizer as ``ann_ivf_topk``; pass
        ``centroids`` (e.g. the matrix ``ann.kmeans_fit`` returns) to
        build on a Lloyd-FITTED quantizer instead — every plan shape
        below is centroid-source-agnostic, and the fitted flavor's
        recall gain is pinned in tests/test_incremental.py."""
        from ..functions.vectors import l2_norm

        idx = cls(spark, root)
        if idx.n_centroids is not None:
            raise ValueError(f"index already built at {root}")
        if centroids is not None:
            cent = spark.createDataFrame(
                [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
                "cent_id BIGINT, c_emb ARRAY<DOUBLE>",
            ).withColumn("c_norm", l2_norm("c_emb"))
        else:
            cent = corpus.filter(F.col("vec_id") % cent_stride == 0).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("c_emb"),
                l2_norm("embedding").alias("c_norm"),
            )
        idx.tables.commit(batch_token, {"centroids": cent})
        idx.n_centroids = idx.centroids_table.row_count()
        (idx.root / "index.json").write_text(
            json.dumps({"n_centroids": idx.n_centroids})
        )
        idx.add_batch(corpus, batch_token=batch_token)
        return idx

    # -- internals ----------------------------------------------------------

    def _centroids(self) -> DataFrame:
        return self.centroids_table.read()

    def _affinity(self, vectors: DataFrame, top: int) -> DataFrame:
        """See :func:`rank_against_centroids` (shared assignment math)."""
        return rank_against_centroids(vectors, self._centroids(), top)

    # -- API ----------------------------------------------------------------

    def add_batch(self, vectors: DataFrame, batch_token: str | None = None):
        """Assign ``vectors`` to their nearest cell and append — batch
        cost only; the held assignments are untouched."""
        assigned = self._affinity(vectors, top=1).select(
            "vec_id", "cent_id", "embedding", "_norm"
        )
        return self.tables.commit(batch_token, {"assign": assigned})

    def query(
        self, queries: DataFrame, k: int = 10, n_probe: int = 3
    ) -> DataFrame:
        """(query_id, vec_id, cos_sim, rank<=k) nearest indexed vectors
        per query row, probing each query's ``n_probe`` nearest cells.
        Self-matches (same vec_id) are excluded."""
        from ..functions.vectors import dot

        qcells = self._affinity(queries, top=n_probe).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("_norm").alias("q_norm"),
            "cent_id",
        )
        denom = F.col("q_norm") * F.col("_norm")
        cos = F.when(denom > 0, dot("q_emb", "embedding") / denom)
        scored = (
            # the inner join on the broadcast query cells is the cell
            # probe: it filters the assignment scan to probed cells
            self.assign_table.read()
            .join(F.broadcast(qcells), "cent_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
            # a (query, vec) pair reappears once per shared probed cell
            .dropDuplicates(["query_id", "vec_id"])
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "vec_id",
                "cos_sim",
                F.col("rank").cast("int").alias("rank"),
            )
        )

    def vec_count(self) -> int:
        """Indexed vectors, from the manifest row stats (no Spark job)."""
        return self.assign_table.row_count()

    def maintain(
        self, target_file_bytes: int = 128 * 1024 * 1024, keep_versions: int = 1
    ) -> int:
        """Bin-pack the assignment table by cent_id, then vacuum old
        snapshots. Batch tokens survive. Returns files removed."""
        return self.tables.maintain(target_file_bytes, keep_versions)


def _persisted_oracle() -> str:
    # Full probe == brute force EXACTLY, so the strict brute-force SQL
    # is this entry's oracle — importing .ann registers it.
    from ..operators.relational import ORACLES
    from . import ann  # noqa: F401

    return ORACLES["ann_bruteforce_topk"]


from ..operators.relational import query  # noqa: E402
from ..tables import load_tables  # noqa: E402


@query("ann_ivf_index_persisted", _persisted_oracle())
def ann_ivf_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable IVF index end-to-end under the STRICT oracle: build
    on disk, query with every cell probed (full probe == brute force
    exactly), so the driver value-checks the whole persisted path —
    centroid commit, assignment append, broadcast cell probe, scoring.
    The approximate operating point (n_probe ≪ cells) is recall-pinned
    by pytest instead (no SQL oracle can mirror an approximation)."""
    import tempfile

    from .ann import N_QUERIES, TOP_K

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    idx = IVFIndex.build(
        spark, tempfile.mkdtemp(prefix="ivf_idx_"), emb, cent_stride=50
    )
    return idx.query(
        emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K,
        n_probe=idx.n_centroids,
    )
