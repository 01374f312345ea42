"""Product quantization (PQ) with asymmetric-distance (ADC) top-k.

The missing tier of the vector story: brute force is exact but carries
the full vectors, IVF prunes WHICH vectors are scored, and PQ
compresses HOW each scored vector is represented — the corpus scan
carries ``PQ_M`` small codes per vector (4 bytes here) instead of the
64-float embedding, a 64× memory cut, which is what makes
billion-vector search fit in RAM (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011; the FAISS IVF+PQ default).

Spark shape, all codegen + broadcast:

- **codebook**: the embedding splits into ``PQ_M`` = 4 subspaces of 16
  dims; each subspace's ``PQ_K`` = 16 centroids are the seed vectors'
  subvectors (``vec_id < PQ_K`` — the deterministic-init convention of
  ``ann_kmeans_step``, whose Lloyd iteration refines codebooks the same
  way it refines IVF centroids; one step suffices for the parity gauge).
- **encode**: explode each vector into its 4 subvectors, broadcast-join
  the 64-row codebook, per-(vector, subspace) argmin via a struct-min
  (map-side partial agg; tiebreak = centroid id) → 4 small codes/vector.
- **ADC**: per query, a 64-entry lookup table of subspace distances is
  built against the codebook and BROADCAST; scoring the corpus is a
  broadcast join on (subspace, code) + a 4-row integer sum per
  (query, vector) — the corpus embeddings are never touched again.

Determinism discipline: every subspace distance lands on the integer
MICRO grid (``round(d² × 1e6)`` as BIGINT) the moment it is computed —
the argmin ordering and the 4-term ADC sums are then exact integer
arithmetic, immune to the float-summation-order ulps that round(…, n)
of a double aggregate would expose (the events_twap lesson applied to
vector search). The one remaining double step — the dot products —
rides the proven ``functions.vectors.dot`` ↔ ``list_dot_product``
parity pair.

At 100 TB: codes are 16 bits/vector here (4 × 4-bit-capable codes
stored as ints); the ADC scan reads only (vec_id, j, code) — column-
pruned parquet — and the per-query state is a 64-int broadcast LUT. In
production this composes with IVF (score only probed cells) exactly as
FAISS does; the exhaustive scan here is the oracle-checkable core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot
from ..operators.relational import query
from ..tables import load_tables

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (4 × 16 = the 64-dim embedding)
PQ_K = 16  # centroids per subspace (codes fit in 4 bits)
PQ_NQ = 5  # fixed query set: vec_id < 5 (the ann family convention)
PQ_TOPK = 10
PQ_SHORTLIST = 100  # ADC shortlist width for the exact re-rank stage


def _sub_explode(df: DataFrame, id_alias: str) -> DataFrame:
    """(id, j, sub): the vector split into its PQ_M subvectors —
    one explode over a literal array, no shuffle."""
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col("embedding"), j * PQ_SUB + 1, PQ_SUB).alias(
                    "sub"
                ),
            )
            for j in range(PQ_M)
        ]
    )
    return df.select(
        F.col("vec_id").alias(id_alias), F.explode(parts).alias("s")
    ).select(id_alias, F.col("s.j").alias("j"), F.col("s.sub").alias("sub"))


def _d2_micro(a, b) -> F.Column:
    """Squared L2 on the integer micro grid: ||a||² − 2a·b + ||b||²,
    each dot on the proven parity pair, the result snapped to
    round(d² × 1e6) as BIGINT so downstream ordering and summation are
    exact integer arithmetic."""
    d2 = dot(a, a) - 2 * dot(a, b) + dot(b, b)
    return F.round(d2 * F.lit(1_000_000.0)).cast("long")


def pq_codebook(emb: DataFrame) -> DataFrame:
    """(cent_id, j, c_sub): PQ_K × PQ_M subvector centroids from the
    deterministic seed rows."""
    return (
        _sub_explode(emb.filter(F.col("vec_id") < PQ_K), "cent_id")
        .withColumnRenamed("sub", "c_sub")
    )


# --- Lloyd-trained codebooks ------------------------------------------------
#
# Seed-row centroids are arbitrary corpus rows; they cap ADC shortlist
# recall at ~0.6 on this corpus (VERDICT r9's top item). The trainer
# runs PQ_TRAIN_ITERS Lloyd iterations PER SUBSPACE, entirely on the
# integer micro grid so every step is cross-engine bit-checkable:
#
# - subvectors snap to round(v × 1e6) BIGINTs once;
# - assignment argmin uses pure-integer squared L2 (no float anywhere);
# - the centroid update is round(CAST(sum AS DOUBLE)/n) per dim — an
#   exact-integer division both engines evaluate identically (ties
#   round away from zero in BOTH Spark and DuckDB — probed), snapped
#   back to the integer grid so the NEXT iteration is integer-exact too;
# - empty cells keep their previous centroid (deterministic, like
#   ann.kmeans_fit).
#
# Scale shape per iteration: the corpus never shuffles for assignment
# (broadcast 64-row codebook + struct-min partial agg); the update
# shuffles only PQ_M × PQ_K × PQ_SUB partial sums per partition. The
# driver holds nothing — the loop chains DataFrames, exactly like
# graph_pagerank_parts chains its iterations.

PQ_TRAIN_ITERS = 2
_MICRO = 1_000_000


def _sub_micro(emb: DataFrame, id_alias: str = "vec_id") -> DataFrame:
    """(id, j, s): subvectors snapped to the integer micro grid."""
    return _sub_explode(emb, id_alias).select(
        id_alias,
        "j",
        F.expr(
            f"transform(CAST(sub AS ARRAY<DOUBLE>),"
            f" x -> CAST(round(x * {_MICRO}) AS BIGINT))"
        ).alias("s"),
    )


_D2_INT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)


def pq_codebook_trained(
    emb: DataFrame, n_iters: int = PQ_TRAIN_ITERS
) -> DataFrame:
    """(cent_id, j, c_sub): Lloyd-trained subspace centroids, served in
    the same shape as ``pq_codebook`` (c_sub as ARRAY<DOUBLE> =
    micro/1e6 — both engines divide the same exact integers, so the
    doubles are bit-identical cross-engine and every downstream stage
    (``pq_encode``'s argmin, the ADC LUTs) stays deterministic."""
    from pyspark import StorageLevel

    # r15 (guide §5 caching / §3.3 plan size): each Lloyd iteration
    # reads the snapped training frame TWICE (assignment pair-up, then
    # the update's re-join) and the chained centroid frame appears
    # twice per iteration (update input + empty-cell coalesce), so the
    # un-materialized loop re-derived the corpus ~2× per iteration and
    # grew the plan exponentially (the residual-trained entry compiled
    # a 4,290-line plan). The training frame is sample-sized by the
    # train-on-a-sample contract — persist it for the loop; the
    # PQ_M×PQ_K-row centroid frame localCheckpoints eagerly per
    # iteration (exact integers — materialization cannot move values).
    subs = _sub_micro(emb)
    if n_iters > 0:
        subs = subs.persist(StorageLevel.MEMORY_AND_DISK)
    cents = subs.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cent_id"), "j", F.col("s").alias("c")
    )
    for _ in range(n_iters):
        paired = subs.join(F.broadcast(cents), "j")
        # the argmin agg carries the subvector along (first over the
        # (vec_id, j) group — every row holds the same s), so the
        # update needs NO second corpus join per iteration (r15)
        assigned = (
            paired.groupBy("vec_id", "j")
            .agg(
                F.min(
                    F.struct(
                        F.expr(_D2_INT.format(a="s", b="c")).alias("d"),
                        F.col("cent_id"),
                    )
                ).alias("m"),
                F.first("s").alias("s"),
            )
            .select("vec_id", "j", F.col("m.cent_id").alias("cent_id"), "s")
        )
        upd = (
            assigned
            .select("j", "cent_id", F.posexplode("s").alias("d0", "v"))
            .groupBy("j", "cent_id", "d0")
            .agg(
                F.round(F.sum("v") / F.count(F.lit(1)))
                .cast("long")
                .alias("nv")
            )
            .groupBy("j", "cent_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(d0, nv))),"
                    " p -> p.nv)"
                ).alias("new_c")
            )
        )
        cents = (
            cents.join(upd, ["j", "cent_id"], "left")
            .select(
                "cent_id",
                "j",
                F.coalesce("new_c", "c").alias("c"),  # empty cell: keep
            )
            .localCheckpoint()  # eager: truncate before the next round
        )
    out = cents.select(
        "cent_id",
        "j",
        F.expr(f"transform(c, x -> CAST(x AS DOUBLE) / {_MICRO})").alias(
            "c_sub"
        ),
    )
    if n_iters > 0:
        subs.unpersist()  # cents is materialized; nothing re-derives subs
    return out


def pq_encode(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, j, code): per-subspace argmin centroid. One broadcast
    join + one struct-min groupBy (map-side partials; ties break to the
    smaller cent_id via the struct order)."""
    paired = _sub_explode(emb, "vec_id").join(F.broadcast(codebook), "j")
    return (
        paired.groupBy("vec_id", "j")
        .agg(
            F.min(
                F.struct(
                    _d2_micro(F.col("sub"), F.col("c_sub")).alias("d"),
                    F.col("cent_id"),
                )
            ).alias("m")
        )
        .select("vec_id", "j", F.col("m.cent_id").alias("code"))
    )


def pq_adc_topk(
    emb: DataFrame, codes: DataFrame, codebook: DataFrame, k: int = PQ_TOPK
) -> DataFrame:
    """Asymmetric-distance top-k over the gauge query set (the fixed
    ``vec_id < PQ_NQ`` convention): per-query LUT of subspace distances
    (query subvector × codebook, PQ_M·PQ_K rows/query) broadcast
    against the codes scan; approx distance = exact integer sum of the
    PQ_M looked-up micro distances."""
    return pq_adc_topk_with_queries(
        emb.filter(F.col("vec_id") < PQ_NQ), codes, codebook, k=k
    )


def pq_rerank_topk(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    shortlist: int = PQ_SHORTLIST,
    k: int = PQ_TOPK,
) -> DataFrame:
    """The production composition (FAISS's IVF-PQ + refine): the cheap
    compressed scan nominates a ``shortlist`` per query, then ONLY
    those rows' full vectors are read back for an exact-distance
    re-rank — final top-k is exactly ordered within the shortlist, so
    end-to-end recall equals shortlist recall (≈ 0.6 at the 2%
    shortlist here; pytest-pinned with a safe floor) while the full-
    vector work drops from |corpus| to |shortlist| per query."""
    return pq_rerank_topk_with_queries(
        emb,
        codes,
        codebook,
        emb.filter(F.col("vec_id") < PQ_NQ),
        shortlist=shortlist,
        k=k,
    )


class PQIndex:
    """DURABLE PQ index — the compressed-codes member of the durable-
    index family (``NearDupIndex`` / ``ExactDedupIndex`` / ``IVFIndex``
    / ``BloomIndex``).

    Two SnapshotTables under ``root``: ``codebook`` (written once, the
    PQ_M×PQ_K subvector centroids — re-encoding batches against a
    MOVING codebook would silently mix incomparable codes, so the
    codebook is pinned at creation; ``train_iters > 0`` runs the Lloyd
    trainer over the first batch before pinning) and ``codes`` (one
    append per batch, ``batch_token`` exactly-once). ``add_batch``
    encodes ONLY the arriving vectors (batch-cost-only, like
    ``IVFIndex.add_batch``); ``topk`` serves ADC + exact re-rank
    against the stored codes with the query set broadcast — held
    embeddings are re-read only for the per-query shortlist rows,
    never scanned wholesale.

    Commit order: the codebook lands before the first batch's codes are
    encoded, so a crash between the two commits leaves a pinned
    codebook and no codes; the retried batch encodes against it.
    """

    def __init__(
        self, spark: SparkSession, root: str, train_iters: int = 0
    ):
        from ..storage.index_core import IndexTables

        self.spark = spark
        self.train_iters = train_iters
        # maintain(): codes clustered by (vec_id, j) so each vector's
        # PQ_M codes land contiguously and zone maps prune the shortlist
        # re-reads; the codebook is pinned at creation
        self.tables = IndexTables(
            spark, root, {"codebook": None, "codes": ["vec_id", "j"]}
        )
        self.codebook_table = self.tables["codebook"]
        self.codes_table = self.tables["codes"]

    def add_batch(
        self, emb: DataFrame, batch_token: str | None = None
    ):
        """Encode the batch against the pinned codebook (trained from
        the FIRST batch — seed rows, Lloyd-refined when the index was
        created with ``train_iters > 0``) and append its codes. The
        first batch must contain the ``vec_id < PQ_K`` seed rows: a
        codebook silently trained empty would make every later encode
        join produce zero codes and the index would serve empty results
        with no error (ADVICE r9), so an incomplete codebook raises."""
        cb = self.tables.read("codebook")
        if cb is None:
            built = (
                pq_codebook_trained(emb, self.train_iters)
                if self.train_iters
                else pq_codebook(emb)
            ).localCheckpoint()  # validate-then-pin without recompute
            n = built.count()
            if n != PQ_M * PQ_K:
                raise ValueError(
                    f"codebook trained from the first batch has {n} "
                    f"entries, expected {PQ_M * PQ_K}: bootstrap the "
                    f"index with a batch containing the vec_id < "
                    f"{PQ_K} seed rows"
                )
            self.codebook_table.append(built)
            cb = self.codebook_table.read()
        return self.tables.commit(batch_token, {"codes": pq_encode(emb, cb)})

    def topk(
        self,
        emb: DataFrame,
        queries: DataFrame,
        shortlist: int = PQ_SHORTLIST,
        k: int = PQ_TOPK,
    ) -> DataFrame:
        """ADC shortlist over the STORED codes + exact re-rank.
        ``emb`` supplies full vectors for the shortlist re-read and the
        query vectors; equivalence with the one-shot batch pipeline
        over everything ever added is pytest-pinned. An index with no
        codebook raises instead of silently joining against nothing
        (ADVICE r9)."""
        cb = self.tables.read("codebook")
        if cb is None:
            raise FileNotFoundError(
                "PQIndex has no codebook yet — add_batch a first batch "
                "containing the seed rows before serving topk"
            )
        return pq_rerank_topk_with_queries(
            emb,
            self.codes_table.read(),
            cb,
            queries,
            shortlist=shortlist,
            k=k,
        )

    def vec_count(self) -> int:
        """Vectors held (codes rows / PQ_M), from the manifest row stats
        (no Spark job)."""
        return self.codes_table.row_count() // PQ_M

    def maintain(
        self, target_file_bytes: int = 128 * 1024 * 1024, keep_versions: int = 1
    ) -> int:
        """Bin-pack the codes table by (vec_id, j), then vacuum old
        snapshots; batch tokens survive the rewrite. Returns files
        removed."""
        return self.tables.maintain(target_file_bytes, keep_versions)


def pq_adc_topk_with_queries(
    emb_queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = PQ_TOPK,
) -> DataFrame:
    """ADC top-k for an explicit query frame (vec_id, embedding) —
    the general form ``pq_adc_topk`` specializes with the fixed
    ``vec_id < PQ_NQ`` gauge set."""
    qsub = _sub_explode(emb_queries, "query_id")
    lut = qsub.join(F.broadcast(codebook), "j").select(
        "query_id",
        "j",
        "cent_id",
        _d2_micro(F.col("sub"), F.col("c_sub")).alias("qd_micro"),
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes["j"] == lut["j"]) & (codes["code"] == lut["cent_id"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            F.round(F.col("adc_micro") / 1_000_000.0, 6).alias("adc_dist"),
        )
    )


def _exact_rerank(
    emb: DataFrame, short: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact-L2 re-rank of a (query_id, vec_id) shortlist: full vectors
    are re-read for the shortlist rows ONLY (both join sides broadcast
    against one emb scan), then ranked on the integer micro grid."""
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = (
        emb.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            _d2_micro(F.col("q_emb"), F.col("embedding")).alias("d_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d_micro", "vec_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            F.round(F.col("d_micro") / 1_000_000.0, 6).alias("l2_dist"),
        )
    )


def pq_rerank_topk_with_queries(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    shortlist: int = PQ_SHORTLIST,
    k: int = PQ_TOPK,
) -> DataFrame:
    """Shortlist + exact re-rank for an explicit query frame."""
    short = pq_adc_topk_with_queries(
        queries, codes, codebook, k=shortlist
    ).select("query_id", "vec_id")
    return _exact_rerank(emb, short, queries, k)


def _pq_oracle() -> str:
    d2 = (
        "CAST(round((list_dot_product({a}, {a})"
        " - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})) * 1000000) AS BIGINT)"
    )
    return f"""
    WITH sub AS (
      SELECT vec_id, r.j AS j,
             CAST(embedding[r.j * {PQ_SUB} + 1 : r.j * {PQ_SUB} + {PQ_SUB}]
                  AS DOUBLE[]) AS sub
      FROM embeddings, range(0, {PQ_M}) r(j)
    ),
    cent AS (
      SELECT vec_id AS cent_id, j, sub AS c_sub FROM sub
      WHERE vec_id < {PQ_K}
    ),
    dmat AS (
      SELECT s.vec_id, s.j, c.cent_id,
             {d2.format(a="s.sub", b="c.c_sub")} AS d
      FROM sub s JOIN cent c ON s.j = c.j
    ),
    codes AS (
      SELECT vec_id, j, cent_id AS code FROM (
        SELECT vec_id, j, cent_id,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d, cent_id) AS rn
        FROM dmat) WHERE rn = 1
    ),
    lut AS (
      SELECT vec_id AS query_id, j, cent_id, d AS qd_micro
      FROM dmat WHERE vec_id < {PQ_NQ}
    ),
    adc AS (
      SELECT l.query_id, co.vec_id,
             CAST(sum(l.qd_micro) AS BIGINT) AS adc_micro
      FROM codes co
      JOIN lut l ON co.j = l.j AND co.code = l.cent_id
      WHERE co.vec_id <> l.query_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, adc_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_micro, vec_id) AS rank
      FROM adc
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
           round(adc_micro / 1000000.0, 6) AS adc_dist
    FROM ranked WHERE rank <= {PQ_TOPK}
    ORDER BY query_id, rank
    """


@query("ann_pq_adc_topk", _pq_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed approximate top-k, end to end: codebook → encode →
    per-query ADC LUT → integer-exact scan-and-rank. The DuckDB oracle
    recomputes codebook, codes, LUTs, and rankings — every code and
    every micro distance is value-checked, not just the final ids."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cb = pq_codebook(emb)
    codes = pq_encode(emb, cb)
    return pq_adc_topk(emb, codes, cb).orderBy("query_id", "rank")


def _pq_rerank_oracle() -> str:
    base = _pq_oracle()
    # reuse the whole ADC pipeline as CTEs, swap the final projection
    # for the shortlist -> exact-rerank stages over the FULL vectors.
    ctes = base[: base.rindex("SELECT query_id")]
    d2 = (
        "CAST(round((list_dot_product({a}, {a})"
        " - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})) * 1000000) AS BIGINT)"
    )
    full = "CAST({e} AS DOUBLE[])"
    return f"""{ctes.rstrip()},
    short AS (
      SELECT query_id, vec_id FROM ranked WHERE rank <= {PQ_SHORTLIST}
    ),
    exact AS (
      SELECT s.query_id, s.vec_id,
             {d2.format(a=full.format(e="q.embedding"),
                        b=full.format(e="e.embedding"))} AS d_micro
      FROM short s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.query_id
    ),
    rr AS (
      SELECT query_id, vec_id, d_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d_micro, vec_id) AS rank
      FROM exact
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
           round(d_micro / 1000000.0, 6) AS l2_dist
    FROM rr WHERE rank <= {PQ_TOPK}
    ORDER BY query_id, rank
    """


def _pq_trained_cent_ctes(n_iters: int, sub_cte: str = "sub") -> str:
    """The Lloyd loop as chained CTEs (the graph_pagerank_parts
    discipline): subvectors snap to the BIGINT micro grid, each
    iteration is integer-argmin assignment + integer-division update,
    and the final ``cent`` CTE serves micro/1e6 doubles in exactly the
    shape the certified ADC pipeline consumes. ``sub_cte`` names the
    (vec_id, j, sub) source — ``'sub'`` trains on raw subvectors, the
    residual oracle passes its ``rsub`` to train on residuals."""
    d2 = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    parts = [
        f"""subm AS (
      SELECT vec_id, j,
             [CAST(round(x * {_MICRO}) AS BIGINT) for x in sub] AS s
      FROM {sub_cte}
    ),
    c0 AS (SELECT vec_id AS cent_id, j, s AS c FROM subm
           WHERE vec_id < {PQ_K})"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, j, cent_id FROM (
        SELECT s.vec_id, s.j, c.cent_id,
               row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                 {d2.format(a="s.s", b="c.c")}, c.cent_id) AS rn
        FROM subm s JOIN c{i - 1} c ON s.j = c.j)
      WHERE rn = 1
    ),
    u{i} AS (
      SELECT j, cent_id, list(nv ORDER BY d) AS new_c FROM (
        SELECT a.j, a.cent_id, r.d AS d,
               CAST(round(CAST(sum(s.s[r.d]) AS DOUBLE) / count(*))
                    AS BIGINT) AS nv
        FROM a{i} a
        JOIN subm s ON a.vec_id = s.vec_id AND a.j = s.j
        CROSS JOIN range(1, {PQ_SUB + 1}) r(d)
        GROUP BY a.j, a.cent_id, r.d)
      GROUP BY j, cent_id
    ),
    c{i} AS (
      SELECT c.cent_id, c.j, coalesce(u.new_c, c.c) AS c
      FROM c{i - 1} c LEFT JOIN u{i} u
        ON c.cent_id = u.cent_id AND c.j = u.j
    )"""
        )
    parts.append(
        f"""cent AS (
      SELECT cent_id, j,
             [CAST(x AS DOUBLE) / {_MICRO} for x in c] AS c_sub
      FROM c{n_iters}
    )"""
    )
    return ",\n    ".join(parts)


def _pq_trained_oracle() -> str:
    """The seed-codebook ADC oracle with its ``cent`` CTE swapped for
    the full multi-iteration training chain — codebook, every
    iteration's assignments and updates, codes, LUTs, and rankings are
    ALL value-checked."""
    base = _pq_oracle()
    head = base[: base.index("cent AS (")]
    tail = base[base.index("dmat AS (") :]
    return head + _pq_trained_cent_ctes(PQ_TRAIN_ITERS) + ",\n    " + tail


@query("ann_pq_trained_adc_topk", _pq_trained_oracle())
def ann_pq_trained_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k with a LLOYD-TRAINED codebook ({PQ_TRAIN_ITERS}
    iterations) instead of seed rows — the r9 verdict's top quality
    item. The oracle replays the training loop iteration by iteration
    on the integer micro grid (assignment argmin, centroid update,
    empty-cell carry), then the whole certified encode→LUT→ADC→rank
    pipeline over the trained codebook. Recall improvement over the
    seed codebook is pinned separately in tests/test_pq.py."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cb = pq_codebook_trained(emb)
    codes = pq_encode(emb, cb)
    return pq_adc_topk(emb, codes, cb).orderBy("query_id", "rank")


@query("ann_pq_rerank_topk", _pq_rerank_oracle())
def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist → exact re-rank, the billion-scale serving path:
    full vectors are read for |shortlist| rows per query, not the
    corpus; the oracle replays codebook, codes, LUTs, shortlist, and
    the exact re-rank."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cb = pq_codebook(emb)
    codes = pq_encode(emb, cb)
    return pq_rerank_topk(emb, codes, cb).orderBy("query_id", "rank")


def _ivfpq_oracle(
    stride_sql: str | None = None,
    trained_pq: bool = False,
    centc_block: str | None = None,
) -> str:
    """The full FAISS architecture replayed in SQL: coarse assignment
    (the certified IVF math), candidate restriction to the probed
    cells, ADC over candidates only, exact re-rank. ``stride_sql``
    overrides the centroid-selection stride (a SQL scalar expression —
    the persisted entry passes the corpus-adaptive bounded-cell-count
    rule so its oracle tracks ``IVFPQIndex.build``). ``trained_pq``
    swaps the seed-row PQ codebook CTE for the full Lloyd training
    chain (``_pq_trained_cent_ctes``); ``centc_block`` swaps the
    stride-sampled coarse-centroid CTE for a caller-supplied chain
    ending in the same ``centc(ccent_id, cc_emb)`` shape (the trained
    persisted entry passes ``ivfpq._coarse_trained_ctes``)."""
    from .ann import _COS_SQL, CENT_STRIDE, N_PROBE

    if stride_sql is None:
        stride_sql = str(CENT_STRIDE)

    base = _pq_trained_oracle() if trained_pq else _pq_oracle()
    pq_ctes = base[: base.index("adc AS (")].rstrip().rstrip(",")
    if centc_block is None:
        centc_block = f"""centc AS (
      SELECT vec_id AS ccent_id, embedding AS cc_emb
      FROM embeddings WHERE vec_id % ({stride_sql}) = 0
    )"""
    cos = _COS_SQL.format(a="e.embedding", b="c.cc_emb")
    d2 = (
        "CAST(round((list_dot_product({a}, {a})"
        " - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})) * 1000000) AS BIGINT)"
    )
    full = "CAST({e} AS DOUBLE[])"
    return f"""{pq_ctes},
    {centc_block},
    affin AS (
      SELECT e.vec_id, c.ccent_id,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               round({cos}, 6) DESC, c.ccent_id) AS crank
      FROM embeddings e CROSS JOIN centc c
    ),
    assigned AS (SELECT vec_id, ccent_id FROM affin WHERE crank = 1),
    qcells AS (
      SELECT vec_id AS query_id, ccent_id FROM affin
      WHERE vec_id < {PQ_NQ} AND crank <= {N_PROBE}
    ),
    cand AS (
      SELECT q.query_id, a.vec_id
      FROM assigned a JOIN qcells q ON a.ccent_id = q.ccent_id
      WHERE a.vec_id <> q.query_id
    ),
    adc AS (
      SELECT cd.query_id, cd.vec_id,
             CAST(sum(l.qd_micro) AS BIGINT) AS adc_micro
      FROM cand cd
      JOIN codes co ON co.vec_id = cd.vec_id
      JOIN lut l ON l.query_id = cd.query_id
               AND l.j = co.j AND l.cent_id = co.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, vec_id, adc_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_micro, vec_id) AS rank
      FROM adc
    ),
    short AS (
      SELECT query_id, vec_id FROM ranked WHERE rank <= {PQ_SHORTLIST}
    ),
    exact AS (
      SELECT s.query_id, s.vec_id,
             {d2.format(a=full.format(e="q.embedding"),
                        b=full.format(e="e.embedding"))} AS d_micro
      FROM short s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.query_id
    ),
    rr AS (
      SELECT query_id, vec_id, d_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d_micro, vec_id) AS rank
      FROM exact
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
           round(d_micro / 1000000.0, 6) AS l2_dist
    FROM rr WHERE rank <= {PQ_TOPK}
    ORDER BY query_id, rank
    """


@query("ann_ivfpq_topk", _ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ + refine — the complete billion-scale serving stack
    (the FAISS IVFPQ,Refine factory), every stage oracle-checked:

    1. coarse quantizer (the certified ``ivf_affinity`` math) assigns
       every vector to a cell; queries probe their ``N_PROBE`` cells —
       the corpus-pruning stage (only probed cells are scored at all);
    2. PQ ADC scores ONLY the candidate (query, vector) pairs, over
       codes, via broadcast LUTs — the compression stage (candidates
       are scored without touching their embeddings);
    3. exact re-rank of the per-query shortlist — the refine stage
       (full vectors re-read for |shortlist| rows, not the corpus).

    At 100 TB the three stages multiply: cells cut candidates ~k/probe
    ×, codes cut candidate bytes 64×, refine caps full-vector reads at
    shortlist × queries. Nothing fact-sized shuffles in any stage."""
    from .ann import N_PROBE, ivf_affinity

    emb = load_tables(spark, sf_dir)["embeddings"]
    affin = ivf_affinity(spark, sf_dir)
    assigned = affin.filter(F.col("crank") == 1).select("vec_id", "cent_id")
    qcells = affin.filter(
        (F.col("vec_id") < PQ_NQ) & (F.col("crank") <= N_PROBE)
    ).select(F.col("vec_id").alias("query_id"), "cent_id")
    cand = (
        assigned.join(F.broadcast(qcells), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    cb = pq_codebook(emb)
    codes = pq_encode(emb, cb)
    qsub = _sub_explode(emb.filter(F.col("vec_id") < PQ_NQ), "query_id")
    lut = qsub.join(F.broadcast(cb), "j").select(
        "query_id",
        "j",
        F.col("cent_id").alias("lut_cent"),
        _d2_micro(F.col("sub"), F.col("c_sub")).alias("qd_micro"),
    )
    adc = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["query_id", "j"])
        .filter(F.col("code") == F.col("lut_cent"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_micro", "vec_id")
    short = (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    return _exact_rerank(
        emb, short, emb.filter(F.col("vec_id") < PQ_NQ), PQ_TOPK
    ).orderBy("query_id", "rank")
