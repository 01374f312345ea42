"""MinHash + LSH near-duplicate detection, pure built-in expressions.

Pipeline (shingle → minhash → band → bucket-join), all JVM-side:

1. shingles: word 3-grams from normalized text (higher-order
   ``transform`` over a ``sequence`` of offsets — computed once per doc).
2. minhash signature: explode shingles, then ONE pass computing k=16
   seeded ``xxhash64(seed_i, shingle)`` columns and a groupBy(doc_id)
   with k ``min`` aggregates. This keeps every hash inside whole-stage
   codegen (per-seed HOF ``transform`` lambdas would run interpreted and
   re-evaluate the shingle pipeline k times — measured 50× slower).
   The shuffle is a partial-aggregated min per doc: k longs per doc.
3. LSH banding: b=4 bands × r=4 rows; band hash = xxhash64 over the
   band's slice; posexplode (×4 rows per doc, two longs each).
4. candidate pairs: self-join on (band_idx, band_hash) with
   doc_id_a < doc_id_b, dedup, then join signatures back for the
   minhash Jaccard estimate (matching components / k).

At 100 TB the wide ops are: the groupBy(doc_id) min-agg (map-side
combined), the band shuffle (tiny fixed-width rows), and the bucket
join (AQE-skew-splittable). Text never shuffles.

No DuckDB oracle (xxhash64 is Spark-specific) — driver records
rows-only; pytest pins semantics with planted near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import normalize_text
from ..operators.relational import query
from ..tables import load_tables

N_HASHES = 16
BANDS = 4
ROWS_PER_BAND = N_HASHES // BANDS
# Skip degenerate LSH buckets (a band value shared by this many docs is
# non-discriminative and would blow up the self-join quadratically).
MAX_BUCKET = 200


def shingle_rows(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) word n-gram rows.

    posexplode the token array (tokenization evaluated ONCE per doc —
    an n-gram lambda over the array would re-evaluate the normalize+
    split subtree per element, measured ~50× slower), then assemble
    n-grams with window ``lead`` over token position. The doc_id window
    partitioning is reused by the downstream signature groupBy, so
    shingling + minhashing cost ONE shuffle together. Documents shorter
    than n tokens contribute their whole normalized text as the single
    shingle (same dedup semantics as hashing the full doc).

    Duplicate shingles are NOT removed: min-hash is insensitive to
    duplicates, so a distinct pass would be a wasted shuffle."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text(text_col), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id",
        F.concat_ws(
            " ", "tok", *[F.lead("tok", j).over(w) for j in range(1, n)]
        ).alias("shingle"),
        F.lead("tok", n - 1).over(w).alias("_tail"),
    )
    full = grams.filter(F.col("_tail").isNotNull()).select("doc_id", "shingle")
    # Short-doc detection is per-row (size of the token array) — no
    # aggregation over the exploded grams, so the only corpus-wide
    # shuffle in this function is the window's doc_id partitioning,
    # which the downstream signature groupBy then reuses.
    norm = normalize_text(text_col)
    short = docs.filter(F.size(F.split(norm, " ")) < n).select(
        "doc_id", norm.alias("shingle")
    )
    return full.unionByName(short)


def _default_hash_sql(seed: int, col: str) -> str:
    return f"xxhash64({seed}, {col})"


def signatures(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    hash_sql=None,
) -> DataFrame:
    """(doc_id, sig: array<long>[k]) minhash signatures — one
    explode+window+agg pipeline, every hash in whole-stage codegen.
    ``n_hashes`` is corpus-tunable: k=16 suits the small test corpora;
    production near-dup recall targets typically run k=128 with
    proportionally more bands (see ``candidate_pairs``).

    ``hash_sql(seed, col) -> SQL expr string`` selects the seeded hash
    family: default xxhash64 (fastest, engine-specific); the portable
    md5-slice flavor (``portable.py``) is bit-identical in DuckDB so the
    driver can value-hash-check the whole pipeline."""
    hash_sql = hash_sql or _default_hash_sql
    exploded = shingle_rows(docs, text_col)
    # SQL-string aggregates: one JVM-side parse instead of ~100 py4j
    # round-trips of Column building (same lesson as simhash.py).
    mins = exploded.groupBy("doc_id").agg(
        *[F.expr(f"min({hash_sql(i, 'shingle')}) AS mh_{i}") for i in range(n_hashes)]
    )
    return mins.selectExpr(
        "doc_id", f"array({', '.join(f'mh_{i}' for i in range(n_hashes))}) AS sig"
    )


def band_rows(
    sigs: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
    band_concat: bool = False,
) -> DataFrame:
    """Raw (doc_id, band_idx, band_hash) LSH band rows — UNguarded; the
    hot-bucket guard is a separate concern so the incremental index can
    apply it at probe time over index∪batch counts (``incremental.py``)."""
    rows_per_band = n_hashes // bands

    def band_key(b: int) -> F.Column:
        elems = [
            F.element_at("sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        # band_concat: portable band key — the raw signature slice
        # joined as a string renders identically in any engine, so the
        # DuckDB oracle buckets bit-identically. xxhash64 default keeps
        # the band rows fixed-width (2 longs) for the production path.
        return F.concat_ws("|", *elems) if band_concat else F.xxhash64(*elems)

    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*[band_key(b) for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )


def guard_hot_buckets(banded: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Hot-bucket guard: drop band values that are effectively
    "everyone". A window count over the bucket key is one shuffle (vs
    groupBy + join-back = two), and its (band_idx, band_hash)
    partitioning is exactly the downstream self-join key, so the
    candidate join reuses it without another exchange."""
    w = Window.partitionBy("band_idx", "band_hash")
    return (
        banded.withColumn("bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )


def _bands(
    sigs: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
    max_bucket: int = MAX_BUCKET,
    band_concat: bool = False,
) -> DataFrame:
    return guard_hot_buckets(
        band_rows(sigs, n_hashes, bands, band_concat), max_bucket
    ).select("doc_id", "band_idx", "band_hash")


def candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    bands: int = BANDS,
    max_bucket: int = MAX_BUCKET,
    hash_sql=None,
    band_concat: bool = False,
) -> DataFrame:
    """LSH-banded candidate pairs with minhash-estimated Jaccard.

    Tunables (corpus-dependent): the LSH S-curve threshold is
    ~(1/bands)^(bands/n_hashes); k=16/b=4 targets the test corpora,
    a production web-scale dedup would run e.g. k=128/b=32 for a
    ~0.7-Jaccard knee with high recall. ``n_hashes`` must be divisible
    by ``bands``.

    ``sigs`` is referenced three times downstream (banding + both
    sides of the signature join-back) and ``bands`` twice (candidate
    self-join); without materialization Catalyst re-executes the whole
    explode+window+16-min-agg pipeline per reference (~6× the work, 20
    shuffles). Persisting the two small intermediates (k longs / 2
    longs per doc — MEMORY_AND_DISK, spill-safe at any corpus size)
    collapses the plan to the 4 real shuffles."""
    from pyspark import StorageLevel

    assert n_hashes % bands == 0, "n_hashes must be divisible by bands"
    sigs = signatures(docs, text_col, n_hashes, hash_sql).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded = _bands(sigs, n_hashes, bands, max_bucket, band_concat).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    return score_pairs(pairs, sigs, n_hashes)


def score_pairs(
    pairs: DataFrame,
    sigs: DataFrame,
    n_hashes: int = N_HASHES,
    broadcast_sigs: bool = False,
) -> DataFrame:
    """Attach the minhash Jaccard estimate (matching signature
    components / k) to (doc_id_a, doc_id_b) pairs. ``broadcast_sigs``
    is the incremental-index case, where ``sigs`` is already restricted
    to the batch and the pairs' members: ONE broadcast of it serves
    both lookups (the two builds are the same exchange, reused), and
    the pairs never move."""
    if broadcast_sigs:
        sigs = F.broadcast(sigs)
    sa = sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b"))
    match_frac = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(n_hashes))
    )
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", F.round(match_frac, 4).alias("jaccard_est"))
    )


@query("dedup_minhash_lsh")  # no SQL oracle: xxhash64 is engine-specific
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return candidate_pairs(t["documents"])
