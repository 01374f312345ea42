"""The closed-loop workloads: ``ingest`` (writes) and ``serve`` (reads).

A workload has four phases, driven by ``run.py``:

- ``prepare(root)``: input generation and an empty lake under ``root``
  (repeated per set-up; the median set-up counts);
- ``warm()``: quantizer training, index pre-build and untimed warm-up
  operations (once, after the last set-up);
- ``round()``: the next operations as (label, callable) pairs; a
  callable returns once its results are collected, giving back a
  callable for the untimed bookkeeping that follows it;
- ``check()``: output checks after the timed loop; returns failures.

Every engine call goes through ``self.tr``, so a traced run records one
span per layer call; untraced, the calls run directly.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from pathlib import Path

import numpy as np

from . import gen

#: Per ingest batch: bronze files per source, documents, vectors, events.
N_RAPID7, N_FORTI = 24, 12
N_DOCS, N_VECS, N_EVENTS = 60, 60, 2000
#: Every ingest batch also runs each index's maintain() and compacts the
#: events table's small files, so every operation has the same shape.
COMPACT_TARGET_ROWS = 4 * N_EVENTS
#: Vectors the IVFPQ quantizers are trained on; also the first batch indexed.
N_TRAIN = 600
#: Serve: requests per query batch by kind; a round is one batch, and
#: every second batch reuses the previous one's terms and vectors.
SERVE_BATCH = {"ivfpq": 1, "bm25": 1, "rrf": 1, "probe": 1}
TOPK = 10
#: Serve's query rotation: scale factor of the generated star schema, and
#: the registry queries run each round (query -> operator family).
ROTATION_SF = 0.005
ROTATION = {
    "q1_pricing_summary": "tpch",
    "events_sessionize": "events",
    "stats_quantile_bins": "stats",
    "graph_khop_reach": "graph",
}

_MANIFEST = re.compile(r"/meta/v[0-9]+[.]json$")


def dir_files(root: Path) -> dict[str, int]:
    """path -> size for every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed by a concurrent vacuum
    return out


def live_files(root: Path) -> int:
    """Files referenced by the latest snapshot of every SnapshotTable
    under ``root`` (a table is a directory holding ``meta/v*.json``)."""
    total = 0
    for meta in root.rglob("meta"):
        versions = [int(p.stem[1:]) for p in meta.glob("v*.json")]
        if versions:
            doc = json.loads((meta / f"v{max(versions)}.json").read_text())
            total += len(doc.get("files", []))
    return total


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.seed = ctx.seed

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def tr(self):
        return self.ctx.tracer

    def data_roots(self) -> list[Path]:
        """Directories the engine writes tables and indexes under."""
        return []

    def walk(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for r in self.data_roots():
            out.update(dir_files(r))
        return out

    def storage_delta(self, before: dict[str, int], extra: dict) -> dict:
        """Storage accounting for one traced operation, from walking the
        workload's table and index directories before and after it."""
        after = self.walk()
        new = {p: s for p, s in after.items() if before.get(p) != s}
        written = sum(new.values())
        return {
            "commits": sum(1 for p in new if _MANIFEST.search(p)),
            "files_written": sum(1 for p in new if p.endswith(".parquet")),
            "bytes_written": written,
            "write_amp": written / extra["input_bytes"] if extra.get("input_bytes") else 0.0,
            "live_files": sum(live_files(r) for r in self.data_roots()),
        }

    def stored_bytes(self) -> int:
        return sum(sum(dir_files(r).values()) for r in self.data_roots())


# -- ingest ------------------------------------------------------------------------


class Ingest(Workload):
    """One operation = one landed micro-batch through every write path."""

    def prepare(self, root: Path, full: bool = True):
        """An empty lake: the dedup, text and vector indexes, and with
        ``full`` the bronze landing zone, silver stream, schema registry,
        events table and its rollup view."""
        from event_to_lakehouse_spark.dedup.bloom import BloomIndex, bloom_bits
        from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex, NearDupIndex
        from event_to_lakehouse_spark.textindex import InvertedIndex

        spark = self.spark
        self.full = full
        self.root = root
        self.inputs = root / "inputs"
        self.out = root / "lake"
        self.out.mkdir(parents=True)
        self.batch_no = 0
        self.docs = gen.DocStream(self.seed)
        self.first_id: dict[str, int] = {}  # text -> first doc id, for the recompute
        self.admitted: list[tuple[int, str]] = []
        self.pairs: set[tuple[int, int]] = set()
        self.n_valid_bronze = self.n_events = 0
        self.failures: list[str] = []
        self.rewritten = 0
        idx = self.out / "idx"
        self.exact = ExactDedupIndex(spark, str(idx / "exact"))
        self.neardup = NearDupIndex(spark, str(idx / "neardup"), hash_flavor="portable")
        self.bloom = BloomIndex(spark, str(idx / "bloom"), m_bits=bloom_bits(20_000))
        self.inverted = InvertedIndex(spark, str(idx / "inverted"))
        vecs, _ = gen.vectors(self.seed, 0, N_TRAIN)
        self.vec_store: list[np.ndarray] = [vecs]
        self.train_path = self.inputs / "vectors" / "train.parquet"
        self.in_bytes = gen.write_parquet(self.train_path, {"vec_id": np.arange(N_TRAIN, dtype=np.int64),
                                                        "embedding": vecs})
        if full:
            self._prepare_stream()

    def _prepare_stream(self):
        from event_to_lakehouse_spark.pipeline.contracts import FORTISIEM_MAPPING, RAPID7_MAPPING
        from event_to_lakehouse_spark.pipeline.normalize import apply_mapping, read_bronze, silver_union
        from event_to_lakehouse_spark.registry.schema_registry import SchemaRegistry
        from event_to_lakehouse_spark.sources import eventgen
        from event_to_lakehouse_spark.storage.rollup import RollupView
        from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

        from .schemas import FORTI_SCHEMA, RAPID7_SCHEMA

        tr, spark = self.tr, self.spark
        self.bronze = self.inputs / "bronze"
        for topic in ("rapid7.assets.raw", "fortisiem.devices.raw"):
            (self.bronze / topic).mkdir(parents=True)
        tr.call("sources", "eventgen.register", eventgen.register, spark)
        self.registry = SchemaRegistry(spark, str(self.out / "registry"))
        r7 = tr.call("pipeline", "read_bronze", read_bronze, spark, str(self.bronze / "rapid7.assets.raw"),
                     RAPID7_SCHEMA, streaming=True)
        fs = tr.call("pipeline", "read_bronze", read_bronze, spark, str(self.bronze / "fortisiem.devices.raw"),
                     FORTI_SCHEMA, streaming=True)
        self.silver_df = silver_union(apply_mapping(r7, RAPID7_MAPPING), apply_mapping(fs, FORTISIEM_MAPPING))
        self.events = SnapshotTable(spark, str(self.out / "events"))
        self.rollup = RollupView(spark, str(self.out / "rollup"), keys=["event_type"], sums=["cents"],
                                 mins=["cents"], maxs=["cents"])

    def build_ivfpq(self):
        """Train and pin the IVFPQ quantizers on the training vectors,
        then index them as the first batch."""
        from event_to_lakehouse_spark.similarity.ivfpq import IVFPQIndex
        from event_to_lakehouse_spark.sources.connectors import read_files

        tr = self.tr
        train = tr.call("sources", "read_files", read_files, self.spark, str(self.train_path), "parquet")
        self.ivfpq = tr.call("similarity", "IVFPQIndex.build", IVFPQIndex.build, self.spark,
                             str(self.out / "idx" / "ivfpq"), train=train)
        tr.call("similarity", "IVFPQIndex.add_batch", self.ivfpq.add_batch, train, batch_token="train")
        self.n_vecs = N_TRAIN

    def warm(self):
        self.build_ivfpq()
        for _, op in self.round():
            op()()

    def land(self) -> dict:
        """Generate and land the next batch's inputs (not timed)."""
        b = self.batch_no
        self.batch_no += 1
        valid, bronze_bytes = (
            gen.write_bronze(self.seed, b, str(self.bronze), N_RAPID7, N_FORTI) if self.full else (0, 0)
        )
        docs = self.docs.batch(b, N_DOCS)
        dpath = self.inputs / "docs" / f"b{b:05d}.parquet"
        gen.write_parquet(dpath, {"doc_id": np.array([d[0] for d in docs], dtype=np.int64), "text": [d[1] for d in docs]})
        start = N_TRAIN + b * N_VECS
        vecs, _ = gen.vectors(self.seed, start, N_VECS)
        vpath = self.inputs / "vectors" / f"b{b:05d}.parquet"
        gen.write_parquet(vpath, {"vec_id": np.arange(start, start + N_VECS, dtype=np.int64), "embedding": vecs})
        self.vec_store.append(vecs)
        nbytes = (bronze_bytes + sum(len(t) + 8 for _, t in docs) + vecs.nbytes + 8 * N_VECS
                  + (N_EVENTS * gen.EVENT_ROW_BYTES if self.full else 0))
        self.in_bytes += nbytes
        return {"b": b, "valid": valid, "docs": docs, "dpath": dpath, "vpath": vpath, "input_bytes": nbytes}

    def write_batch(self, batch: dict):
        """Push one landed batch through the write paths and maintain
        every index (a lake without ``full`` has only the index paths).
        Returns the collected dedup verdicts and near-dup pairs."""
        from event_to_lakehouse_spark.pipeline.normalize import start_silver_stream
        from event_to_lakehouse_spark.sources.connectors import read_files
        from event_to_lakehouse_spark.streaming.jobs import run_to_completion

        from pyspark.sql import functions as F

        tr, spark = self.tr, self.spark
        tok = f"b{batch['b']}"
        full = self.full
        if full:
            q = tr.call("pipeline", "start_silver_stream", start_silver_stream, self.silver_df,
                        str(self.out / "silver"), str(self.out / "silver_ckpt"))
            tr.call("streaming", "run_to_completion", run_to_completion, q)
            tr.call("registry", "SchemaRegistry.run_once", self.registry.run_once, str(self.bronze))
        docs = tr.call("sources", "read_files", read_files, spark, str(batch["dpath"]), "parquet")
        with tr.span("dedup", "ExactDedupIndex.index_batch"):
            verdicts = self.exact.index_batch(docs, batch_token=tok, bloom=self.bloom).collect()
        admitted = docs.filter(F.col("doc_id").isin([r["doc_id"] for r in verdicts if r["is_new_unique"]]))
        with tr.span("dedup", "NearDupIndex.index_batch"):
            pairs = self.neardup.index_batch(admitted, batch_token=tok).collect()
        tr.call("textindex", "InvertedIndex.add_batch", self.inverted.add_batch, admitted, batch_token=tok)
        vecs = tr.call("sources", "read_files", read_files, spark, str(batch["vpath"]), "parquet")
        tr.call("similarity", "IVFPQIndex.add_batch", self.ivfpq.add_batch, vecs, batch_token=tok)
        if full:
            ev = tr.call("sources", "eventgen.read", lambda: spark.read.format("eventgen").options(
                rows=str(N_EVENTS), seed=str(gen.event_seed(self.seed, batch["b"])), numPartitions="2").load())
            ev = ev.withColumn("cents", F.round(F.col("value") * 100).cast("long"))
            tr.call("storage", "SnapshotTable.append", self.events.append, ev, batch_token=tok)
            tr.call("storage", "RollupView.refresh", self.rollup.refresh, self.events)
        before = dir_files(self.out) if tr.enabled else {}
        tr.call("dedup", "ExactDedupIndex.maintain", self.exact.maintain)
        tr.call("dedup", "NearDupIndex.maintain", self.neardup.maintain)
        tr.call("textindex", "InvertedIndex.maintain", self.inverted.maintain)
        tr.call("similarity", "IVFPQIndex.maintain", self.ivfpq.maintain)
        if full:
            tr.call("storage", "SnapshotTable.compact_small_files", self.events.compact_small_files,
                    target_rows=COMPACT_TARGET_ROWS)
        self.rewritten = sum(s for p, s in dir_files(self.out).items()
                             if p.endswith(".parquet") and p not in before) if tr.enabled else 0
        return verdicts, pairs

    def account(self, batch: dict, verdicts, pairs) -> dict:
        """Fold a batch's results into the expected state and check its
        dedup verdicts against a recompute over everything so far:
        first arrival of a text is its canonical copy, every later copy
        is a duplicate of it, and no held text may pass the Bloom filter
        as absent."""
        held = set(self.first_id)
        for doc_id, text in batch["docs"]:
            self.first_id.setdefault(text, doc_id)
        text_of = dict(batch["docs"])
        bad = int(len(verdicts) != len(batch["docs"]))
        n_maybe = 0
        for r in verdicts:
            text = text_of[r["doc_id"]]
            first = self.first_id[text]
            if bool(r["is_new_unique"]) != (first == r["doc_id"]):
                bad += 1
            if r["dup_of"] != (None if first == r["doc_id"] else first):
                bad += 1
            if text in held and not r["bloom_maybe"]:
                bad += 1
            n_maybe += int(bool(r["bloom_maybe"]))
        if bad:
            self.failures.append(f"batch {batch['b']}: {bad} dedup verdicts differ from the recompute")
        new = [(i, t) for i, t in batch["docs"] if self.first_id[t] == i]
        self.admitted.extend(new)
        self.pairs |= {(r["doc_id_a"], r["doc_id_b"]) for r in pairs}
        self.n_vecs += N_VECS
        if self.full:
            self.n_valid_bronze += batch["valid"]
            self.n_events += N_EVENTS
        return {
            "bloom_pass_frac": n_maybe / max(1, len(verdicts)),
            "new_unique_frac": len(new) / max(1, len(verdicts)),
            "neardup_pairs": len(pairs),
            "input_bytes": batch["input_bytes"],
            "bytes_rewritten": self.rewritten,
        }

    def round(self):
        batch = self.land()

        def op():
            verdicts, pairs = self.write_batch(batch)
            return lambda: self.account(batch, verdicts, pairs)

        return [("batch", op)]

    def data_roots(self) -> list[Path]:
        return [self.out]

    def input_bytes(self) -> int:
        return self.in_bytes

    def check(self) -> list[str]:
        from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

        spark = self.spark
        fails = list(self.failures)
        n_adm = len(self.admitted)
        silver = spark.read.parquet(str(self.out / "silver")).count()
        if silver != self.n_valid_bronze:
            fails.append(f"silver rows {silver} != non-corrupt bronze records {self.n_valid_bronze}")
        for topic, st in self.registry.run_once(str(self.bronze)).items():
            if st.failure_reason or st.schema_version < 1:
                fails.append(f"registry {topic}: {st.failure_reason or 'no schema'}")
        for name, got in (("exact", self.exact.doc_count()), ("neardup", self.neardup.doc_count()),
                          ("inverted", self.inverted.doc_count())):
            if got != n_adm:
                fails.append(f"{name} index holds {got} docs, admitted {n_adm}")
        if self.ivfpq.vec_count() != self.n_vecs:
            fails.append(f"ivfpq holds {self.ivfpq.vec_count()} vectors, added {self.n_vecs}")
        if self.events.row_count() != self.n_events:
            fails.append(f"events table holds {self.events.row_count()} rows, appended {self.n_events}")
        if not self.rollup.equals_recompute(self.events):
            fails.append("rollup view differs from its recompute")
        # the union of the incremental near-dup probes equals one probe of
        # a fresh index over everything admitted
        p = self.root / "check" / "admitted.parquet"
        gen.write_parquet(p, {"doc_id": np.array([d[0] for d in self.admitted], dtype=np.int64),
                          "text": [d[1] for d in self.admitted]})
        fresh = NearDupIndex(spark, str(self.root / "check" / "neardup"), hash_flavor="portable")
        want = {(r["doc_id_a"], r["doc_id_b"]) for r in fresh.index_batch(spark.read.parquet(str(p))).collect()}
        if want != self.pairs:
            fails.append(f"near-dup pairs: incremental {len(self.pairs)} vs recompute {len(want)}")
        return fails


# -- serve -------------------------------------------------------------------------


class Serve(Workload):
    """One operation = one request, its result rows collected: an index
    request (IVFPQ top-k, BM25 top-k, hybrid RRF, membership probe) or
    a registry query over the generated star schema run to the noop
    sink."""

    def prepare(self, root: Path):
        """Index directories, the first ingest batch, and the star schema
        whose documents table is the corpus that batch admits."""
        from event_to_lakehouse_spark.catalog import QUERIES
        from event_to_lakehouse_spark.tables import load_tables

        self.ing = Ingest(self.ctx)
        self.ing.prepare(root, full=False)
        self.batch0 = self.ing.land()
        corpus: dict[str, int] = {}
        for doc_id, text in self.batch0["docs"]:
            corpus.setdefault(text, doc_id)
        self.sf_dir = str(root / "inputs" / "sf")
        gen.write_tables(self.seed, ROTATION_SF, self.sf_dir, documents=sorted((i, t) for t, i in corpus.items()))
        self.queries = {n: QUERIES[n] for n in ROTATION}
        self.tr.call("tables", "load_tables", load_tables, self.spark, self.sf_dir)
        self.qvecs, _ = gen.vectors(self.seed, 10_000_000, 256)
        self.qrng = gen.rng_for(self.seed, 9)

    def warm(self):
        """Pre-build the indexes through the ingest write path (with its
        maintenance), then warm up: run every rotation query once, keeping
        its result for the oracle check, and serve a hybrid request and a
        probe from the first request batch."""
        ing = self.ing
        ing.build_ivfpq()
        verdicts, pairs = ing.write_batch(self.batch0)
        ing.account(self.batch0, verdicts, pairs)
        self.vecs = np.concatenate(ing.vec_store)
        self.emb = self.spark.read.parquet(str(ing.inputs / "vectors"))
        self.admitted_ids = {d for d, _ in ing.admitted}
        self.batches = gen.requests(self.seed, SERVE_BATCH, [t for _, t in ing.admitted], len(self.qvecs))
        self.results: list[tuple[str, object, object]] = []
        self.recall = 0.0
        # the collected results double as the queries' warm-up; a hybrid
        # request runs both top-k paths and the fuse, a probe the rest
        self.query_results = {n: fn(self.spark, self.sf_dir).toPandas() for n, fn in self.queries.items()}
        for kind, payload in next(self.batches):
            if kind in ("rrf", "probe"):
                self._request(kind, payload)

    def _ivfpq(self, vi: int, **kw):
        q = self.spark.createDataFrame([(-1 - vi, self.qvecs[vi].tolist())], "vec_id long, embedding array<float>")
        return self.ing.ivfpq.topk(self.emb, q, k=TOPK, **kw)

    def _request(self, kind: str, payload):
        from event_to_lakehouse_spark import retrieval
        from event_to_lakehouse_spark.functions.text import fingerprint
        from event_to_lakehouse_spark.tables import load_tables

        from pyspark.sql import functions as F

        tr, ing = self.tr, self.ing
        if kind == "query":
            tr.call("tables", "load_tables", load_tables, self.spark, self.sf_dir)
            with tr.span("operators", f"operators.{ROTATION[payload]}:{payload}"):
                self.queries[payload](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return None
        if kind == "ivfpq":
            with tr.span("similarity", "IVFPQIndex.topk"):
                return [r["vec_id"] for r in self._ivfpq(payload).orderBy("rank").collect()]
        if kind == "bm25":
            with tr.span("textindex", "InvertedIndex.topk"):
                return [(r["doc_id"], r["score"]) for r in ing.inverted.topk(payload, k=TOPK).collect()]
        if kind == "rrf":
            terms, vi = payload
            # the two top-k plans execute inside the fused collect, so their
            # spans cover planning only and stay out of the *.topk_s metrics
            with tr.span("retrieval", "rrf_fuse"):
                sparse = tr.call("textindex", "rrf:InvertedIndex.topk", ing.inverted.topk, terms, k=TOPK)
                dense = tr.call("similarity", "rrf:IVFPQIndex.topk", self._ivfpq, vi).select(
                    F.col("vec_id").alias("doc_id"), "rank")
                return [r["doc_id"] for r in retrieval.rrf_fuse(sparse, dense, k=TOPK).collect()]
        with tr.span("dedup", "membership_probe"):
            fps = self.spark.createDataFrame(list(enumerate(payload)), "i long, text string").select(
                "i", fingerprint("text").alias("fp"))
            maybe = {r["i"]: r["bloom_maybe"] for r in ing.bloom.probe(fps, "fp").collect()}
            held = {r["i"] for r in ing.exact.table.read().join(F.broadcast(fps), "fp").select("i").collect()}
        return maybe, held

    def round(self):
        """The next request batch plus every rotation query, in a seeded
        order."""
        reqs = list(next(self.batches)) + [("query", n) for n in self.queries]

        def make(kind, payload):
            def op():
                out = self._request(kind, payload)
                return lambda: self.results.append((kind, payload, out))
            return op

        return [(reqs[i][1] if reqs[i][0] == "query" else reqs[i][0], make(*reqs[i]))
                for i in self.qrng.permutation(len(reqs))]

    # checks ---------------------------------------------------------------------

    def _brute(self, vi: int):
        d = ((self.vecs.astype(np.float64) - self.qvecs[vi].astype(np.float64)) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d, kind="stable")[:TOPK]], d

    def _bm25(self, terms: list[str]) -> dict[int, float]:
        """BM25 over the admitted corpus, by the formula the batch
        operator ``textops.text_bm25_search`` certifies."""
        from event_to_lakehouse_spark.textops import BM25_B, BM25_K1

        docs = [(d, t.split(" ")) for d, t in self.ing.admitted]
        avgdl = sum(len(toks) for _, toks in docs) / len(docs)
        df = {t: sum(1 for _, toks in docs if t in toks) for t in terms}
        scores = {}
        for doc_id, toks in docs:
            hit = [t for t in terms if t in toks]
            if hit:
                scores[doc_id] = sum(
                    math.log(1.0 + (len(docs) - df[t] + 0.5) / (df[t] + 0.5)) * toks.count(t) * (BM25_K1 + 1.0)
                    / (toks.count(t) + BM25_K1 * (1.0 - BM25_B + BM25_B * len(toks) / avgdl))
                    for t in hit
                )
        return scores

    @staticmethod
    def _topk_ok(got: list[tuple[int, float]], scores: dict[int, float]) -> bool:
        """Served top-k equals the recompute up to score ties."""
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:TOPK]
        return len(got) == len(want) and all(
            abs(gs - ws) <= 1e-5 and abs(scores.get(gd, math.inf) - ws) <= 1e-5
            for (gd, gs), (_wd, ws) in zip(got, want)
        )

    def check(self) -> list[str]:
        from event_to_lakehouse_spark.textops import BM25_QUERY, text_bm25_search

        fails = list(self.ing.failures)
        recalls = []
        for kind, payload, out in self.results:
            if kind == "ivfpq":
                want, _ = self._brute(payload)
                recalls.append(len(set(out) & set(want)) / TOPK)
                if len(set(out)) != TOPK:
                    fails.append(f"ivfpq query {payload}: {len(set(out))} distinct results")
            elif kind == "bm25":
                if not self._topk_ok(out, self._bm25(payload)):
                    fails.append(f"bm25 {payload}: served top-k differs from the BM25 recompute")
            elif kind == "rrf":
                if not 0 < len(out) <= TOPK:
                    fails.append(f"rrf {payload}: {len(out)} fused rows")
            elif kind == "probe":
                maybe, held = out
                for i, text in enumerate(payload):
                    indexed = self.ing.first_id.get(text) in self.admitted_ids
                    if indexed and not (maybe.get(i) and i in held):
                        fails.append("probe: an indexed document was not found")
                    if not indexed and i in held:
                        fails.append("probe: an absent document was reported held")
        self.recall = sum(recalls) / len(recalls) if recalls else 0.0
        # served BM25 equals the certified batch operator over the same corpus
        want = [(r["doc_id"], r["score"]) for r in text_bm25_search(self.spark, self.sf_dir).collect()]
        got = [(r["doc_id"], r["score"]) for r in self.ing.inverted.topk(BM25_QUERY, k=TOPK).collect()]
        if want != got:
            fails.append("bm25: served top-k differs from text_bm25_search")
        # probing every cell with an unbounded shortlist equals brute force
        got = [r["vec_id"] for r in self._ivfpq(0, n_probe=self.ing.ivfpq.n_centroids, shortlist=10**6).collect()]
        want, d = self._brute(0)
        if len(got) != TOPK or not np.allclose(np.sort(d[got]), d[want], atol=2e-6):
            fails.append("full-probe ivfpq differs from brute force")
        return fails + self._oracle_fails()

    def _oracle_fails(self) -> list[str]:
        """Each rotation query's result hash equals its DuckDB oracle's."""
        import duckdb

        from event_to_lakehouse_spark.operators.relational import ORACLES
        from event_to_lakehouse_spark.tables import TABLES

        con = duckdb.connect()
        con.sql("SET TimeZone='UTC'")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        fails = [
            f"{name}: result hash differs from its DuckDB oracle"
            for name, sdf in self.query_results.items()
            if result_hash(sdf) != result_hash(con.sql(ORACLES[name]).df())
        ]
        con.close()
        return fails

    def data_roots(self):
        return [self.ing.out]

    def input_bytes(self) -> int:
        return self.ing.in_bytes


def result_hash(df) -> str:
    """Order-insensitive hash of a result frame: columns sorted by name,
    timestamps at microseconds, floats at 9 decimals, rows sorted."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(repr)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(",".join(df.columns).encode())
    for row in df.astype(str).itertuples(index=False):
        h.update(("|".join(row) + "\n").encode())
    return h.hexdigest()


WORKLOADS = {"ingest": Ingest, "serve": Serve}
