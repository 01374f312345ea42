"""Seeded input generator for the lakehouse benchmark.

Every input a workload sees is a pure function of one integer seed:
the TPC-H-style star schema plus the events, documents and embeddings
tables (the column layout of the engine's ``tables.TABLES``), bronze
asset JSON with a stated corrupt share, document batches with stated
exact-copy and near-copy shares, vector batches, event-batch seeds for
the ``eventgen`` source, and serve request mixes whose consecutive
batches overlap by a stated share.

Generated texts are lowercase words joined by single spaces, so the
engine's dedup normalization (lowercase, strip punctuation, collapse
whitespace) leaves them unchanged and exact-copy verdicts can be
recomputed from the raw text.
"""

from __future__ import annotations

import functools
import json
from pathlib import Path

import numpy as np

#: The shares the generator draws from, recorded in BENCHMARK.json.
SHARES = {
    "bronze_corrupt": 0.05,  # malformed bronze JSON files per batch
    "doc_exact_copy": 0.10,  # byte-identical copies of earlier documents
    "doc_near_copy": 0.10,  # earlier documents with 1-2 tokens replaced
    "query_batch_overlap": 0.5,  # serve requests repeating the previous batch's
}

EMB_DIM = 64
N_CLUSTERS = 10
_BASE_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
_SYLLABLES = "ka lo mi nu pe ra si to vu ze".split()
VOCAB = _BASE_WORDS + [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES[:4]]
# Zipf-like term weights: a few common words, a long tail of rare ones.
_W = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
_W /= _W.sum()


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def random_text(rng: np.random.Generator, lo: int = 20, hi: int = 60) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(VOCAB[i] for i in rng.choice(len(VOCAB), size=n, p=_W))


def near_copy(rng: np.random.Generator, text: str) -> str:
    """``text`` with one or two tokens replaced by other vocabulary words."""
    toks = text.split(" ")
    for pos in rng.choice(len(toks), size=min(len(toks), int(rng.integers(1, 3))), replace=False):
        toks[pos] = VOCAB[int(rng.integers(len(VOCAB)))]
    return " ".join(toks)


# -- star schema + event/LLM tables -------------------------------------------


def _ts(days: np.ndarray, base: str) -> np.ndarray:
    return np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]")


def write_tables(seed: int, sf: float, out: str, documents=None) -> int:
    """Write the ten tables at scale factor ``sf`` under ``out`` (one
    parquet file each). ``documents`` (doc_id, text) pairs replace the
    generated documents table when given. Returns bytes written."""
    rng = rng_for(seed, 1)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    ptypes = np.array("LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split())
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    }
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_li), "1995-01-01"),
    }
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_evt))
    t["events"] = {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0.0, 560.0, n_evt), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    }
    if documents is None:
        drng = rng_for(seed, 2)
        documents = [(i, random_text(drng)) for i in range(500)]
    ids = np.array([d[0] for d in documents], dtype=np.int64)
    texts = [d[1] for d in documents]
    langs = np.array("en zh de fr es".split())
    t["documents"] = {
        "doc_id": ids,
        "text": texts,
        "lang": langs[ids % 5],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    vecs, labels = vectors(seed, 0, 500)
    t["embeddings"] = {
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }
    return sum(write_parquet(Path(out) / f"{name}.parquet", cols) for name, cols in t.items())


def write_parquet(path: Path, cols: dict) -> int:
    """Land ``cols`` as one parquet file; returns its size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = {
        k: pa.array(list(v), type=pa.list_(pa.float32())) if k == "embedding" else pa.array(v)
        for k, v in cols.items()
    }
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(arrays), path)
    return path.stat().st_size


# -- write-path batches ---------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _centres(seed: int) -> np.ndarray:
    c = rng_for(seed, 3).normal(size=(N_CLUSTERS, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def vectors(seed: int, start: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit vectors (float32, 64-dim) with ids ``start..start+n-1``
    drawn around ten seeded cluster centres; returns (vectors, labels)."""
    rng = rng_for(seed, 4, start)
    labels = rng.integers(0, N_CLUSTERS, n)
    v = _centres(seed)[labels] + 0.15 * rng.normal(size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


class DocStream:
    """Document batches with seeded exact and near copies of earlier
    documents. ``history`` holds every text generated so far."""

    def __init__(self, seed: int):
        self.seed = seed
        self.next_id = 0
        self.history: list[str] = []

    def batch(self, index: int, n: int) -> list[tuple[int, str]]:
        rng = rng_for(self.seed, 5, index)
        out = []
        for _ in range(n):
            r = rng.random()
            if self.history and r < SHARES["doc_exact_copy"]:
                text = self.history[int(rng.integers(len(self.history)))]
            elif self.history and r < SHARES["doc_exact_copy"] + SHARES["doc_near_copy"]:
                text = near_copy(rng, self.history[int(rng.integers(len(self.history)))])
            else:
                text = random_text(rng)
            out.append((self.next_id, text))
            self.next_id += 1
        self.history.extend(t for _, t in out)
        return out


def _rapid7(rng: np.random.Generator, i: int) -> dict:
    host = f"host-{i:06d}"
    ip = f"10.{(i >> 16) & 255}.{(i >> 8) & 255}.{i & 255}"
    return {
        "id": i,
        "ip": ip,
        "hostName": f"  {host.upper() if i % 3 == 0 else host}  ",
        "addresses": [{"ip": ip}],
        "assessedForPolicies": bool(i % 2),
        "assessedForVulnerabilities": True,
        "os": ["Ubuntu Linux 22.04", "Windows Server 2019", "RHEL 9"][i % 3],
        "osCertainty": f"{0.5 + rng.random() / 2:.2f}",
        "osFingerprint": {
            "architecture": "x86_64",
            "family": ["Linux", "Windows", "Linux"][i % 3],
            "vendor": ["Canonical", "Microsoft", "Red Hat"][i % 3],
            "product": ["Ubuntu", "Windows Server", "RHEL"][i % 3],
            "cpe": {"version": ["22.04", "2019", "9"][i % 3]},
        },
        "riskScore": round(float(rng.uniform(0, 1000)), 2),
        "rawRiskScore": round(float(rng.uniform(0, 1000)), 2),
        "vulnerabilities": {
            "total": int(rng.integers(0, 30)),
            "critical": int(rng.integers(0, 3)),
            "severe": int(rng.integers(0, 8)),
            "moderate": int(rng.integers(0, 20)),
            "exploits": int(rng.integers(0, 4)),
            "malwareKits": int(rng.integers(0, 2)),
        },
    }


def _forti(rng: np.random.Generator, i: int) -> dict:
    return {
        "_id": {"$oid": f"{i:024x}"},
        "accessIp": f"172.16.{(i >> 8) & 255}.{i & 255}",
        "name": f"fw-edge-{i:05d}",
        "naturalId": f"FGT60F-{i:05d}",
        "approved": bool(i % 2),
        "unmanaged": not bool(i % 2),
        "deviceType": {"vendor": "Fortinet", "model": "FortiGate 60F", "version": f"7.{i % 5}"},
    }


def write_bronze(seed: int, index: int, root: str, n_rapid7: int, n_forti: int) -> tuple[int, int]:
    """Land one bronze batch: one pretty-printed JSON document per file
    under ``root/<topic>/``, each file corrupt with probability
    ``SHARES['bronze_corrupt']``. Returns (valid records, bytes written)."""
    rng = rng_for(seed, 6, index)
    valid = written = 0
    for topic, n, make in (
        ("rapid7.assets.raw", n_rapid7, _rapid7),
        ("fortisiem.devices.raw", n_forti, _forti),
    ):
        d = Path(root) / topic
        d.mkdir(parents=True, exist_ok=True)
        for j in range(n):
            uid = index * 100_000 + j
            body = json.dumps(make(rng, uid), indent=2)
            if rng.random() < SHARES["bronze_corrupt"]:
                body = body[: len(body) // 2]  # truncated document
            else:
                valid += 1
            p = d / f"b{index:05d}_{j:05d}.json"
            p.write_text(body)
            written += len(body)
    return valid, written


# -- serve request mixes --------------------------------------------------------


def requests(seed: int, per_batch: dict[str, int], doc_texts: list[str], n_vecs: int):
    """Endless serve request batches. Each request is (kind, payload):

    - ``ivfpq``: index of a query vector;
    - ``bm25``: 2-3 query terms;
    - ``rrf``: (terms, query vector index);
    - ``probe``: eight texts, half of them drawn from indexed documents.

    A batch holds ``per_batch[kind]`` requests of each kind in a seeded
    order. From the second batch on, every other request slot repeats
    the previous batch's payload (``query_batch_overlap`` = one half),
    so consecutive batches share terms and vectors."""
    rng = rng_for(seed, 7)
    prev: list[tuple[str, object]] = []
    k = 0
    while True:
        batch = []
        for kind, n in per_batch.items():
            for _ in range(n):
                slot = len(batch)
                if prev and (k + slot) % 2 == 1:
                    batch.append(prev[slot])
                    continue
                terms = [VOCAB[i] for i in rng.choice(60, size=int(rng.integers(2, 4)), replace=False)]
                vec = int(rng.integers(n_vecs))
                if kind == "ivfpq":
                    batch.append((kind, vec))
                elif kind == "bm25":
                    batch.append((kind, terms))
                elif kind == "rrf":
                    batch.append((kind, (terms, vec)))
                else:
                    held = [doc_texts[int(i)] for i in rng.integers(0, len(doc_texts), 4)]
                    batch.append((kind, held + [random_text(rng) for _ in range(4)]))
        prev = batch
        k += 1
        yield [batch[i] for i in rng.permutation(len(batch))]


def event_seed(seed: int, index: int) -> int:
    """Seed option for the ``eventgen`` source for ingest batch ``index``."""
    return int(rng_for(seed, 8, index).integers(1, 2**31 - 1))


#: Estimated raw size of one eventgen row (five fixed-width fields plus
#: the event_type string and the short JSON props payload).
EVENT_ROW_BYTES = 46
