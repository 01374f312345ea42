"""Turn one run's operation timings and spans into metric values."""

from __future__ import annotations

import math
import statistics

from .trace import LAYERS, median_or_zero, op_layer_totals, self_times, tail, unattributed

LAYER_STATS = ["busy_s", "self_s", "jobs", "cpu_s", "calls", "failed"]
OPERATOR_FAMILIES = ["tpch", "events", "graph", "stats"]

#: (metric, span layer, span-name prefixes summed per operation)
SPAN_SUMS = [
    ("storage.compact_s", "storage", ("SnapshotTable.compact_small_files",)),
    ("dedup.maintain_s", "dedup", ("ExactDedupIndex.maintain", "NearDupIndex.maintain")),
    ("textindex.add_s", "textindex", ("InvertedIndex.add_batch",)),
    ("textindex.topk_s", "textindex", ("InvertedIndex.topk",)),
    ("textindex.maintain_s", "textindex", ("InvertedIndex.maintain",)),
    ("similarity.add_s", "similarity", ("IVFPQIndex.add_batch",)),
    ("similarity.topk_s", "similarity", ("IVFPQIndex.topk",)),
    ("similarity.maintain_s", "similarity", ("IVFPQIndex.maintain",)),
]

#: (metric, key in the per-operation extras recorded by the workload)
OP_EXTRAS = [
    ("storage.commits", "commits"),
    ("storage.files_written", "files_written"),
    ("storage.bytes_written", "bytes_written"),
    ("storage.write_amp", "write_amp"),
    ("storage.live_files", "live_files"),
    ("storage.bytes_rewritten", "bytes_rewritten"),
    ("dedup.bloom_pass_frac", "bloom_pass_frac"),
    ("dedup.new_unique_frac", "new_unique_frac"),
    ("dedup.neardup_pairs", "neardup_pairs"),
]

UNITS = {
    "busy_s": "s", "self_s": "s", "jobs": "count", "cpu_s": "s", "calls": "count", "failed": "count",
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = [(f"{layer}.{k}", UNITS[k]) for layer in LAYERS for k in LAYER_STATS]
    out += [(m, "s") for m, _, _ in SPAN_SUMS]
    units = {"commits": "count", "files_written": "count", "bytes_written": "bytes", "write_amp": "ratio",
             "live_files": "count", "bytes_rewritten": "bytes", "bloom_pass_frac": "ratio",
             "new_unique_frac": "ratio", "neardup_pairs": "count"}
    out += [(m, units[k]) for m, k in OP_EXTRAS]
    out += [("similarity.recall_at_k", "ratio")]
    for fam in OPERATOR_FAMILIES:
        out += [(f"operators.{fam}.busy_s", "s"), (f"operators.{fam}.jobs", "count")]
    out += [("tables.load_s", "s"), ("session.start_s", "s"), ("session.cold_start_s", "s"), ("unattributed_s", "s"),
            ("trace.overhead_frac", "ratio"), ("ref_cpu_s", "s"), ("op_p50_s", "s"),
            ("ops_per_s", "1/s"), ("op_tail_s", "s"),
            ("stored_bytes_per_input_byte", "ratio"),
            ("recall_at_k", "ratio"), ("failed_ops_frac", "ratio")]
    return out


def layer_metrics(spans: list[dict], op_walls: dict[int, float], extras: dict[int, dict]) -> dict[str, float]:
    """Medians per operation over the traced operations ``op_walls``
    (op id -> wall seconds). A layer's values are medians over the
    operations that called it; a layer no operation called reports 0."""
    spans = [s for s in spans if s["op"] in op_walls]
    totals = op_layer_totals(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        rows = [t[layer] for t in totals.values() if layer in t]
        for k in LAYER_STATS:
            out[f"{layer}.{k}"] = median_or_zero(r[k] for r in rows)
    st = self_times(spans)
    for metric, layer, prefixes in SPAN_SUMS:
        per_op: dict[int, float] = {}
        for s in spans:
            if s["layer"] == layer and s["name"].startswith(prefixes):
                per_op[s["op"]] = per_op.get(s["op"], 0.0) + st[s["id"]]["busy"]
        out[metric] = median_or_zero(per_op.values())
    for metric, key in OP_EXTRAS:
        out[metric] = median_or_zero(e[key] for op, e in extras.items() if op in op_walls and key in e)
    for fam in OPERATOR_FAMILIES:
        busy: dict[int, float] = {}
        jobs: dict[int, float] = {}
        for s in spans:
            if s["layer"] == "operators" and s["name"].startswith(f"operators.{fam}:"):
                busy[s["op"]] = busy.get(s["op"], 0.0) + st[s["id"]]["busy"]
                jobs[s["op"]] = jobs.get(s["op"], 0) + s["jobs"]
        out[f"operators.{fam}.busy_s"] = median_or_zero(busy.values())
        out[f"operators.{fam}.jobs"] = median_or_zero(jobs.values())
    out["tables.load_s"] = out["tables.busy_s"]
    out["unattributed_s"] = median_or_zero(
        unattributed(wall, totals.get(op, {})) for op, wall in op_walls.items()
    )
    return out


def kind_medians(ops: list[tuple[str, float]]) -> dict[str, float]:
    """Median value per operation kind, from (kind, value) pairs."""
    by: dict[str, list[float]] = {}
    for kind, v in ops:
        by.setdefault(kind, []).append(v)
    return {k: statistics.median(v) for k, v in by.items()}


def typical_op(ops: list[tuple[str, float]]) -> float:
    """The typical operation's value: the geometric mean over operation
    kinds of each kind's median. A workload mixing kinds of very
    different cost gets a value every kind moves in proportion, instead
    of a median that jumps between kinds; with one kind it is that
    kind's median."""
    meds = list(kind_medians(ops).values())
    if len(meds) == 1:
        return meds[0]  # exactly, not through exp(log(x))
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


#: End-to-end metrics gated by BENCHMARK.json, with their units; the
#: rest of :func:`end_to_end`'s values are printed beside them.
GATED = {"setup_s": "s", "op_cpu_s": "s", "op_jobs": "count", "peak_rss_mb": "MB"}
INFO_UNITS = {"ref_cpu_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "op_tail_s": "s", "failed_ops_frac": "ratio",
              "stored_bytes_per_input_byte": "ratio", "recall_at_k": "ratio"}


def end_to_end(ops: list[tuple[str, float, float, int]], setup_s: list[float], warm_s: float,
               peak_rss_mb: float, ref_s: list[float]) -> tuple[dict, dict]:
    """End-to-end metric values plus notes printed beside them, from
    the untraced operations as (kind, wall seconds, CPU seconds, Spark
    jobs) and the reference-loop samples ``ref_s`` taken around the
    timed loop."""
    walls = [(k, w) for k, w, _, _ in ops]
    meds = kind_medians(walls)
    kinds = (f"geometric mean of {len(meds)} per-kind medians over {len(ops)} operations"
             if len(meds) > 1 else f"median of {len(ops)} operations")
    t = tail([w for _, w in walls])
    notes = {}
    if t is None:
        tail_s = max(w for _, w in walls)
        notes["op_tail_s"] = f"max of {len(ops)} samples (too few for the tail rule)"
    else:
        tail_s, pct, beyond = t
        notes["op_tail_s"] = f"p{pct:.1f} of {len(ops)} samples, {beyond} beyond it"
    values = {
        "setup_s": statistics.median(setup_s) + warm_s,
        "op_cpu_s": typical_op([(k, c) for k, _, c, _ in ops]),
        "op_jobs": typical_op([(k, j) for k, _, _, j in ops]),
        "ref_cpu_s": statistics.median(ref_s),
        "peak_rss_mb": peak_rss_mb,
        "op_p50_s": typical_op(walls),
        "op_tail_s": tail_s,
        # a round of one operation of each kind, each taking its median
        "ops_per_s": len(meds) / sum(meds.values()),
    }
    notes["setup_s"] = (f"median set-up of {', '.join(f'{s:.3f}' for s in setup_s)}"
                        f" + warm phase {warm_s:.3f}")
    notes["op_cpu_s"] = f"process-tree CPU less JIT compilation, {kinds}"
    notes["op_jobs"] = f"Spark jobs launched, {kinds}"
    notes["ref_cpu_s"] = (f"host speed: median of {len(ref_s)} runs of a fixed Python loop"
                          " around the timed loop; not gated")
    notes["op_p50_s"] = f"wall, {kinds}; not gated"
    notes["ops_per_s"] = f"one operation of each of {len(meds)} kinds at its median wall; not gated"
    return values, notes
