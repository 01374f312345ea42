#!/usr/bin/env python3
"""Lakehouse benchmark: closed-loop ``ingest`` (writes) and ``serve``
(reads) workloads driven through the engine's public functions from one
single-threaded client.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --list-metrics

Run from the repository root. Each run sets up ``SETUP_REPS`` times
(session start, input generation, empty lake), keeps the last set-up,
runs one warm phase (index pre-build, warm-up operations), then the
timed loop: one whole round of operations (two with ``--trace 1``),
then more operations until ``--seconds`` have passed. Each operation's
wall time and its process-tree CPU time less JIT compilation are
recorded. ``--trace 1`` alternates untraced and traced rounds: traced
rounds record a span per layer call and yield the per-layer metrics,
the untraced ones the trace overhead. Outputs are checked after the
loop; a failed check fails the run.

Everything a run writes lives under a fresh ``.perfbench_tmp/``
directory in the checkout (Spark local dirs, warehouse, temp files,
tables and indexes) and is removed at the end; traced runs leave their
spans in ``.perfbench_out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
PKG = "event_to_lakehouse_spark"
#: Set-ups per run; setup_s is the median set-up plus the one warm phase.
SETUP_REPS = 3


def _env(tmp: Path) -> None:
    """Point every scratch location of the session at ``tmp`` and size
    the session to the machine (the engine's own variables)."""
    (tmp / "spark-local").mkdir(parents=True)
    (tmp / "tmp").mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(CHECKOUT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(512, min(2048, mem_mb // 4))}m"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for every
    process this run started to exit."""
    from pyspark import SparkContext

    from perfbench.trace import _proc_table, descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            pass
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = descendants(_proc_table())
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(int(p), signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)
        if time.time() > deadline + 10:
            return


class Ctx:
    def __init__(self, seed: int):
        self.seed = seed
        self.spark = None
        self.tracer = None


def run(args, tmp: Path) -> dict:
    from event_to_lakehouse_spark.session import get_spark

    from perfbench import metrics, trace, workloads

    ctx = Ctx(args.seed)
    setup_s: list[float] = []
    session_s: list[float] = []
    for rep in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
            shutil.rmtree(tmp / f"rep{rep - 1}", ignore_errors=True)
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        session_s.append(time.perf_counter() - t0)
        ctx.tracer = trace.Tracer(ctx.spark)
        w = workloads.WORKLOADS[args.workload](ctx)
        w.prepare(tmp / f"rep{rep}")
        setup_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    w.warm()
    warm_s = time.perf_counter() - t0
    tr = ctx.tracer

    ops: list[tuple[str, float, float, int]] = []  # untraced (kind, wall, CPU, Spark jobs)
    traced_kinds: list[tuple[str, float]] = []
    traced_ops: dict[int, float] = {}
    extras: dict[int, dict] = {}
    errors: list[str] = []
    labels: list[str] = []
    attempted = failed = 0
    rounds = 0  # completed rounds
    ref_s = [trace.reference_cpu_s() for _ in range(3)]
    t_start = time.perf_counter()

    def enough() -> bool:
        return rounds >= 1 + args.trace and time.perf_counter() - t_start >= args.seconds

    while not enough():
        traced = bool(args.trace) and rounds % 2 == 1
        for label, op in w.round():
            op_id = attempted
            attempted += 1
            before = w.walk() if traced else None
            tr.op_id, tr.enabled = op_id, traced
            c0, h0, j0 = trace.cpu_snapshot(), trace.host_cpu_ticks(), tr.last_job_id()
            t0 = time.perf_counter()
            try:
                post = op()
            except Exception:
                post = None
                failed += 1
                errors.append(traceback.format_exc(limit=3))
            wall = time.perf_counter() - t0
            cpu, h1 = trace.work_cpu_s(c0, trace.cpu_snapshot()), trace.host_cpu_ticks()
            jobs = tr.last_job_id() - j0
            tr.enabled = False
            if post is not None:
                extra = post() or {}
                if traced:
                    extra.update(w.storage_delta(before, extra))
                    traced_ops[op_id] = wall
                    traced_kinds.append((label, wall))
                else:
                    ops.append((label, wall, cpu, jobs))
                steal = (h1[1] - h0[1]) / max(1, h1[0] - h0[0])
                labels.append(f"{label}={wall:.3f}" + ("*" if traced else "")
                              + f"/cpu{cpu:.2f}/j{jobs}/st{steal:.0%}")
                extras[op_id] = extra
            if enough():
                break  # the required whole rounds are done; the last may stop part-way
        else:
            rounds += 1
    loop_s = time.perf_counter() - t_start
    ref_s += [trace.reference_cpu_s() for _ in range(3)]

    t0 = time.perf_counter()
    fails = errors + w.check()
    check_s = time.perf_counter() - t0
    if fails and not errors:
        failed = attempted  # a failed output check fails every operation it covers
    rss = trace.tree_peak_rss_mb()
    values, notes = metrics.end_to_end(ops, setup_s, warm_s, rss, ref_s)
    info = {k: values.pop(k) for k in list(values) if k not in metrics.GATED}
    info.update({
        "failed_ops_frac": failed / attempted,
        "stored_bytes_per_input_byte": w.stored_bytes() / max(1, w.input_bytes()),
        "recall_at_k": getattr(w, "recall", 0.0),
    })
    phases = (f"set-ups {' '.join(f'{x:.2f}' for x in setup_s)}, warm {warm_s:.2f}, "
              f"loop {loop_s:.2f} ({rounds} whole rounds), check {check_s:.2f}")
    result = {"fails": fails, "attempted": attempted, "failed": failed, "notes": notes, "ops": labels,
              "phases": phases}
    if args.trace:
        lm = metrics.layer_metrics(tr.spans, traced_ops, extras)
        lm["session.start_s"] = statistics.median(session_s)
        lm["session.cold_start_s"] = session_s[0]
        lm["similarity.recall_at_k"] = info["recall_at_k"]
        both = {k for k, _ in traced_kinds} & {o[0] for o in ops}
        lm["trace.overhead_frac"] = (metrics.typical_op([o for o in traced_kinds if o[0] in both])
                                     / metrics.typical_op([(o[0], o[1]) for o in ops if o[0] in both]) - 1.0)
        lm.update(info)
        result["metrics"] = lm
        result["units"] = dict(metrics.per_layer_names())
        out = CHECKOUT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"spans_{args.workload}_s{args.seed}.json").write_text(json.dumps(tr.spans))
    else:
        result["metrics"] = values
        result["units"] = metrics.GATED
        result["info"] = {k: (v, metrics.INFO_UNITS[k]) for k, v in info.items()}
    return result


def list_metrics() -> int:
    doc = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    for kind in ("end_to_end", "per_layer"):
        for m in doc[kind]:
            print(f"{kind:10s} {m['name']:36s} {m['unit']}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list-metrics", action="store_true")
    args = ap.parse_args(argv)
    if args.list_metrics:
        return list_metrics()
    if args.workload is None:
        ap.error("--workload is required")
    if not (CHECKOUT / PKG / "__init__.py").is_file():
        print(f"perfbench: the {PKG} package is not next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(CHECKOUT))
    tmp_root = CHECKOUT / ".perfbench_tmp"
    tmp = tmp_root / f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    _env(tmp)
    os.chdir(tmp)
    result = None
    try:
        result = run(args, tmp)
    except Exception:
        traceback.print_exc()
    finally:
        try:
            from pyspark.sql import SparkSession

            _stop_spark(SparkSession.getActiveSession())
        except ImportError:
            pass
        os.chdir(CHECKOUT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass
    if result is None:
        return 1
    for msg in result["fails"]:
        print(f"FAILED: {msg.strip()}")
    print("phases (s): " + result["phases"])
    print("operations (wall s, * = traced / process-tree CPU s less JIT / Spark jobs / host CPU stolen): "
          + " ".join(result["ops"]))
    for name, v in result["metrics"].items():
        note = result["notes"].get(name, "")
        print(f"{name:36s} {v:.6g} {result['units'][name]}" + (f"  ({note})" if note else ""))
    for name, (v, unit) in result.get("info", {}).items():
        note = result["notes"].get(name, "not gated")
        print(f"{name:36s} {v:.6g} {unit}  ({note})")
    correct = not result["fails"]
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": result["units"][k]} for k, v in result["metrics"].items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
