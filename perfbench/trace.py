"""Per-call accounting for the lakehouse benchmark.

A :class:`Tracer` wraps each call the benchmark makes into an engine
layer. Untraced, a call runs directly. Traced, it records one span —
layer, name, start, end, parent span, operation id, Spark jobs launched
and process-tree CPU seconds — in memory; spans are written out once,
at the end of a run.

Jobs are counted from the status tracker's job-id range across the
call (newest job id after minus newest before), so jobs launched from
engine worker threads count too; grouping by job group would miss them.
CPU is user+system time of this process and its live descendants (the
JVM does the work), read from ``/proc``. An operation's own CPU
(:func:`work_cpu_s`) leaves out the JVM's JIT compiler threads.

The pure functions at the bottom (tail percentile, self time, per-op
layer totals, medians) carry the arithmetic the metrics are built from.
"""

from __future__ import annotations

import os
import resource
import statistics
import time
from contextlib import contextmanager

LAYERS = [
    "sources",
    "registry",
    "pipeline",
    "streaming",
    "storage",
    "dedup",
    "textindex",
    "similarity",
    "retrieval",
    "operators",
    "tables",
    "session",
]


def _proc_table() -> dict[str, tuple[str, int]]:
    """pid -> (ppid, utime+stime clock ticks) for every live process."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # raced a process exit
        out[p] = (parts[1], int(parts[11]) + int(parts[12]))
    return out


def descendants(procs: dict, root: str | None = None) -> set[str]:
    root = root or str(os.getpid())
    desc: set[str] = set()
    changed = True
    while changed:
        changed = False
        for p, (ppid, *_rest) in procs.items():
            if p not in desc and p != root and (ppid == root or ppid in desc):
                desc.add(p)
                changed = True
    return desc


def tree_cpu_s(procs: dict | None = None) -> float:
    """CPU seconds used so far by this process, its reaped children and
    its live descendant tree."""
    me = resource.getrusage(resource.RUSAGE_SELF)
    reaped = resource.getrusage(resource.RUSAGE_CHILDREN)
    total = me.ru_utime + me.ru_stime + reaped.ru_utime + reaped.ru_stime
    procs = procs or _proc_table()
    tick = os.sysconf("SC_CLK_TCK")
    return total + sum(procs[p][1] for p in descendants(procs)) / tick


def cpu_snapshot() -> tuple[float, dict[str, int]]:
    """Process-tree CPU seconds so far, and the CPU clock ticks of each
    live JIT compiler thread in the tree (thread id -> ticks)."""
    procs = _proc_table()
    jit = {}
    for p in descendants(procs):
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            head, rest = raw.rsplit(")", 1)
            if "CompilerThre" in head:  # HotSpot's "C1/C2 CompilerThread<n>"
                parts = rest.split()
                jit[tid] = int(parts[11]) + int(parts[12])
    return tree_cpu_s(procs), jit


def work_cpu_s(before: tuple[float, dict[str, int]], after: tuple[float, dict[str, int]]) -> float:
    """Process-tree CPU seconds between two :func:`cpu_snapshot` calls,
    less what the JIT compiler threads spent meanwhile. Compilation is
    warm-up whose amount depends on timing, not on the work asked for;
    a compiler thread that exited in between counts as idle."""
    (c0, j0), (c1, j1) = before, after
    jit = sum(t - j0.get(tid, 0) for tid, t in j1.items())
    return c1 - c0 - jit / os.sysconf("SC_CLK_TCK")


#: Iterations of the reference loop (about 0.1 s of one core).
REF_ITERS = 1_000_000


def reference_cpu_s() -> float:
    """CPU seconds this thread takes for a fixed pure-Python loop: how
    fast the machine's cores run right now, to read beside a run's
    times. Nothing of the engine runs in it."""
    t0 = time.thread_time()
    acc = 0
    for i in range(REF_ITERS):
        acc += i ^ 0x5F
    return time.thread_time() - t0


def host_cpu_ticks() -> tuple[int, int]:
    """(all, stolen) clock ticks of the machine's CPUs so far, from
    ``/proc/stat``; their deltas give the share of time the hypervisor
    ran someone else on this machine's CPUs."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return sum(t[:8]), t[7]


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process and its
    live descendants, in MiB."""
    procs = _proc_table()
    total_kb = 0
    for p in descendants(procs) | {str(os.getpid())}:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Tracer:
    """Span recorder. ``enabled`` may be flipped between operations so
    one run can interleave traced and untraced rounds."""

    def __init__(self, spark=None):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.op_id: int | None = None
        self._tracker = spark.sparkContext.statusTracker() if spark else None

    def last_job_id(self) -> int:
        if self._tracker is None:
            return -1
        ids = list(self._tracker.getJobIdsForGroup(None))
        ids += list(self._tracker.getActiveJobsIds())
        return max(ids, default=-1)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer, name):
            return fn(*args, **kwargs)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        s = {
            "id": self._next_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "layer": layer,
            "name": name,
            "failed": False,
        }
        self._next_id += 1
        s["job0"] = self.last_job_id()
        s["cpu0"] = tree_cpu_s()
        self._stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield
        except BaseException:
            s["failed"] = True
            raise
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            s["cpu"] = tree_cpu_s() - s.pop("cpu0")
            s["jobs"] = max(0, self.last_job_id() - s.pop("job0"))
            self.spans.append(s)


# -- arithmetic -----------------------------------------------------------------


def tail_rank(n: int) -> tuple[float, int] | None:
    """The tail point of ``n`` sorted samples: the highest percentile
    that still has at least ten samples beyond it. Returns
    (percentile, zero-based index into the ascending samples), or None
    when that point would not lie above the median (fewer than 21
    samples)."""
    if n < 21:
        return None
    idx = n - 11  # exactly ten samples lie above this one
    return 100.0 * (idx + 1) / n, idx


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, samples beyond) per :func:`tail_rank`."""
    r = tail_rank(len(values))
    if r is None:
        return None
    pct, idx = r
    return sorted(values)[idx], pct, len(values) - idx - 1


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, dict]:
    """Per span id: ``busy`` (end - start), ``self`` (busy minus the time
    covered by its direct children, clipped to the span), and the
    span's own jobs and CPU with its children's subtracted."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ch = kids.get(s["id"], [])
        covered = _union_len(
            [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in ch
             if min(c["end"], s["end"]) > max(c["start"], s["start"])]
        )
        busy = s["end"] - s["start"]
        out[s["id"]] = {
            "busy": busy,
            "self": max(0.0, busy - covered),
            "jobs": max(0, s.get("jobs", 0) - sum(c.get("jobs", 0) for c in ch)),
            "cpu": max(0.0, s.get("cpu", 0.0) - sum(c.get("cpu", 0.0) for c in ch)),
        }
    return out


def op_layer_totals(spans: list[dict]) -> dict[int, dict[str, dict]]:
    """op id -> layer -> {busy_s, self_s, jobs, cpu_s, calls, failed}.
    ``busy_s`` is the union of the layer's span intervals (a layer call
    nested in the same layer is not counted twice); jobs and CPU are
    the spans' own shares, so they add up across layers."""
    st = self_times(spans)
    per: dict[int, dict[str, dict]] = {}
    iv: dict[tuple[int, str], list] = {}
    for s in spans:
        d = per.setdefault(s["op"], {}).setdefault(
            s["layer"],
            {"busy_s": 0.0, "self_s": 0.0, "jobs": 0, "cpu_s": 0.0, "calls": 0, "failed": 0},
        )
        d["self_s"] += st[s["id"]]["self"]
        d["jobs"] += st[s["id"]]["jobs"]
        d["cpu_s"] += st[s["id"]]["cpu"]
        d["calls"] += 1
        d["failed"] += int(s["failed"])
        iv.setdefault((s["op"], s["layer"]), []).append((s["start"], s["end"]))
    for (op, layer), ivs in iv.items():
        per[op][layer]["busy_s"] = _union_len(ivs)
    return per


def unattributed(op_wall: float, layer_totals: dict[str, dict]) -> float:
    """Operation wall time not inside any layer's own (self) time."""
    return op_wall - sum(d["self_s"] for d in layer_totals.values())


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
