"""Per-query Spark JOB counter + wall/CPU profile for the r16
optimization round: how many jobs does one execution of a query
launch, and where does the wall time go?

Usage: python tools/job_profile.py [--runs 2] [--sf-dir ...] name...

Job ids come from the status tracker (works with spark.ui.enabled
false): a query's jobs are the job-id range its execution spans, so
jobs started from threads without the caller's job group (a
foreachBatch stream thread) count too. Job ids count up from 0, so the
newest id is found by walking up from the newest one seen. One JSON line per query:
{"query", "jobs", "wall", "cpu", ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    args = sys.argv[1:]
    runs = 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif a == "--sf-dir":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(a)
            i += 1

    import bench
    from event_to_lakehouse_spark.catalog import QUERIES
    from event_to_lakehouse_spark.session import get_spark

    spark = get_spark("job-profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracker = sc.statusTracker()

    def last_job_id(after: int) -> int:
        j = max([after, *tracker.getJobIdsForGroup(None)])
        while tracker.getJobInfo(j + 1) is not None:
            j += 1
        return j

    last = -1

    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(json.dumps({"query": name, "err": "unknown"}), flush=True)
            continue
        try:
            # warm-up
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out = {"query": name, "jobs": [], "wall": [], "cpu": []}
            for r in range(runs):
                group = f"jobprofile:{name}:{r}"
                sc.setJobGroup(group, group)
                try:
                    j0 = last = last_job_id(last)
                    c0 = bench._tree_cpu_sec()
                    t0 = time.time()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    out["wall"].append(round(time.time() - t0, 3))
                    out["cpu"].append(round(bench._tree_cpu_sec() - c0, 3))
                    last = last_job_id(j0)
                    out["jobs"].append(last - j0)
                finally:
                    sc.setJobGroup(None, None)  # clear, not an empty group
            print(json.dumps(out), flush=True)
        except Exception as e:
            print(json.dumps({"query": name, "err": str(e)[:200]}), flush=True)


if __name__ == "__main__":
    main()
