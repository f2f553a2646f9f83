"""Per-key profiler for the optimization rounds: wall time, Spark job
count, and the formatted plan of the returned DataFrame.

Usage:
    python tools/profile_keys.py KEY [KEY...] [--reps N] [--plan DIR]

Each key's DataFrame is built at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1)
and timed through one ``count()`` on a ``get_spark`` session, after a
warmup; ``--plan DIR`` writes
``<key>.txt`` with ``explain('formatted')`` of the returned relation
(the artifact the judge checks plan claims against).  Job count comes
from the status tracker delta around the timed region — fixture
staging, certification collects and the final count all show up, which
is exactly the per-key overhead this round is hunting.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # audit_plans


def main() -> None:
    args = sys.argv[1:]
    reps = 1
    plan_dir = None
    keys: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--plan":
            plan_dir = args[i + 1]; i += 2
        else:
            keys.append(a); i += 1

    import __spark_entry__ as E
    from dynamic_partitioner_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    qs = E.queries()
    # warm up on two small keys so the first profiled key is not
    # charged the python-worker fork
    qs["query_pruned_agg"](spark, "/root/testdata/sf0.001").count()
    qs["text_repetition"](spark, "/root/testdata/sf0.001").count()

    def all_job_ids() -> set[int]:
        # jobs submitted without a group land in the null group; the
        # engine sets none, so this enumerates every job so far
        # (public StatusTracker API — r16 review dropped the private
        # _jtracker reach-through)
        return set(spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(None) or [])

    out = {}
    for key in keys:
        if key not in qs:
            print(f"!! unknown key {key}", file=sys.stderr)
            continue
        samples = []
        n_jobs = None
        for r in range(reps):
            ids_before = all_job_ids()
            t0 = time.time()
            df = qs[key](spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            samples.append(round(dt, 3))
            n_jobs = len(all_job_ids() - ids_before)
            if plan_dir and r == 0:
                # ONE plan-capture implementation feeds every judge
                # artifact (r16 review): reuse audit_plans'
                # public-API formatted_plan instead of a second,
                # private-internals copy that could drift
                from audit_plans import formatted_plan
                os.makedirs(plan_dir, exist_ok=True)
                with open(os.path.join(plan_dir, f"{key}.txt"), "w") as f:
                    f.write(formatted_plan(df))
        out[key] = {"samples": samples, "rows": n, "jobs": n_jobs}
        print(f"{key}: {samples} s, {n} rows, {n_jobs} jobs", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
