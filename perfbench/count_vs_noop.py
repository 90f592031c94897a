"""Old timed action against the new one, recorded once per workload.

    python3 perfbench/count_vs_noop.py

``bench.py`` times ``build + df.count()``; this benchmark times
``build + noop-sink write``. In one session, warmed up for every
workload's queries, each query is timed under both actions, interleaved
and alternating which goes first, ``REPS`` times. The result records
each action's total over the workload (sum of per-query medians) and
the queries whose ``count()`` plan drops Exchange or Python exec nodes
that the query's own plan contains. Writes ``results/count_vs_noop.json``
and prints a markdown summary.
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parent))

import data  # noqa: E402
import plans  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

OUT = Path(__file__).resolve().parent / "results" / "count_vs_noop.json"
REPS = 3


def time_action(fn, spark, sf_dir, action: str) -> float:
    t = time.perf_counter()
    df = fn(spark, sf_dir)
    if action == "count":
        df.count()
    else:
        run.noop_write(df)
    return time.perf_counter() - t


def main() -> int:
    report: dict = {
        "machine": f"{platform.machine()}, {os.cpu_count()} cpus, local[{min(4, os.cpu_count() or 1)}]",
        "reps": REPS,
        "workloads": {},
    }
    # one session, warmed for every workload's queries
    r = run.Run(SimpleNamespace(workload=next(iter(WORKLOADS)), seed=0, seconds=0, trace=0))
    r.queries = [q for qs in WORKLOADS.values() for q in qs]
    r.sf_dir = data.fixture_dir()
    run.configure_process(event_log=False)
    try:
        r.setup(time.perf_counter())
        spark, qs = r.spark, r.qs
        for wl, queries in WORKLOADS.items():
            times: dict[str, dict[str, list[float]]] = {}
            for rep in range(REPS):
                for i, name in enumerate(queries):
                    first, second = ("count", "noop") if (rep + i) % 2 else ("noop", "count")
                    t = times.setdefault(name, {"count": [], "noop": []})
                    t[first].append(time_action(qs[name], spark, r.sf_dir, first))
                    t[second].append(time_action(qs[name], spark, r.sf_dir, second))
            pruned = {}
            for name in queries:
                df = qs[name](spark, r.sf_dir)
                own = plans.node_counts(plans.plan_tree(df._jdf.queryExecution()))
                counted = plans.node_counts(
                    plans.plan_tree(df.groupBy().count()._jdf.queryExecution())
                )
                lost = plans.dropped(own, counted)
                if lost:
                    pruned[name] = lost
            med = {n: {a: run.median(v) for a, v in t.items()} for n, t in times.items()}
            report["workloads"][wl] = {
                "count_total_s": sum(m["count"] for m in med.values()),
                "noop_total_s": sum(m["noop"] for m in med.values()),
                "count_plan_drops": pruned,
                "per_query_s": med,
            }
    finally:
        r.shutdown()
    OUT.parent.mkdir(exist_ok=True)
    OUT.write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    print(f"count() vs noop sink, {report['machine']}, median of {REPS} interleaved reps")
    print("| workload | count() total s | noop total s | queries whose count() plan drops nodes |")
    print("|---|---|---|---|")
    for name, w in report["workloads"].items():
        drops = ", ".join(f"`{q}` {d}" for q, d in sorted(w["count_plan_drops"].items()))
        print(f"| {name} | {w['count_total_s']:.2f} | {w['noop_total_s']:.2f} | {drops or 'none'} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
