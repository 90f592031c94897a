"""End-to-end benchmark of python_etl_sample_spark.

    python3 perfbench/run.py --workload etl_core --seed 1 --seconds 12 --trace 0

One process, one client, queries one at a time (a closed loop) on
``local[N]`` with N = min(4, cpu count):

- set-up (``setup_s``), from process start to the first timed query:
  operator registration, SparkSession start (with the JVM launch) and
  the warm-up the workload's queries need: the ``bench.py``
  Python-worker, streaming, staged-read and shared-intermediate lists
  restricted to the workload, each run through the noop sink.
- timed passes over the workload's queries, each pass in a new order
  drawn from ``--seed``. The timed action per query is its build,
  ``queries()[name](spark, sf_dir)``, plus a full materialization
  through the ``noop`` sink, so every row and column is computed and
  nothing moves to the driver. Passes repeat until ``--seconds`` have
  passed, at least three.

Reported: ``setup_s``; ``pass_s``, the median pass wall time;
``query_s.p50``/``p85`` over each query's median time in the run; and
``retained_heap_mb``, the driver JVM heap still in use after a full
collection at the end of set-up (memos, cached blocks, plan caches).
The peak resident memory of the driver JVM plus the Python driver is
printed too; it swings by a fifth between identical runs with the
collector's heap sizing, so it is not gated. After the last pass every
timed DataFrame is checked against its recorded oracle-matched digest,
outside the timed region; queries that raise, mismatch or return a
streaming frame are failures. The ``scan_projected`` sentinel is timed
before and after every pass so that a run on a contended machine can be
told apart; it is printed, not gated.

``--trace 1`` runs with Spark's event log on and the query name in the
job group, records spans in the set-up and in every other pass (odd
passes are traced, even ones not), and reports per-layer metrics: the
set-up spans, and for the passes the median over traced passes of span
self times, Catalyst phase times, and the ``exec.*``/``py.*`` totals
parsed from the event log. ``trace.overhead_s`` is the median traced
pass minus the median warm untraced pass of the same run; the event log
is on for both, so its own cost is not in that figure. Spans and
metrics are written to ``perfbench/.work/trace/``.

Everything the run writes stays under ``perfbench/.work``. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import data  # noqa: E402
import plans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 3
SENTINEL = "scan_projected"
#: bench.py warm-up lists, in bench.py's order, and their span names
WARM_LISTS = {
    "WARM_PYTHON": "warm.python",
    "WARM_STREAMING": "warm.stream",
    "STAGED_READS": "warm.staged",
    "SHARED_INTERMEDIATE": "warm.memo",
}
#: the job groups a traced run sets; every job must fall in one of them
KNOWN_GROUP = re.compile(r"setup|sentinel|check\|.+|p\d+\|.+\|(build|run)")
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_s.p50": "s",
    "query_s.p85": "s",
    "retained_heap_mb": "MB",
}


def configure_process(event_log: bool) -> None:
    """Environment for the JVM and Python workers, set before Spark starts.

    Every directory Spark, the Python workers and the program's scratch
    staging write to is under ``data.WORK``.
    """
    work = data.WORK
    for sub in ("tmp", "spark-local", "warehouse", "eventlog", "scratch", "trace"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    # the program defaults to an 8g heap; at these input sizes 2g runs as
    # fast and with the same retained heap, at half the peak RSS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(data.REPO_ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the launcher's too: temp files here, no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": work / "warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
        "spark.eventLog.dir": f"file://{work / 'eventlog'}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )
    sys.path.insert(0, str(data.REPO_ROOT))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 1]."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def retained_heap_mb(spark) -> float:
    """Driver JVM heap in use after a full collection, in MiB.

    Unlike peak RSS it does not depend on when the collector chose to
    grow the heap. Taken after set-up, where the work done is fixed; at
    the end of a run it would also count Spark's retained records of
    however many passes fitted in ``--seconds``.
    """
    spark._jsc.sc().listenerBus().waitUntilEmpty()  # status records settled
    gc.collect()  # drop Python's handles on JVM objects first
    jvm = spark._jvm
    for _ in range(3):
        # Spark's ContextCleaner frees blocks of collected broadcasts and
        # shuffles on its own thread, polling every 100 ms; give it time
        # between collections so the figure does not depend on its timing
        jvm.java.lang.System.gc()
        time.sleep(0.25)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        from tracing import Tracer

        self.args = args
        self.traced = bool(args.trace)
        self.workload = args.workload
        self.queries = list(WORKLOADS[args.workload])
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.passes: list[dict] = []
        self.failures: dict[str, str] = {}

    # -- set-up ------------------------------------------------------
    def setup(self, t0: float) -> None:
        from tracing import ProgressCounter, instrument

        tr = self.tracer
        with tr.span("setup") as self.setup_span:
            with tr.span("registry.load"):
                from python_etl_sample_spark.registry import REGISTRY, load_all_operators

                load_all_operators()
            with tr.span("session.start"):
                from python_etl_sample_spark.session import get_spark

                spark = self.spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
            import bench
            from python_etl_sample_spark import scratch

            scratch._ROOT = str(data.WORK / "scratch")
            if self.traced:
                instrument(tr)
                self.progress = ProgressCounter()
                spark.streams.addListener(self.progress)
            self.qs = {n: s.fn for n, s in REGISTRY.items()}
            self._group("setup")
            with tr.span("warm.jvm"):
                self.qs["agg_groupby"](spark, self.sf_dir).collect()
            wanted = set(self.queries)
            for lst, span in WARM_LISTS.items():
                with tr.span(span):
                    for name in getattr(bench, lst):
                        if name in wanted:
                            with tr.span("warm.query", query=name):
                                df = self.qs[name](spark, self.sf_dir)
                                if not df.isStreaming:
                                    noop_write(df)
        self.setup_s = time.perf_counter() - t0
        self.setup_counts = dict(tr.counts)
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    # -- one timed pass ------------------------------------------------
    def timed_pass(self, idx: int, traced: bool) -> dict:
        """One pass over the workload in seed order; returns its record."""
        tr, spark = self.tracer, self.spark
        rec: dict = {"pass": idx, "traced": traced}
        rec["sentinel_before_s"] = self._sentinel()
        catalyst = dict.fromkeys(
            ("analysis_s", "optimization_s", "planning_s", "plan_nodes", "exchanges"), 0.0
        )
        if traced:
            batches0 = self._streaming_progress()
        times: dict[str, float] = {}
        frames: dict = {}
        tr.enabled = traced
        counts0 = dict(tr.counts)
        with tr.span("pass", index=idx) as pass_span:
            t_pass = time.perf_counter()
            for name in self.pass_order(idx):
                try:
                    t_q = time.perf_counter()
                    with tr.span("query", query=name):
                        with tr.span("operators.build"):
                            self._group(f"p{idx}|{name}|build")
                            df = self.qs[name](spark, self.sf_dir)
                        if df.isStreaming:
                            raise TypeError("query returned a streaming DataFrame")
                        if traced:
                            with tr.span("catalyst"):
                                plan_stats(df, catalyst)
                        with tr.span("materialize"):
                            self._group(f"p{idx}|{name}|run")
                            noop_write(df)
                    times[name] = time.perf_counter() - t_q
                    frames[name] = df
                except Exception as e:  # a failing query is reported, not fatal
                    self.failures.setdefault(name, f"pass {idx}: {type(e).__name__}: {e}")
                    traceback.print_exc(file=sys.stderr)
            rec["pass_s"] = time.perf_counter() - t_pass
        rec["query_s"] = times
        if traced:
            rec["span_totals"] = tr.totals(within=pass_span)
            rec["counts"] = {k: v - counts0.get(k, 0) for k, v in tr.counts.items()}
            rec["catalyst"] = catalyst
            b1 = self._streaming_progress()
            rec["streaming"] = (b1[0] - batches0[0], b1[1] - batches0[1])
            infos = spark._jsc.sc().getRDDStorageInfo()
            rec["storage_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        tr.enabled = self.traced
        rec["sentinel_after_s"] = self._sentinel()
        self.last_frames = frames
        return rec

    def pass_order(self, idx: int) -> list[str]:
        """Pass ``idx``'s query order: a permutation drawn from the seed.

        A fresh permutation per pass keeps a run's medians from resting
        on one order's cache and JIT effects.
        """
        order = list(self.queries)
        random.Random(f"{self.args.seed}:{idx}").shuffle(order)
        return order

    def _group(self, group: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, group)
            self.progress.group = group

    def _sentinel(self) -> float:
        self._group("sentinel")
        t = time.perf_counter()
        noop_write(self.qs[SENTINEL](self.spark, self.sf_dir))
        return time.perf_counter() - t

    def _streaming_progress(self) -> tuple[int, float]:
        self.spark._jsc.sc().listenerBus().waitUntilEmpty()
        return self.progress.snapshot()

    # -- result check --------------------------------------------------
    def check(self) -> None:
        """Digest every frame of the final pass against its reference."""
        from checks import check, load_reference, result_digest

        ref = load_reference()
        for name, df in self.last_frames.items():
            with self.tracer.span("check", query=name):
                self._group(f"check|{name}")
                try:
                    why = check(ref.get(name), result_digest(df))
                except Exception as e:  # reported as a failed check
                    why = f"check raised {type(e).__name__}: {e}"
            if why:
                self.failures.setdefault(name, f"check: {why}")

    # -- the run -------------------------------------------------------
    def execute(self) -> None:
        t_data = time.perf_counter()
        self.sf_dir = data.fixture_dir()
        configure_process(self.traced)
        # fixture lookup is input preparation, not program set-up
        self.setup(T_PROCESS + (time.perf_counter() - t_data))
        self.retained_heap_mb = retained_heap_mb(self.spark)
        t_first = time.perf_counter()
        while True:
            idx = len(self.passes)
            self.passes.append(self.timed_pass(idx, self.traced and idx % 2 == 1))
            n = len(self.passes)
            if n < MIN_PASSES + self.traced:
                continue
            # with tracing, end after a traced pass so warm passes pair up
            if time.perf_counter() - t_first >= self.args.seconds and not (
                self.traced and n % 2 == 1
            ):
                break
        self.check()
        self.peak_rss_mb = (
            vm_hwm_mb(self.jvm_pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        self.app_id = self.spark.sparkContext.applicationId

    def shutdown(self) -> None:
        """Stop Spark and the JVM this process launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        # this process's scratch staging (the program keys it by pid)
        for d in (data.WORK / "scratch").glob(f"*/pid{os.getpid()}"):
            shutil.rmtree(d, ignore_errors=True)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        # the gateway JVM exits when its stdin closes; py4j's own shutdown
        # can block on the streaming-listener callback socket
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- metrics -------------------------------------------------------
    def per_query(self) -> dict[str, float]:
        """Median time of each query that never failed, over untraced passes."""
        out = {}
        for name in self.queries:
            ts = [p["query_s"][name] for p in self.passes
                  if not p["traced"] and name in p["query_s"]]
            if ts and name not in self.failures:
                out[name] = median(ts)
        return out

    def end_to_end(self) -> dict[str, float]:
        qt = list(self.per_query().values()) or [float("nan")]
        return {
            "setup_s": self.setup_s,
            "pass_s": median([p["pass_s"] for p in self.passes if not p["traced"]]),
            "query_s.p50": percentile(qt, 0.50),
            "query_s.p85": percentile(qt, 0.85),
            "retained_heap_mb": self.retained_heap_mb,
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Set-up spans, then medians over traced passes; event log parsed once."""
        from tracing import fold_stream_groups, layer_metrics, parse_event_log

        log = data.WORK / "eventlog" / self.app_id
        groups = fold_stream_groups(parse_event_log(str(log)), self.progress.run_groups)
        log.unlink()
        stray = sorted(k for k in groups if not KNOWN_GROUP.fullmatch(k))
        if stray:
            raise RuntimeError(f"event-log jobs outside any benchmark job group: {stray}")
        self.groups = groups
        setup = self.tracer.totals(within=self.setup_span)
        traced = [p for p in self.passes if p["traced"]]
        per_pass = [layer_metrics(setup, self.setup_counts, p, groups) for p in traced]
        out = {
            k: (median([m[k][0] for m in per_pass]), unit)
            for k, (_, unit) in per_pass[0].items()
        }
        warm_untraced = [p["pass_s"] for p in self.passes[1:] if not p["traced"]]
        out["trace.overhead_s"] = (
            median([p["pass_s"] for p in traced]) - median(warm_untraced), "s"
        )
        return out


def plan_stats(df, acc: dict) -> None:
    """Phase times and plan shape of the query's own QueryExecution.

    The noop write plans again under its own QueryExecution; these are
    the times Catalyst spends on the query as built.
    """
    qe = df._jdf.queryExecution()
    lines = [ln for ln in qe.executedPlan().toString().splitlines() if ln.strip()]
    phases = qe.tracker().phases()
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            acc[f"{k}_s"] += phases.apply(k).durationMs() / 1000.0
    nodes = plans.node_counts("\n".join(lines))
    acc["plan_nodes"] += len(lines)
    acc["exchanges"] += nodes["Exchange"] + nodes["BroadcastExchange"]


def report(run: Run) -> int:
    attempted = len(run.queries)
    failed = len(run.failures)
    print(
        f"perfbench workload={run.workload} seed={run.args.seed} "
        f"queries={attempted} passes={len(run.passes)} trace={run.args.trace} "
        f"local[{os.environ.get('SPARK_GRAFT_CPUS')}]"
    )
    for p in run.passes:
        print(
            f"  pass {p['pass']}{' traced' if p['traced'] else ''}: "
            f"{p['pass_s']:.3f} s; sentinel {SENTINEL} "
            f"{p['sentinel_before_s']:.3f} s before, {p['sentinel_after_s']:.3f} s after"
        )
    per_query = run.per_query()
    e2e = run.end_to_end()
    for name, value in e2e.items():
        extra = f" (n={len(per_query)} queries)" if name.startswith("query_s.") else ""
        print(f"{name} {value:.4f} {END_TO_END_UNITS[name]}{extra}")
    print(f"failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted})")
    print(f"peak_rss_mb {run.peak_rss_mb:.1f} MB (driver JVM + Python driver; not gated)")
    for name, why in sorted(run.failures.items()):
        print(f"  FAILED {name}: {why}")
    slow = sorted(per_query.items(), key=lambda kv: -kv[1])
    print("query_s medians: " + ", ".join(f"{k} {v:.3f}" for k, v in slow))
    if run.traced:
        metrics = run.per_layer()
        for name, (value, unit) in metrics.items():
            print(f"{name} {value:.4f} {unit}")
        write_trace(run, metrics)
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def write_trace(run: Run, metrics: dict) -> None:
    out = data.WORK / "trace" / f"{run.workload}-seed{run.args.seed}.json"
    with open(out, "w") as f:
        json.dump(
            {
                "workload": run.workload,
                "seed": run.args.seed,
                "per_layer": metrics,
                "job_groups": run.groups,
                "self_times": run.tracer.totals(),
                "passes": run.passes,
                "spans": run.tracer.spans,
            },
            f,
        )
    print(f"trace written to {out.relative_to(data.REPO_ROOT)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = data.program_missing()
    if missing:
        print(f"perfbench: cannot run: {missing}", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        run.execute()
    finally:
        run.shutdown()
    return report(run)


if __name__ == "__main__":
    raise SystemExit(main())
