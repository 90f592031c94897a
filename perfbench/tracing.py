"""Traced-run instrumentation, kept entirely in the benchmark's files.

- ``Tracer`` keeps spans in memory (name, start, end, parent) and
  writes them out at the end; self time is a span's duration minus what
  its children cover.
- ``instrument`` wraps the public layer functions the operators call
  (``sources.table``, ``cache.cached_df``/``cached_value``,
  ``scratch.stage_once``) in every loaded program module that holds a
  reference to them, so each call becomes a child span of the query
  build that made it. No program file is changed.
- ``ProgressCounter`` is a ``StreamingQueryListener`` counting
  micro-batches and their trigger time, and noting which query started
  each stream, so ``fold_stream_groups`` can credit the stream's jobs
  to that query's build.
- ``parse_event_log`` turns Spark's JSON event log into per-job-group
  task, shuffle, spill, GC and Python-worker totals with stdlib json.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PKG = "python_etl_sample_spark"


class Tracer:
    """In-memory spans. ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            **attrs,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def totals(self, within: dict | None = None) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds.

        ``within`` restricts to the descendants of that span.
        """
        spans = self.spans
        if within is not None:
            keep = {within["id"]}
            for s in spans[within["id"] + 1 :]:  # children follow parents
                if s["parent"] in keep:
                    keep.add(s["id"])
            keep.discard(within["id"])
            spans = [s for s in spans if s["id"] in keep]
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            d["count"] += 1
            d["total_s"] += dur
            d["self_s"] += dur - child_time[s["id"]]
        return out


def instrument(tracer: Tracer) -> None:
    """Wrap the layer entry points in every loaded program module."""
    from python_etl_sample_spark import cache, scratch
    from python_etl_sample_spark.sources import tables

    orig_table, orig_df = tables.table, cache.cached_df
    orig_value, orig_stage = cache.cached_value, scratch.stage_once

    def table(spark, sf_dir, name):
        tracer.count("sources.table_calls")
        with tracer.span("sources.table", table=name):
            return orig_table(spark, sf_dir, name)

    def _memo(kind, orig, spark, key, builder):
        built = []

        def timed_builder():
            built.append(True)
            with tracer.span("cache.build"):
                return builder()

        with tracer.span(kind):
            out = orig(spark, key, timed_builder)
        tracer.count("cache.misses" if built else "cache.hits")
        return out

    def cached_df(spark, key, builder):
        return _memo("cache.cached_df", orig_df, spark, key, builder)

    def cached_value(spark, key, builder):
        return _memo("cache.cached_value", orig_value, spark, key, builder)

    def stage_once(name, sf_dir, write_fn):
        def timed_write(path):
            with tracer.span("scratch.write"):
                write_fn(path)

        tracer.count("scratch.stage_calls")
        with tracer.span("scratch.stage_once"):
            return orig_stage(name, sf_dir, timed_write)

    wrappers = {
        id(orig_table): table,
        id(orig_df): cached_df,
        id(orig_value): cached_value,
        id(orig_stage): stage_once,
    }
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            w = wrappers.get(id(val))
            if w is not None:
                setattr(mod, attr, w)


class ProgressCounter(StreamingQueryListener):
    """Counts micro-batches and their trigger-execution time.

    Spark runs a stream's micro-batch jobs on the stream's own thread,
    under a job group named by the stream's runId. ``run_groups`` maps
    each runId to ``group``, the job group the benchmark had set when
    the stream started; Spark calls ``onQueryStarted`` synchronously on
    the starting thread, while the build that started it is running.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.batch_s = 0.0
        self.group = "-"
        self.run_groups: dict[str, str] = {}

    def onQueryStarted(self, event) -> None:
        self.run_groups[str(event.runId)] = self.group

    def onQueryProgress(self, event) -> None:
        ms = event.progress.durationMs.get("triggerExecution", 0)
        with self._lock:
            self.batches += 1
            self.batch_s += ms / 1000.0

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> tuple[int, float]:
        with self._lock:
            return self.batches, self.batch_s


#: SQL metrics that Spark's Python exec nodes report per task
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"

_MB = 1024.0 * 1024.0


def _zero() -> dict[str, float]:
    return defaultdict(float)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Totals per job group from one uncompressed JSON-lines event log.

    Scheduler delay follows the Spark UI: task wall time minus executor
    run, deserialize, result-serialize and getting-result time.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(_zero)
    python_stages: set[int] = set()
    stage_run: dict[int, float] = defaultdict(float)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Completion Time") is not None:
                    group = stage_group.get(info["Stage ID"], "-")
                    out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                group = stage_group.get(sid, "-")
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g = out[group]
                g["tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                g["sched_delay_s"] += max(
                    0,
                    wall
                    - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - info.get("Getting Result Time", 0),
                ) / 1000.0
                g["run_s"] += run_ms / 1000.0
                g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                g["scan_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
                rd = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / _MB
                wr = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
                g["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / _MB
                stage_run[sid] += run_ms / 1000.0
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in (PY_SENT, PY_RECEIVED):
                        python_stages.add(sid)
                        key = "py_to_worker_mb" if name == PY_SENT else "py_from_worker_mb"
                        g[key] += float(acc.get("Update") or 0) / _MB
    for sid in python_stages:
        out[stage_group.get(sid, "-")]["py_stage_run_s"] += stage_run[sid]
    return out


def fold_stream_groups(
    groups: dict[str, dict[str, float]], run_groups: dict[str, str]
) -> dict[str, dict[str, float]]:
    """Credit each stream's jobs to the job group that started the stream."""
    out: dict[str, dict[str, float]] = defaultdict(_zero)
    for key, g in groups.items():
        dest = out[run_groups.get(key, key)]
        for k, v in g.items():
            dest[k] += v
    return out


def _span(totals: dict, name: str, key: str = "self_s") -> float:
    return totals.get(name, {}).get(key, 0.0)


def layer_metrics(
    setup: dict, setup_counts: dict, rec: dict, groups: dict
) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of one traced pass, with the run's set-up spans.

    ``setup`` and ``rec["span_totals"]`` come from ``Tracer.totals``;
    ``groups`` from ``parse_event_log`` after ``fold_stream_groups``,
    keyed ``p<pass>|<query>|build`` or ``|run``. Times are self times unless the name says otherwise.
    """
    idx, spans, counts = rec["pass"], rec["span_totals"], rec["counts"]
    prefix = f"p{idx}|"
    build = [g for k, g in groups.items() if k.startswith(prefix) and k.endswith("|build")]
    run = [g for k, g in groups.items() if k.startswith(prefix) and k.endswith("|run")]

    def tot(gs, key):
        return sum(g.get(key, 0.0) for g in gs)

    hits, misses = counts.get("cache.hits", 0), counts.get("cache.misses", 0)
    cat = rec["catalyst"]
    batches, batch_s = rec["streaming"]
    out = {
        # set-up (-> setup_s)
        "session.start_s": (_span(setup, "session.start", "total_s"), "s"),
        "registry.load_s": (_span(setup, "registry.load", "total_s"), "s"),
        "scratch.stage_calls": (setup_counts.get("scratch.stage_calls", 0), "count"),
        "scratch.stage_s": (_span(setup, "scratch.stage_once", "total_s"), "s"),
        "cache.build_s": (_span(setup, "cache.build"), "s"),
        "warm.python_s": (_span(setup, "warm.python", "total_s"), "s"),
        "warm.stream_s": (_span(setup, "warm.stream", "total_s"), "s"),
        # one timed pass
        "operators.build_s": (_span(spans, "operators.build"), "s"),
        "operators.build_jobs": (tot(build, "jobs"), "count"),
        "sources.table_calls": (counts.get("sources.table_calls", 0), "count"),
        "sources.table_s": (_span(spans, "sources.table"), "s"),
        "catalyst.analysis_s": (cat["analysis_s"], "s"),
        "catalyst.optimization_s": (cat["optimization_s"], "s"),
        "catalyst.planning_s": (cat["planning_s"], "s"),
        "catalyst.plan_nodes": (cat["plan_nodes"], "count"),
        "catalyst.exchanges": (cat["exchanges"], "count"),
    }
    out["exec.wall_s"] = (_span(spans, "materialize"), "s")
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("sched_delay_s", "s"), ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
        ("scan_mb", "MB"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"),
    ):
        out[f"exec.{key}"] = (tot(run, key), unit)
    out.update({
        "cache.hits": (hits, "count"),
        "cache.misses": (misses, "count"),
        "cache.hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "cache.storage_mb": (rec["storage_mb"], "MB"),
        "py.mb_to_worker": (tot(build + run, "py_to_worker_mb"), "MB"),
        "py.mb_from_worker": (tot(build + run, "py_from_worker_mb"), "MB"),
        "py.stage_run_s": (tot(build + run, "py_stage_run_s"), "s"),
        "streaming.batches": (batches, "count"),
        "streaming.batch_s": (batch_s, "s"),
    })
    return out
