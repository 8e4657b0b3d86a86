"""Per-layer attribution for the traced run (``--trace 1``).

Every layer is measured from outside the engine:

- ``catalog.table`` and the ``io``/``bam`` ``write_*`` functions are
  timed by wrapping them wherever a ``virapipe_spark`` module holds a
  reference to them;
- construction, Catalyst and execution are the three phases of one
  entry, split by wall clock and, for Spark jobs, by job group
  (``<workload>:<entry>:<pass>:construct`` and ``...:execute``);
- the Catalyst phases come from the final DataFrame's
  ``QueryPlanningTracker``;
- job, stage and task metrics, and the Python-worker SQL metrics, come
  from the uncompressed Spark event log that only the traced run enables.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from collections import defaultdict

#: Python-worker SQL metrics (milliseconds or bytes), summed over tasks.
ARROW_METRICS = {
    "time to run Python workers": ("arrow.python_run_s", 1e-3),
    "time to start Python workers": ("arrow.python_start_s", 1e-3),
    "data sent to Python workers": ("arrow.bytes_to_python", 1),
    "data returned from Python workers": ("arrow.bytes_from_python", 1),
}

#: Execute-phase task metrics: event-log key path -> (metric, scale).
TASK_METRICS = {
    ("Executor Run Time",): ("execution.executor_run_s", 1e-3),
    ("Executor CPU Time",): ("execution.executor_cpu_s", 1e-9),
    ("JVM GC Time",): ("execution.gc_s", 1e-3),
    ("Shuffle Write Metrics", "Shuffle Bytes Written"): ("execution.shuffle_write_bytes", 1),
    ("Shuffle Read Metrics", "Remote Bytes Read"): ("execution.shuffle_read_bytes", 1),
    ("Shuffle Read Metrics", "Local Bytes Read"): ("execution.shuffle_read_bytes", 1),
    ("Shuffle Read Metrics", "Fetch Wait Time"): ("execution.fetch_wait_s", 1e-3),
    ("Memory Bytes Spilled",): ("execution.spill_bytes", 1),
    ("Disk Bytes Spilled",): ("execution.spill_bytes", 1),
}

#: Whole-entry input bytes of every file scan (both phases).
IO_TASK_METRICS = {
    ("Input Metrics", "Bytes Read"): ("io.bytes_read", 1),
}

SESSION_METRICS = ["session.start_s", "catalog.load_all_s", "setup.warm_tables_s"]

#: Every per-layer metric, in report order, with its unit.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.load_all_s": "s",
    "setup.warm_tables_s": "s",
    "catalog.table_calls": "count",
    "catalog.table_s": "s",
    "catalog.table_calls_per_table": "ratio",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execution.execute_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.executor_run_s": "s",
    "execution.executor_cpu_s": "s",
    "execution.gc_s": "s",
    "execution.shuffle_write_bytes": "bytes",
    "execution.shuffle_read_bytes": "bytes",
    "execution.fetch_wait_s": "s",
    "execution.spill_bytes": "bytes",
    "execution.failed_tasks": "count",
    "execution.persisted_rdds_leaked": "count",
    "arrow.python_run_s": "s",
    "arrow.python_start_s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "io.write_calls": "count",
    "io.write_s": "s",
    "io.bytes_written": "bytes",
    "io.bytes_read": "bytes",
    "trace.overhead_s": "s",
}


class Tracer:
    """Collects child spans of the entry that is running now.

    ``install`` swaps ``catalog.table`` and every ``io``/``bam``
    ``write_*`` function for a timing wrapper in each loaded
    ``virapipe_spark`` module that references it. ``enabled`` switches
    recording off for the untraced comparison passes.
    """

    def __init__(self, t0: float):
        self.t0 = t0
        self.enabled = True
        self.spans: list[dict] = []
        self._io_depth = 0

    def install(self) -> None:
        from virapipe_spark import bam, catalog, io

        targets = {id(catalog.table): ("catalog.table", catalog.table)}
        for mod in (io, bam):
            for attr in dir(mod):
                fn = getattr(mod, attr)
                if attr.startswith("write_") and callable(fn):
                    targets[id(fn)] = (f"io.{attr}", fn)
        wrapped = {key: self._wrap(kind, fn) for key, (kind, fn) in targets.items()}
        for name, mod in list(sys.modules.items()):
            if not name.startswith("virapipe_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped and callable(val):
                    setattr(mod, attr, wrapped[id(val)])

    def _wrap(self, kind: str, fn):
        is_io = kind.startswith("io.")

        def timed(*args, **kwargs):
            if not self.enabled or (is_io and self._io_depth):
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            self._io_depth += is_io
            try:
                return fn(*args, **kwargs)
            finally:
                self._io_depth -= is_io
                span = {"name": kind, "start": t0 - self.t0,
                        "end": time.perf_counter() - self.t0}
                if kind == "catalog.table":
                    span["table"] = args[2] if len(args) > 2 else kwargs.get("name")
                else:
                    span["bytes"] = tree_bytes(args[1] if len(args) > 1 else kwargs["path"])
                self.spans.append(span)

        timed.__wrapped__ = fn
        return timed

    def take(self) -> list[dict]:
        spans, self.spans = self.spans, []
        return spans


def tree_bytes(path: str) -> int:
    """Bytes in the file or directory tree a writer produced at ``path``."""
    path = path.removeprefix("file://").removeprefix("file:")
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` and return its tracker's phase durations in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application logged under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith((".", "appstatus")):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _dig(d: dict, path: tuple[str, ...]):
    for key in path:
        if not isinstance(d, dict) or key not in d:
            return 0
        d = d[key]
    return d or 0


def group_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and the summed task metrics.

    A group id ends in ``:construct`` or ``:execute``; jobs with no group
    are collected under ``""``. ``events`` holds whole applications one
    after another; stage ids restart with each application.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            stage_group = {}
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = out[stage_group.get(ev.get("Stage ID"), "")]
            m["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            for path, (metric, scale) in {**TASK_METRICS, **IO_TASK_METRICS}.items():
                m[metric] += _dig(tm, path) * scale
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                hit = ARROW_METRICS.get(acc.get("Name"))
                if hit:
                    m[hit[0]] += float(acc.get("Update") or 0) * hit[1]
    return {g: dict(m) for g, m in out.items()}
