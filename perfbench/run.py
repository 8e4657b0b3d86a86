"""Closed-loop benchmark of the catalog engine, one workload per run.

    python3 perfbench/run.py --workload sql --seed 1 --seconds 15 --trace 0

One Spark driver process reads a copy of the engine's sf0.01 testdata
(perfbench/data/, inside the checkout), sets the engine up, runs the
workload's entries once cold, checks every entry's output in an untimed
pass, runs one untimed warm-up pass, then a fixed number of timed warm
passes (``--seconds`` over the workload's nominal pass time, rounded up;
three at least), each entry through a noop sink on ``local[nproc]``.
Each pass runs the entries in an order drawn from ``--seed``; the seed
is the only input that varies. The first set-up is timed from process
start. Set-up is then repeated twice (stop the SparkContext, drop and
re-import the engine modules, start a new session, ``load_all``, warm
the tables) and the median of the three set-ups reported.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full record (environment,
seed, per-pass order, per-entry times, spans and layer detail) goes to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``. ``--workload
full`` runs each of the four full workloads in its own process.

The command exits non-zero, without a result line, when the engine is
missing, and with ``correct: false`` and exit code 1 when any entry
raises or fails its output check.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

T_PROC = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import layers  # noqa: E402
from workloads import FULL, WORKLOADS  # noqa: E402

#: Copies of the engine's testdata (one directory per scale factor).
DATA = os.path.join(HERE, "data")

#: The end-to-end metrics the result line reports (BENCHMARK.json).
E2E_UNITS = {
    "setup_s": "s",
    "first_setup_s": "s",
    "oneshot_s": "s",
    "warm_pass_s": "s",
    "query_geomean_s": "s",
}
#: Also measured, side file only: their run-to-run spread on a shared
#: 4-core host came too close to, or exceeded, the largest bound a
#: registered metric may have. ``oneshot_s`` carries the cold pass.
SIDE_UNITS = {"cold_pass_s": "s", "slowest_query_s": "s", "peak_rss_mb": "MB"}
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: Warm passes per run at least.
MIN_WARM_PASSES = 3
#: The traced run's minimum: it interleaves traced and untraced warm
#: passes as ABBA.
MIN_TRACED_WARM_PASSES = 4


def pin_env(work: str) -> int:
    """Pin the run environment for this process and every child (the
    Spark JVM and its Python workers): core count, Spark local dirs,
    temp dirs and the import path of the engine."""
    cpus = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        JAVA_TOOL_OPTIONS=" ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if p
        ),
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return cpus


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    """PIDs of every live descendant of ``pid``."""
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            continue
        for k in kids:
            out += [k, *descendants(k)]
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.workload = args.workload
        spec = WORKLOADS[args.workload]
        self.entries, self.tables = spec["entries"], spec["tables"]
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.data = os.path.join(DATA, f"sf{args.sf}")
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.tracer = None
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.checks: list[dict] = []
        self.t0 = T_PROC  # the first set-up starts at process start
        self.work = work

    # -- set-up ---------------------------------------------------------
    def conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self, start: float) -> None:
        """Engine import, session start, ``catalog.load_all`` and table
        warm-up; the first call also pays the interpreter's imports and
        the JVM launch."""
        from virapipe_spark import catalog
        from virapipe_spark.session import session

        self.spark = session(app_name=f"perfbench_{self.workload}", extra_conf=self.conf())
        t1 = time.perf_counter()
        catalog.load_all()
        t2 = time.perf_counter()
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(f"{self.workload}:setup:{len(self.setups)}:warm", "warm-up")
        for t in self.tables:
            catalog.table(self.spark, self.data, t).limit(1).count()
        if self.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t3 = time.perf_counter()
        self.setups.append({
            "setup_s": t3 - start,
            "session.start_s": t1 - start,
            "catalog.load_all_s": t2 - t1,
            "setup.warm_tables_s": t3 - t2,
        })

    def stop(self) -> None:
        self.spark.stop()
        self.spark = None

    def restart(self) -> None:
        """Stop the session, drop the engine's modules so the next set-up
        imports and registers them again, and set up anew. The JVM stays."""
        self.stop()
        for name in [m for m in sys.modules if m.split(".")[0] == "virapipe_spark"]:
            del sys.modules[name]
        self.setup(time.perf_counter())

    # -- timed passes ---------------------------------------------------
    def run_entry(self, name: str, pass_id: str, traced: bool) -> dict:
        """Construct one entry and write it to the noop sink. The traced
        run tags every entry's jobs with a construct and an execute job
        group; a traced entry also records spans, Catalyst phases and the
        persisted-RDD count."""
        from virapipe_spark import catalog

        sc = self.spark.sparkContext
        grouped = self.traced
        gid = f"{self.workload}:{name}:{pass_id}"
        rec: dict = {"entry": name}
        if self.tracer:
            self.tracer.take()
            self.tracer.enabled = traced
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            if grouped:
                sc.setJobGroup(gid + ":construct", gid)
            df = catalog.QUERIES[name](self.spark, self.data)
            t1 = time.perf_counter()
            if traced:
                rec.update(layers.catalyst_phases(df))
            if grouped:
                sc.setJobGroup(gid + ":execute", gid)
            t2 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # noqa: BLE001 -- any failure is counted
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
        t3 = time.perf_counter()
        rec["s"] = t3 - t0
        if grouped:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            rec["group"] = gid
        if traced:
            rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
            rec["spans"] = self._spans(gid, t0, t1, t2, t3)
        return rec

    def _spans(self, gid: str, t0, t1, t2, t3) -> list[dict]:
        """The entry's span and its children; all carry the entry's id."""

        def span(name, a, b, parent=None):
            return {"id": gid, "name": name, "parent": parent,
                    "start": a - self.t0, "end": b - self.t0}

        spans = [span("entry", t0, t3)]
        if t1 is not None:
            spans.append(span("construct", t0, t1, "entry"))
            spans += [dict(s, id=gid, parent="construct") for s in self.tracer.take()]
        if t2 is not None:
            spans.append(span("catalyst", t1, t2, "entry"))
            spans.append(span("execute", t2, t3, "entry"))
        return spans

    def run_pass(self, pass_id: str, traced: bool) -> dict:
        order = list(self.entries)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        recs = [self.run_entry(n, pass_id, traced) for n in order]
        p = {"pass": pass_id, "traced": traced, "s": time.perf_counter() - t0,
             "order": order, "entries": recs}
        self.passes.append(p)
        return p

    # -- output check ---------------------------------------------------
    def check_pass(self) -> None:
        """Untimed: collect every entry; compare oracle-backed entries
        with DuckDB over the same parquet, and require rows-only entries
        to return the same non-zero row count on two executions."""
        import duckdb
        from virapipe_spark import catalog
        from virapipe_spark.oracle_compare import compare_frames

        con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(self.data, "*.parquet"))):
            t = os.path.basename(path).removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        order = list(self.entries)
        self.rng.shuffle(order)
        sc = self.spark.sparkContext
        for name in order:
            rec: dict = {"entry": name}
            t0 = time.perf_counter()
            try:
                sc.setJobGroup(f"{self.workload}:{name}:check:execute", name)
                sdf = catalog.QUERIES[name](self.spark, self.data).toPandas()
                rec["rows"] = len(sdf)
                if name in catalog.ORACLES:
                    ddf = con.execute(catalog.ORACLES[name]).df()
                    problems = compare_frames(sdf, ddf, strict=True)
                else:
                    again = catalog.QUERIES[name](self.spark, self.data).count()
                    problems = [] if 0 < len(sdf) == again else [
                        f"rows-only: {len(sdf)} then {again} rows"]
                if problems:
                    rec["error"] = "; ".join(problems)[:400]
            except Exception as e:  # noqa: BLE001
                rec["error"] = f"{type(e).__name__}: {e}"[:400]
            rec["s"] = time.perf_counter() - t0
            self.checks.append(rec)
        sc.setLocalProperty("spark.jobGroup.id", None)
        con.close()

    # -- the run ----------------------------------------------------------
    def warm_passes(self) -> int:
        """The number of timed warm passes: ``--seconds`` over the
        workload's nominal warm-pass time, rounded up. The count is fixed
        by the arguments, not by the clock: the warm-pass times still fall
        from pass to pass, so a run that fits one pass more in its window
        would report a lower median."""
        a = self.args
        if a.warm_passes is not None:
            return a.warm_passes
        least = MIN_TRACED_WARM_PASSES if self.traced else MIN_WARM_PASSES
        return max(least, math.ceil(a.seconds / WORKLOADS[self.workload]["pass_s"]))

    def run(self) -> None:
        self.setup(self.t0)
        if self.traced:
            self.tracer = layers.Tracer(self.t0)
            self.tracer.install()
        self.run_pass("cold", self.traced)
        self.oneshot_s = time.perf_counter() - self.t0
        # The untimed output check and one untimed warm pass are the
        # warm-up before the timed passes: the warm-pass times fall steeply
        # over the first passes after the cold one, while the JIT compiles
        # the query path.
        if self.tracer:
            self.tracer.enabled = False
        py_hwm_mb = vm_hwm_mb("self")  # before DuckDB is loaded
        t_check = time.perf_counter()
        self.check_pass()
        self.check_s = time.perf_counter() - t_check
        self.run_pass("warmup", self.traced)
        for k in range(1, self.warm_passes() + 1):
            # the traced run interleaves traced and untraced warm passes
            # (ABBA) so it can report its own overhead
            self.run_pass(f"w{k}", self.traced and k % 4 in (1, 0))
        if self.tracer:
            self.tracer.enabled = False
        from pyspark import SparkContext

        self.peak_rss_mb = py_hwm_mb + vm_hwm_mb(SparkContext._gateway.proc.pid)
        for _ in range(1, SETUPS):
            self.restart()

    def shutdown(self) -> None:
        """Stop Spark, end the JVM gateway and wait for it and for every
        process it started (the Python worker daemon and its workers)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        children = descendants(proc.pid)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [c for c in children if os.path.exists(f"/proc/{c}")]
            time.sleep(0.05)
        for c in children:
            try:
                os.kill(c, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- metrics --------------------------------------------------------
    def failures(self) -> list[dict]:
        recs = [r for p in self.passes for r in p["entries"]] + self.checks
        return [r for r in recs if "error" in r]

    def attempted(self) -> int:
        return sum(len(p["entries"]) for p in self.passes) + len(self.checks)

    def warm(self, traced: bool | None = None) -> list[dict]:
        return [p for p in self.passes if p["pass"] not in ("cold", "warmup")
                and (traced is None or p["traced"] == traced)]

    def end_to_end(self) -> tuple[dict[str, float], dict[str, float]]:
        warm = self.warm(False if self.traced else None) or self.warm()
        per_entry = {
            n: median([r["s"] for p in warm for r in p["entries"]
                       if r["entry"] == n and "error" not in r])
            for n in self.entries
        }
        ok = [v for v in per_entry.values() if v == v]
        return {
            "setup_s": median([s["setup_s"] for s in self.setups]),
            "first_setup_s": self.setups[0]["setup_s"],
            "oneshot_s": self.oneshot_s,
            "cold_pass_s": self.passes[0]["s"],
            "warm_pass_s": median([p["s"] for p in warm]),
            "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in ok)) if ok else float("nan"),
            "slowest_query_s": max(ok) if ok else float("nan"),
            "peak_rss_mb": self.peak_rss_mb,
        }, per_entry

    def per_layer(self) -> tuple[dict[str, float], dict]:
        groups = layers.group_metrics(layers.read_event_log(self.event_dir))
        traced = self.warm(True) or self.passes[:1]
        per_pass = [self._pass_layers(p, groups) for p in traced]
        out = {m: median([pp[m] for pp in per_pass]) for m in per_pass[0]}
        for m in layers.SESSION_METRICS:
            out[m] = median([s[m] for s in self.setups])
        out["trace.overhead_s"] = (
            median([p["s"] for p in self.warm(True)])
            - median([p["s"] for p in self.warm(False)])
        ) if self.warm(False) else float("nan")
        detail = {p["pass"]: {r["entry"]: self._entry_layers(r, groups) for r in p["entries"]}
                  for p in self.passes if p["traced"]}
        return {m: out[m] for m in layers.PER_LAYER_UNITS}, {"groups": groups, "passes": detail}

    @staticmethod
    def _entry_layers(r: dict, groups: dict) -> dict:
        """Layer metrics of one traced entry."""
        spans = r["spans"]
        tables = [s for s in spans if s["name"] == "catalog.table"]
        writes = [s for s in spans if s["name"].startswith("io.")]
        phase = {s["name"]: s["end"] - s["start"] for s in spans if s["parent"] in (None, "entry")}
        con = groups.get(r["group"] + ":construct", {})
        exe = groups.get(r["group"] + ":execute", {})
        m = {
            "catalog.table_calls": len(tables),
            "catalog.table_s": span_s(tables),
            "catalog.tables": sorted({s["table"] for s in tables}),
            "queries.construct_s": phase.get("construct", 0.0) - span_s(tables) - span_s(writes),
            "queries.construct_jobs": con.get("jobs", 0),
            "execution.execute_s": phase.get("execute", 0.0),
            "execution.jobs": exe.get("jobs", 0),
            "execution.stages": exe.get("stages", 0),
            "execution.tasks": exe.get("tasks", 0),
            "execution.failed_tasks": exe.get("failed_tasks", 0),
            "execution.persisted_rdds_leaked": r["persisted_rdds"],
            "io.write_calls": len(writes),
            "io.write_s": span_s(writes),
            "io.bytes_written": sum(s["bytes"] for s in writes),
        }
        for k in ("analysis", "optimization", "planning"):
            m[f"catalyst.{k}_s"] = r.get(f"catalyst.{k}_s", 0.0)
        for metric, _ in layers.TASK_METRICS.values():
            m[metric] = exe.get(metric, 0.0)
        for metric, _ in [*layers.ARROW_METRICS.values(), *layers.IO_TASK_METRICS.values()]:
            m[metric] = con.get(metric, 0.0) + exe.get(metric, 0.0)
        return m

    def _pass_layers(self, p: dict, groups: dict) -> dict:
        """Layer metrics of one traced pass: sums over its entries, except
        the calls-per-table ratio and the persisted-RDD high-water mark."""
        rows = [self._entry_layers(r, groups) for r in p["entries"]]
        total = {k: sum(m[k] for m in rows) for k in rows[0] if k != "catalog.tables"}
        distinct = {t for m in rows for t in m["catalog.tables"]}
        total["catalog.table_calls_per_table"] = (
            total["catalog.table_calls"] / len(distinct) if distinct else 0.0)
        total["execution.persisted_rdds_leaked"] = max(
            m["execution.persisted_rdds_leaked"] for m in rows)
        return total


def span_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def finite(x: float) -> float | None:
    """JSON has no NaN: a metric that could not be measured is null."""
    return None if isinstance(x, float) and math.isnan(x) else x


def environment(cpus: int, sf: float, seed: int) -> dict:
    import pyspark

    return {"cpus": cpus, "sf": sf, "seed": seed, "pyspark": pyspark.__version__,
            "python": sys.version.split()[0]}


def run_group(args, names) -> int:
    """Run each workload in its own process and print, for each, every
    end-to-end metric (side-file ones and ``failed_frac`` included)."""
    results, rc = {}, 0
    units = {**E2E_UNITS, **SIDE_UNITS, "failed_frac": "ratio"}
    for name in names:
        side = os.path.join(ROOT, ".perfbench_out", f"{name}-seed{args.seed}-trace0.json")
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", "0", "--sf", str(args.sf), "--out", side]
        if args.warm_passes is not None:
            cmd += ["--warm-passes", str(args.warm_passes)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or not lines:
            print(f"{name}: exit code {proc.returncode}, no result", file=sys.stderr)
            return proc.returncode or 2
        rc = max(rc, proc.returncode)
        results[name] = json.loads(lines[-1])
        with open(side) as fh:
            rec = json.load(fh)
        values = {**rec["end_to_end"], "failed_frac": rec["failed_frac"]}
        for m, unit in units.items():
            print(f"{name:12s} {m:18s} {values[m]:.6g} {unit}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{m}": v for w, r in results.items() for m, v in r["metrics"].items()},
    }))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "full"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=["0.01", "0.001"],
                    help="scale factor of the testdata copy to read")
    ap.add_argument("--warm-passes", type=int, default=None,
                    help="run exactly this many warm passes instead of --seconds")
    ap.add_argument("--out", default=None, help="side-file path")
    args = ap.parse_args(argv)
    if args.workload == "full":
        return run_group(args, FULL)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        cpus = pin_env(work)
        bench = Bench(args, work)
        try:
            bench.run()
        finally:
            bench.shutdown()
        e2e, per_entry = bench.end_to_end()
        result = {
            "workload": args.workload,
            "environment": environment(cpus, float(args.sf), args.seed),
            "entries": bench.entries,
            "end_to_end": e2e,
            "failed_frac": len(bench.failures()) / bench.attempted(),
            "per_entry_warm_s": per_entry,
            "setups": bench.setups,
            "check_s": bench.check_s,
            "run_s": time.perf_counter() - T_PROC,
            "passes": bench.passes,
            "checks": bench.checks,
            "failures": bench.failures(),
        }
        if bench.traced:
            result["per_layer"], result["layer_detail"] = bench.per_layer()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    out = args.out or os.path.join(
        ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1, default=str)

    failed = len(result["failures"])
    metrics, units = (
        (result["per_layer"], layers.PER_LAYER_UNITS) if bench.traced else (e2e, E2E_UNITS))
    env = result["environment"]
    print(f"perfbench {args.workload}: cpus={env['cpus']} sf={env['sf']} seed={env['seed']} "
          f"pyspark={env['pyspark']} failed_frac={result['failed_frac']:.4g} side={out}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted(),
        "failed": failed,
        "metrics": {m: {"value": finite(metrics[m]), "unit": units[m]} for m in units},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
