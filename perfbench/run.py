#!/usr/bin/env python3
"""The repository's benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload sql_windows --seed 1 --seconds 16 --trace 0

Run from the repository root.  The run

1. generates the input tables from ``--seed`` (``datagen.py``) into a
   temporary directory under ``perfbench/work/``, which also holds the
   Spark local dirs, the warehouse and the Delta tables, and is removed
   at exit;
2. sets the engine up ``SETUPS`` times (session, ``ADTContext``, table
   registration, one warm-up statement), stopping the session between
   set-ups; the first set-up also launches the JVM;
3. runs the workload as a closed loop, one statement at a time, in the
   last, fresh session: a cold pass (the JVM's first, in which every
   session-level cache, such as the operators' ``*_MEMO`` entries,
   misses), then timed warm passes until ``--seconds`` have passed (at
   least ``MIN_TIMED_PASSES``);
4. checks every statement's result against DuckDB, outside the timed
   region;
5. prints the host-fit settings, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` hooks the
engine's public functions (``spans.py``), keeps an uncompressed Spark
event log, and reports the per-layer metrics instead; it also writes
``perfbench/out/<workload>-seed<seed>.json`` with every span, per-
statement latencies and errors, and the plan-identity artefacts
(``bench._plan_fp`` of each statement's plan and a hash of
``translate_sql``'s output).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Set-ups per run, ``setup_s`` being their median: the first launches
#: the JVM, each later one opens a fresh session on it.
SETUPS = 3
#: Timed passes follow the cold pass directly: with the JIT limited to
#: C1 (``JIT_OPTS``) the first warm pass is already close to the later
#: ones, and a per-statement median over at least ``MIN_TIMED_PASSES``
#: passes keeps any one slow pass out of the figures.
MIN_TIMED_PASSES = 4
#: Scale factor of the generated tables (lineitem ~6k rows): statement
#: time is engine overhead — dialect, Catalyst, scheduling — which is
#: what the per-layer metrics split.
SF = 0.001
#: ``local[N]`` takes half the CPUs (at most ``MAX_CPUS``), so the JIT
#: compiler, the GC and the Python workers have cores of their own
#: rather than competing with the task threads.
MAX_CPUS = 2
MAX_DRIVER_MB = 2048
#: The JVM compiles with C1 only.  The engine is Python and SQL over a
#: fixed Spark build; with C2 the JIT keeps compiling through a minute
#: of passes (warm passes still got a third faster after 15 of them),
#: and how fast it gets there is the host's load, not the engine.
JIT_OPTS = "-XX:TieredStopAtLevel=1"

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


@dataclass
class Exec:
    """One statement execution."""

    pass_no: int
    name: str
    kind: str
    start: float
    end: float
    cpu: float = 0.0  # CPU seconds of the process tree
    result: Any = None
    error: str | None = None
    phases: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _host_settings(work: str) -> dict:
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0)) // 2))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = min(MAX_DRIVER_MB, total_mb // 4)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(work, "tmp"),
        "host_cpus": str(os.cpu_count()),
        "host_mem_mb": str(total_mb),
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    a run with high steal measured a slower host, not a slower engine."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _tree_cpu_s() -> float:
    """User+system CPU seconds of this process and every descendant
    (the JVM and its Python workers), including reaped children."""
    me = os.getpid()
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid in cpu:
        p = pid
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += cpu[pid]
    return total / os.sysconf("SC_CLK_TCK")


def _memo_entries() -> int:
    """Entries across every module-level ``*_MEMO`` dict of the engine."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if name.startswith("adt_spark"):
            for attr, val in vars(mod).items():
                if attr.endswith("_MEMO") and isinstance(val, dict):
                    n += len(val)
    return n


def _phases(df) -> dict:
    """Catalyst phase times (ms) of the statement's query execution."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # a DataFrame without a JVM plan
        return out
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            out[k] = float(phases.apply(k).durationMs())
    return out


def _stop_jvm() -> int:
    """Stop the active session and the JVM this process launched, and
    wait for the JVM to exit.  Returns the JVM's peak RSS in kB, read
    just before it stops (0 when no JVM was started)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    hwm = 0
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        hwm = int(line.split()[1])
        except OSError:
            pass
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    return hwm


class Bench:
    def __init__(self, args, work: str, settings: dict) -> None:
        self.args, self.work, self.settings = args, work, settings
        self.data_dir = os.path.join(work, "data")
        self.records: list[Exec] = []
        self.setup_s: list[float] = []
        self.pass_memo: dict[int, int] = {}
        self.tracer = None
        self.event_dir = os.path.join(work, "events")

    # -- spans ----------------------------------------------------------
    def span(self, name: str, layer: str):
        if self.tracer is None or not self.tracer.enabled:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    # -- set-up ---------------------------------------------------------
    def setup(self):
        from adt_spark import ADTContext

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.settings['TMPDIR']} -XX:-UsePerfData {JIT_OPTS}"
            ),
        }
        if self.args.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        ctx = None
        for i in range(SETUPS):
            if ctx is not None:
                ctx.spark.stop()
            t0 = time.perf_counter()
            ctx = ADTContext(app_name="perfbench", extra_conf=conf)
            ctx.register_sf_dir(self.data_dir)
            ctx.sql("SELECT count(*) AS n FROM lineitem").toPandas()
            self.setup_s.append(time.perf_counter() - t0)
        return ctx

    # -- timed loop -----------------------------------------------------
    def run_pass(self, wl, pass_no: int) -> None:
        memo0 = _memo_entries()
        for st in wl.pass_statements(pass_no):
            if self.tracer is not None:
                self.tracer.stmt = len(self.records)
            rec = Exec(pass_no, st.name, st.kind, 0.0, 0.0)
            cpu0 = _tree_cpu_s()
            rec.start = time.perf_counter()
            try:
                df, rec.result = st.run()
            except Exception as exc:  # a failing statement is counted, not fatal
                df = None
                rec.error = f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:300]}"
            rec.end = time.perf_counter()
            rec.cpu = _tree_cpu_s() - cpu0
            if self.tracer is not None and df is not None:
                rec.phases = _phases(df)
                self.last_dfs[st.name] = (df, st.sql)
            self.records.append(rec)
        self.pass_memo[pass_no] = _memo_entries() - memo0

    def pass_wall(self, pass_no: int) -> float:
        """A pass's wall: the sum of its statement latencies."""
        return sum(r.seconds for r in self.records if r.pass_no == pass_no)

    def measure(self, wl) -> range:
        """Cold pass (number 0) then timed warm passes; returns the
        timed pass numbers."""
        self.last_dfs: dict[str, tuple[Any, str | None]] = {}
        self.run_pass(wl, 0)
        p, start = 1, time.perf_counter()
        while p <= MIN_TIMED_PASSES or time.perf_counter() - start < self.args.seconds:
            self.run_pass(wl, p)
            p += 1
        return range(1, p)

    # -- correctness ----------------------------------------------------
    def check(self, wl) -> list[dict]:
        from adt_spark.testing import assert_frames_match, duckdb_connection

        con = duckdb_connection(self.data_dir)
        expected = wl.expected(con)
        failures = []
        for rec in self.records:
            if rec.error is None and rec.kind == "read":
                exp = expected(rec)
                try:
                    if exp is None:
                        raise AssertionError("no oracle result recorded")
                    assert_frames_match(rec.result, exp, rec.name)
                except AssertionError as exc:
                    rec.error = f"wrong result: {str(exc).splitlines()[0][:300]}"
            if rec.error is not None:
                failures.append({"pass": rec.pass_no, "statement": rec.name, "error": rec.error})
        con.close()
        return failures


def _peak_rss_mb(jvm_hwm_kb: int) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + jvm_hwm_kb) / 1024.0


def _end_to_end(bench: Bench, timed: range) -> dict:
    """The metrics a user sees that repeat run to run on a shared host.
    Each statement is priced at its median over the timed passes, so a
    slow execution of one statement (a GC pause, a busy neighbour) does
    not move the figure.  CPU seconds, unlike wall seconds, leave out
    the time the hypervisor gives other guests, which on a shared host
    moves a run's wall time by a fifth or more; wall throughput, the
    cold pass (a single pass at the JVM's start) and latency
    percentiles are per-layer metrics."""
    cpu: dict[str, list[float]] = {}
    for r in bench.records:
        if r.pass_no in timed:
            cpu.setdefault(r.name, []).append(r.cpu)
    return {
        "setup_s": (statistics.median(bench.setup_s), "s"),
        "cpu_s_per_stmt": (statistics.fmean(statistics.median(v) for v in cpu.values()), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "adt_spark", "__init__.py")):
        print(f"perfbench: no adt_spark package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, "work"))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    clock = {"start": time.perf_counter()}
    steal0 = _steal_s()
    settings = _host_settings(work)
    for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                "PYTHONPATH", "PYTHONDONTWRITEBYTECODE", "TMPDIR"):
        os.environ[key] = settings[key]
    os.makedirs(settings["TMPDIR"], exist_ok=True)
    tempfile.tempdir = settings["TMPDIR"]
    sys.path.insert(0, ROOT)

    import datagen

    datagen.write_tables(os.path.join(work, "data"), args.seed, SF)
    bench = Bench(args, work, settings)
    if args.trace:
        import adt_spark.queries
        import layers
        import spans

        adt_spark.queries.load_all()  # bind every module before hooking

        bench.tracer = spans.Tracer()
        bench.tracer.counters["sources.delta.replay"] = (
            lambda a, snap: layers.log_files_read(a[1], snap.version))
        bench.tracer.install_hooks()

    clock["generated"] = time.perf_counter()
    try:
        ctx = bench.setup()
        clock["set_up"] = time.perf_counter()
        app_id = ctx.spark.sparkContext.applicationId
        wl = WORKLOADS[args.workload](ctx, bench.data_dir, work, args.seed, bench.span)
        warm_passes = bench.measure(wl)
        warm = [r for r in bench.records if r.pass_no in warm_passes]
        if args.trace:
            layer = layers.Collector(bench, wl, ctx, warm_passes)
            layer.after_traced_passes()
        clock["measured"] = time.perf_counter()
        failures = bench.check(wl)
        clock["checked"] = time.perf_counter()
    finally:
        jvm_hwm = _stop_jvm()
    clock["stopped"] = time.perf_counter()

    attempted = len(bench.records)
    print("# settings " + json.dumps(
        {**settings, "sf": SF, "setups": SETUPS, "workload": args.workload, "seed": args.seed,
         "seconds": args.seconds, "trace": args.trace,
         "warm_passes": len(warm_passes), "warm_statements": len(warm),
         "pass_s": [round(bench.pass_wall(p), 3) for p in range(warm_passes[-1] + 1)],
         "pass_cpu_s": [round(sum(r.cpu for r in bench.records if r.pass_no == p), 2)
                        for p in range(warm_passes[-1] + 1)],
         "setup_s": [round(x, 3) for x in bench.setup_s],
         "warm_reads": sum(r.kind == "read" for r in warm),
         "warm_writes": sum(r.kind == "write" for r in warm),
         "phase_s": {k: round(clock[k] - clock[p], 3) for p, k in zip(clock, list(clock)[1:])},
         "host_steal_s": round(_steal_s() - steal0, 2)}))
    by_name: dict[str, list[float]] = {}
    for r in warm:
        by_name.setdefault(r.name, []).append(r.seconds)
    cold = {r.name: r.seconds for r in bench.records if r.pass_no == 0}
    for name, secs in sorted(by_name.items()):
        print(f"# statement {name} cold_s={cold[name]:.3f} warm_median_s={statistics.median(secs):.3f}")
    for f in failures:
        print("# failed " + json.dumps(f))
    if args.trace:
        metrics = layer.metrics(app_id, failures, _peak_rss_mb(jvm_hwm))
        out = layer.write_artefact(os.path.join(HERE, "out"), args)
        print(f"# artefact {os.path.relpath(out, ROOT)}")
    else:
        metrics = _end_to_end(bench, warm_passes)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
