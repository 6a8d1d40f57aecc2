"""Per-layer metrics of a traced run.

Layer names follow the engine's modules.  Unless a metric says
otherwise, times and counts are per warm pass (the sum over the traced
warm passes divided by their number), so they compare directly with
the pass wall, which is the sum of the pass's statement latencies.

The span layers come from ``spans.py``; Spark job, stage and task
counters from the uncompressed event log, attributed to statements by
time window; Delta file counters from the commit JSON of each pass's
table.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import statistics
import time

import eventlog
from spans import self_times

#: Untraced passes run after the traced ones to price the span hooks.
OVERHEAD_PASSES = 2


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile of ``values`` (at least one)."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def log_files_read(location: str, version: int) -> int:
    """Log files a replay of ``version`` reads: the parts of the newest
    checkpoint at or below it, plus every JSON commit after that."""
    log = os.path.join(location, "_delta_log")
    cp_version, cp_parts = -1, 0
    for path in glob.glob(os.path.join(log, "*.checkpoint*.parquet")):
        v = int(os.path.basename(path).split(".")[0])
        if v <= version:
            if v > cp_version:
                cp_version, cp_parts = v, 1
            elif v == cp_version:
                cp_parts += 1
    return cp_parts + (version - cp_version)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _commits(location: str) -> dict[int, list[dict]]:
    out = {}
    for path in glob.glob(os.path.join(location, "_delta_log", "*.json")):
        with open(path, encoding="utf-8") as fh:
            out[int(os.path.basename(path).split(".")[0])] = [
                json.loads(line) for line in fh if line.strip()
            ]
    return out


class Collector:
    """Per-layer metrics and the artefact of one traced run."""

    def __init__(self, bench, wl, ctx, warm: range) -> None:
        self.bench, self.wl, self.ctx = bench, wl, ctx
        self.tracer = bench.tracer
        self.warm = warm
        self.offset = time.time() - time.perf_counter()
        self.plan_fp: dict[str, str] = {}
        self.translate_sha1: dict[str, str] = {}
        self.overhead_frac = 0.0
        self.stored_ratio = 0.0
        self.untraced = range(0)

    # -- after the traced passes, while the session is up -----------------
    def after_traced_passes(self) -> None:
        import bench as repo_bench  # the repository's bench.py, imported only

        bench = self.bench
        for name, (df, _sql) in bench.last_dfs.items():
            self.plan_fp[name] = repo_bench._plan_fp(df)
        self.tracer.remove_hooks()
        self.tracer.enabled = False
        from adt_spark.dialect.translate import translate_sql

        for name, (_df, sql) in bench.last_dfs.items():
            if sql is not None:
                text = translate_sql(sql).replace(bench.work, "<work>")
                self.translate_sha1[name] = hashlib.sha1(text.encode()).hexdigest()
        if hasattr(self.wl, "table_path"):
            path = self.wl.table_path(self.warm[-1])
            plain = os.path.join(bench.work, "plain_parquet")
            self.ctx.sql(f"SELECT * FROM delta.`{path}`").write.parquet(plain)
            self.stored_ratio = _dir_bytes(path) / _dir_bytes(plain)
        traced = self._pass_wall(self.warm)
        self.untraced = range(self.warm[-1] + 1, self.warm[-1] + 1 + OVERHEAD_PASSES)
        for p in self.untraced:
            bench.run_pass(self.wl, p)
        self.overhead_frac = traced / self._pass_wall(self.untraced) - 1.0

    def _stmts_per_s(self, passes) -> float:
        """Statements per second of a pass whose every statement takes
        its median latency over ``passes``."""
        by_name: dict[str, list[float]] = {}
        for r in self.bench.records:
            if r.pass_no in passes:
                by_name.setdefault(r.name, []).append(r.seconds)
        return len(by_name) / sum(statistics.median(v) for v in by_name.values())

    def _pass_wall(self, passes) -> float:
        recs = [r for r in self.bench.records if r.pass_no in passes]
        return sum(r.seconds for r in recs) / len(passes)

    # -- metrics ------------------------------------------------------------
    def metrics(self, app_id: str, failures: list[dict], peak_rss_mb: float) -> dict:
        bench, records, n = self.bench, self.bench.records, len(self.warm)
        spans = self.tracer.spans
        selfs = self_times(spans)
        warm = set(self.warm)

        def ms(start, end):
            """A perf-counter interval as epoch milliseconds (event-log time)."""
            return ((start + self.offset) * 1000, (end + self.offset) * 1000)

        def pass_of(span):
            return None if span.stmt is None else records[span.stmt].pass_no

        def span_sum(name, passes=warm, inclusive=False):
            return sum(
                (s.end - s.start) if inclusive else selfs[i]
                for i, s in enumerate(spans)
                if s.name == name and pass_of(s) in passes
            )

        def windows(name):
            """Epoch-ms intervals of the outermost ``name`` spans."""
            return [
                ms(s.start, s.end)
                for s in spans
                if s.name == name and pass_of(s) in warm
                and (s.parent is None or spans[s.parent].name != name)
            ]

        warm_recs = [r for r in records if r.pass_no in warm]
        wall = sum(r.seconds for r in warm_recs) / n
        sql_windows = windows("context.sql")
        sql_s = sum(hi - lo for lo, hi in sql_windows) / 1000 / n
        passes = [s for s in spans if pass_of(s) in warm and s.outcome]
        registers = [s.end - s.start for s in spans if s.name == "context.register" and s.stmt is None]

        path = glob.glob(os.path.join(bench.event_dir, app_id + "*"))
        jobs, stages = eventlog.parse(path[0]) if path else ({}, {})
        warm_jobs = eventlog.jobs_in(jobs, [ms(r.start, r.end) for r in warm_recs])
        run_stages = [
            stages[sid] for j in warm_jobs for sid in jobs[j].stages
            if sid in stages and stages[sid].tasks
        ]
        shares = []
        for p in warm:
            recs = [r for r in warm_recs if r.pass_no == p]
            pj = eventlog.jobs_in(jobs, [ms(r.start, r.end) for r in recs])
            ps = [stages[s] for j in pj for s in jobs[j].stages if s in stages and stages[s].tasks]
            longest = max(ps, key=lambda st: st.wall_ms, default=None)
            if longest is not None and longest.wall_ms > 0:
                shares.append(longest.max_task_ms / longest.wall_ms)
        seams = [st for st in run_stages if st.python]

        delta = self._delta(warm) if hasattr(self.wl, "table_path") else {}
        writes = [r.seconds for r in warm_recs if r.kind == "write"]
        reads = [r.seconds for r in warm_recs if r.kind == "read"]
        phase = lambda k: sum((r.phases or {}).get(k, 0.0) for r in warm_recs) / n  # noqa: E731
        m = {
            "context.sql_s": (sql_s, "s/pass"),
            "context.sql_share": (sql_s / wall, "frac"),
            "context.register_s": (statistics.median(registers) if registers else 0.0, "s"),
            "context.first_setup_s": (bench.setup_s[0], "s"),
            "dialect.translate_s": (span_sum("dialect.translate") / n, "s/pass"),
            "dialect.window_frames_s": (span_sum("dialect.window_frames") / n, "s/pass"),
            "dialect.keyed_windows_s": (span_sum("dialect.keyed_windows") / n, "s/pass"),
            "dialect.global_rank_s": (span_sum("dialect.global_rank") / n, "s/pass"),
            "dialect.pass_attempts": (len(passes) / n, "count/pass"),
            "dialect.passes_fired": (sum(s.outcome == "fired" for s in passes) / n, "count/pass"),
            "dialect.passes_refused": (sum(s.outcome == "refused" for s in passes) / n, "count/pass"),
            "dialect.driver_jobs": (len(eventlog.jobs_in(jobs, sql_windows)) / n, "count/pass"),
            "catalyst.analysis_ms": (phase("analysis"), "ms/pass"),
            "catalyst.optimization_ms": (phase("optimization"), "ms/pass"),
            "catalyst.planning_ms": (phase("planning"), "ms/pass"),
            "exec.action_s": (span_sum("exec.action", inclusive=True) / n, "s/pass"),
            "exec.jobs": (len(warm_jobs) / n, "count/pass"),
            "exec.stages": (len(run_stages) / n, "count/pass"),
            "exec.tasks": (sum(st.tasks for st in run_stages) / n, "count/pass"),
            "exec.executor_run_s": (sum(st.run_ms for st in run_stages) / 1e3 / n, "s/pass"),
            "exec.executor_cpu_s": (sum(st.cpu_ns for st in run_stages) / 1e9 / n, "s/pass"),
            "exec.gc_s": (sum(st.gc_ms for st in run_stages) / 1e3 / n, "s/pass"),
            "exec.input_bytes": (sum(st.input_bytes for st in run_stages) / n, "B/pass"),
            "exec.shuffle_write_bytes": (sum(st.shuffle_write_bytes for st in run_stages) / n, "B/pass"),
            "exec.spill_bytes": (sum(st.spill_bytes for st in run_stages) / n, "B/pass"),
            "exec.max_task_share": (statistics.median(shares) if shares else 0.0, "frac"),
            "arrow_seam.stages": (len(seams) / n, "count/pass"),
            "arrow_seam.executor_run_s": (sum(st.run_ms for st in seams) / 1e3 / n, "s/pass"),
            "operators.build_s": (span_sum("operators.build", inclusive=True) / n, "s/pass"),
            "operators.build_cold_s": (span_sum("operators.build", {0}, inclusive=True), "s"),
            "operators.build_jobs": (len(eventlog.jobs_in(jobs, windows("operators.build"))) / n, "count/pass"),
            "operators.memo_entries_added": (
                statistics.fmean(bench.pass_memo[p] for p in warm), "count/pass"),
            "operators.memo_entries_added_cold": (bench.pass_memo[0], "count"),
            "sources.delta.replay_s": (span_sum("sources.delta.replay") / n, "s/pass"),
            "sources.delta.log_files_read": (
                sum(s.count for s in spans if s.name == "sources.delta.replay" and pass_of(s) in warm) / n,
                "count/pass"),
            "sources.delta.commit_s": (span_sum("sources.delta.commit") / n, "s/pass"),
            "sources.delta.checkpoint_s": (span_sum("sources.delta.checkpoint") / n, "s/pass"),
            "sources.delta.files_added": (delta.get("added", 0) / n, "count/pass"),
            "sources.delta.files_removed": (delta.get("removed", 0) / n, "count/pass"),
            "sources.delta.bytes_written": (delta.get("bytes", 0) / n, "B/pass"),
            "sources.delta.rewrite_amp": (delta.get("rewrite_amp", 0.0), "ratio"),
            "tracing.overhead_frac": (self.overhead_frac, "frac"),
            "geomean_stmt_s": (
                math.exp(statistics.fmean(math.log(r.seconds) for r in warm_recs)), "s"),
            "read_p50_s": (quantile(reads, 0.5), "s"),
            "read_p90_s": (quantile(reads, 0.9), "s"),
            "write_p50_s": (quantile(writes, 0.5) if writes else 0.0, "s"),
            "write_p90_s": (quantile(writes, 0.9) if writes else 0.0, "s"),
            "bytes_stored_per_user_byte": (self.stored_ratio, "ratio"),
            "failed_frac": (len(failures) / len(records), "frac"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "cold_pass_s": (bench.pass_wall(0), "s"),
            "stmts_per_s": (self._stmts_per_s(self.untraced), "1/s"),
        }
        self._metrics = m
        return m

    def _delta(self, warm: set[int]) -> dict:
        """File and byte counts from the commit JSON of each warm pass's
        table, and the DML rewrite amplification."""
        added = removed = written = 0
        dml_bytes = changed_bytes = 0.0
        affected = {}
        for r in self.bench.records:
            if r.pass_no in warm and r.name.endswith(("_delete", "_update")) and r.result is not None:
                row = r.result.iloc[0]
                affected[(r.pass_no, int(row["version"]))] = int(row["num_affected_rows"])
        for p in warm:
            for version, actions in _commits(self.wl.table_path(p)).items():
                adds = [a["add"] for a in actions if "add" in a]
                removed += sum("remove" in a for a in actions)
                added += len(adds)
                size = sum(a.get("size", 0) for a in adds)
                written += size
                if (p, version) in affected:
                    rows = sum(json.loads(a.get("stats") or "{}").get("numRecords", 0) for a in adds)
                    dml_bytes += size
                    if rows:
                        changed_bytes += affected[(p, version)] * size / rows
        return {
            "added": added,
            "removed": removed,
            "bytes": written,
            "rewrite_amp": dml_bytes / changed_bytes if changed_bytes else 0.0,
        }

    # -- artefact -----------------------------------------------------------
    def write_artefact(self, out_dir: str, args) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        t0 = self.bench.records[0].start if self.bench.records else 0.0
        doc = {
            "workload": args.workload,
            "seed": args.seed,
            "settings": self.bench.settings,
            "setup_s": self.bench.setup_s,
            "statements": [
                {"pass": r.pass_no, "name": r.name, "kind": r.kind,
                 "seconds": r.seconds, "error": r.error, "catalyst_ms": r.phases}
                for r in self.bench.records
            ],
            "spans": [
                [s.name, s.start - t0, s.end - t0, s.parent, s.stmt, s.outcome]
                for s in self.tracer.spans
            ],
            "plan_fp": self.plan_fp,
            "translate_sha1": self.translate_sha1,
            "metrics": {k: v for k, (v, _u) in self._metrics.items()},
        }
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1)
        return path
