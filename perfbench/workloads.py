"""The benchmark's workloads: what one pass runs, and what each
statement's correct output is.

Every workload is a closed loop — one client, one statement at a time.
A pass is the workload's full statement list; the seed fixes the
statement order of every pass (and, for the Delta sequence, the slice
and predicates).  A statement returns the Spark DataFrame it ran (for
plan fingerprints and Catalyst phase times) and its collected result;
the oracle side is DuckDB, run after the timed region.

Selection rule for the SQL statements: registered oracle SQL that runs
unchanged through ``ADTContext.sql`` and matches DuckDB, chosen within
the run-time budget (see ``KNOWN_GAPS.json`` for what is kept out).
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

#: ``sql_windows``: window and ranking statements through
#: ``ADTContext.sql``.  Construction-heavy members (the global-window
#: rewrite's driver collects, keyed-window compression) beside cheap
#: frame rewrites, so dialect work is a large share of the pass.
SQL_WINDOWS = (
    "q_sql_global_rank",
    "q_sql_ratio_to_total",
    "q_window_exclude_range_value",
    "q_window_exclude_rows",
    "q_window_unbounded_following",
    "q_window_groups_frame",
)

#: LLM-data operators through their registry ``spark_fn`` builders —
#: similarity (product quantisation, whose encoder is the Arrow
#: ``mapInArrow`` seam and whose codebook fills a ``*_MEMO`` cache on
#: its first call in a session), text and quality.  The rest of the
#: operator set is kept out for the run budget (``KNOWN_GAPS.json``).
LLM_PIPELINE = (
    "emb_pq_assign",
    "text_bpe_token_count",
    "quality_gopher_rules",
)


@dataclass
class Stmt:
    """One statement of a pass.  ``run`` returns ``(df, result)``:
    the DataFrame it executed (``None`` for a write with no plan) and
    the collected pandas result (``None`` when there is nothing to
    check)."""

    name: str
    kind: str  # "read" or "write"
    run: Callable[[], tuple[Any, Any]]
    sql: str | None = None  # text sent through ADTContext.sql


class _Base:
    def __init__(self, ctx, data_dir: str, work_dir: str, seed: int, span) -> None:
        self.ctx, self.data_dir, self.work_dir = ctx, data_dir, work_dir
        self.seed, self.span = seed, span

    def _action(self, df):
        with self.span("exec.action", "exec"):
            return df.toPandas()

    def _sql_read(self, name: str, text: str) -> Stmt:
        def run():
            df = self.ctx.sql(text)
            return df, self._action(df)

        return Stmt(name, "read", run, text)

    def _order(self, items: list, pass_no: int) -> list:
        out = list(items)
        random.Random(f"{self.seed}:{pass_no}").shuffle(out)
        return out


class SqlWindows(_Base):
    name = "sql_windows"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        from adt_spark.queries import load_all

        reg = load_all()
        self.texts = {n: reg[n].oracle for n in SQL_WINDOWS}

    def pass_statements(self, pass_no: int) -> list[Stmt]:
        return [self._sql_read(n, self.texts[n]) for n in self._order(list(SQL_WINDOWS), pass_no)]

    def expected(self, con) -> Callable[[Stmt], Any]:
        cache = {n: con.execute(t).fetchdf() for n, t in self.texts.items()}
        return lambda st: cache[st.name]


class LlmPipeline(_Base):
    """The ``LLM_PIPELINE`` builders (part of ``delta_llm_pipeline``)."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        from adt_spark.queries import load_all

        reg = load_all()
        self.queries = {n: reg[n] for n in LLM_PIPELINE}

    def _build(self, name: str) -> Stmt:
        fn = self.queries[name].spark_fn

        def run():
            with self.span("operators.build", "operators"):
                df = fn(self.ctx.spark, self.data_dir)
            return df, self._action(df)

        return Stmt(name, "read", run)

    def pass_statements(self, pass_no: int) -> list[Stmt]:
        return [self._build(n) for n in self._order(list(LLM_PIPELINE), pass_no)]

    def expected(self, con) -> Callable[[Stmt], Any]:
        cache = {n: con.execute(q.oracle).fetchdf() for n, q in self.queries.items()}
        return lambda st: cache[st.name]


#: The Delta table is one of ``_SLICES`` disjoint lineitem slices (by
#: order key).
_SLICES = 8

_READS = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue "
    "FROM {t} WHERE l_shipdate >= TIMESTAMP '{day}' GROUP BY l_returnflag, l_linestatus",
    "SELECT l_linenumber, count(*) AS n, "
    "CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS disc, "
    "max(l_shipdate) AS last_ship FROM {t} WHERE l_quantity < {qty} GROUP BY l_linenumber",
    "SELECT count(*) AS n, min(l_orderkey) AS lo, max(l_orderkey) AS hi, "
    "count(DISTINCT l_suppkey) AS suppliers FROM {t} WHERE l_tax <= {tax}",
)


class DeltaLifecycle(_Base):
    """Writes beside reads on a Delta table (part of
    ``delta_llm_pipeline``).  Each pass creates a fresh
    table and runs the same seeded sequence on it: an append of a
    lineitem slice, DELETE / UPDATE / OPTIMIZE through ``ADTContext.sql``,
    a checkpoint, and aggregate reads between them — so log replay grows
    with the table within the pass, and every pass does the same work."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        rng = random.Random(f"{self.seed}:delta")
        slice_ = rng.randrange(_SLICES)
        line = rng.randint(1, 7)
        # (operation, argument, read the table afterwards)
        plan = [
            ("append", slice_, True),
            ("delete", f"l_returnflag = 'R' AND l_linenumber = {line}", True),
            ("update", f"l_linestatus = 'O' AND l_linenumber = {line % 7 + 1}", False),
            ("optimize", None, False),
            ("checkpoint", None, True),
        ]
        self.ops: list[tuple[str, Any]] = []
        reads = 0
        for op, arg, read_after in plan:
            self.ops.append((op, arg))
            if not read_after:
                continue
            # read templates rotate by position; the seed picks the
            # literals, so every seed reads with the same plan shapes
            self.ops.append(
                (
                    "read",
                    _READS[reads % len(_READS)].format(
                        t="{t}",
                        day=f"{rng.randint(1995, 2001)}-{rng.randint(1, 12):02d}-01",
                        qty=rng.randint(10, 45),
                        tax=rng.randint(1, 7) / 100.0,
                    ),
                )
            )
            reads += 1

    def table_path(self, pass_no: int) -> str:
        return os.path.join(self.work_dir, "delta", f"pass{pass_no}")

    def pass_statements(self, pass_no: int) -> list[Stmt]:
        from adt_spark.sources.delta_native_write import write_checkpoint, write_delta_native

        path = self.table_path(pass_no)
        url = f"delta.`{path}`"
        spark = self.ctx.spark
        out = []
        for i, (op, arg) in enumerate(self.ops):
            name = f"{i:02d}_{op}"
            if op == "read":
                out.append(self._sql_read(name, arg.format(t=url)))
            elif op == "append":
                src = spark.table("lineitem").where(f"pmod(l_orderkey, {_SLICES}) = {arg}")
                out.append(Stmt(name, "write", lambda s=src: (None, write_delta_native(s, path))))
            elif op == "checkpoint":
                out.append(Stmt(name, "write", lambda: (None, write_checkpoint(spark, path))))
            else:
                text = {
                    "delete": f"DELETE FROM {url} WHERE {arg}",
                    "update": f"UPDATE {url} SET l_discount = 0.0 WHERE {arg}",
                    "optimize": f"OPTIMIZE {url}",
                }[op]
                out.append(self._sql_write(name, text))
        return out

    def _sql_write(self, name: str, text: str) -> Stmt:
        def run():
            df = self.ctx.sql(text)
            return None, self._action(df)

        return Stmt(name, "write", run, text)

    def expected(self, con) -> Callable[[Stmt], Any]:
        """Replay the same mutations in DuckDB over the generated
        lineitem and record every read's result by statement name."""
        con.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM lineitem LIMIT 0")
        cache = {}
        for i, (op, arg) in enumerate(self.ops):
            if op == "append":
                con.execute(f"INSERT INTO t SELECT * FROM lineitem WHERE l_orderkey % {_SLICES} = {arg}")
            elif op == "delete":
                con.execute(f"DELETE FROM t WHERE {arg}")
            elif op == "update":
                con.execute(f"UPDATE t SET l_discount = 0.0 WHERE {arg}")
            elif op == "read":
                cache[f"{i:02d}_read"] = con.execute(arg.format(t="t")).fetchdf()
        return lambda st: cache.get(st.name)


class DeltaLlmPipeline(_Base):
    """The Delta lifecycle and the LLM-data operators in one closed loop:
    each pass runs the Delta sequence in order, with the operator
    builds (in seeded order) placed after every second Delta statement.
    Spans keep the two apart: ``sources`` time comes from the Delta
    statements, ``operators`` and ``arrow_seam`` from the builds."""

    name = "delta_llm_pipeline"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.delta, self.llm = DeltaLifecycle(*a), LlmPipeline(*a)

    def table_path(self, pass_no: int) -> str:
        return self.delta.table_path(pass_no)

    def pass_statements(self, pass_no: int) -> list[Stmt]:
        builds = self.llm.pass_statements(pass_no)
        out = []
        for i, st in enumerate(self.delta.pass_statements(pass_no)):
            out.append(st)
            if i % 2 == 1 and builds:
                out.append(builds.pop(0))
        return out + builds

    def expected(self, con) -> Callable[[Stmt], Any]:
        delta, llm = self.delta.expected(con), self.llm.expected(con)
        return lambda st: llm(st) if st.name in LLM_PIPELINE else delta(st)


WORKLOADS = {w.name: w for w in (SqlWindows, DeltaLlmPipeline)}
