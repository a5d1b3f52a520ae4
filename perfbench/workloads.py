"""The benchmark's workloads. Each is one closed-loop client on one
``local[4]`` session: it runs its operations one after another, each
only after the previous one returned.

A workload's ``setup`` generates its inputs from the seed, registers
them and runs untimed warm passes, checking every output; ``run_pass``
then runs one timed pass and returns the wall time of each operation. Both count attempted and failed operations; an operation
fails when it raises or its output check fails.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback

import numpy as np

import datagen
import project

# One registry key per operator family the budget allows: TPC-H
# aggregation, multi-way join with EXISTS/NOT EXISTS, sessionization
# window, MinHash LSH dedup (persisted intermediates), iterative graph
# rounds (eager checkpoints launch jobs while the plan is built).
KEYS = (
    "tpch_q1",
    "tpch_q21",
    "window_session",
    "dedup_minhash_lsh",
    "graph_betweenness",
)
CORES = 4


def _hash_tools():
    """The driver-contract comparator's order-insensitive ``_hash``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from drive_contract import _hash

    return _hash


class Workload:
    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = None  # set by the caller around traced passes
        self.data_dir = os.path.join(work_dir, "data")
        self.attempted = 0
        self.failed = 0
        self._hash = _hash_tools()

    @contextlib.contextmanager
    def _op(self, name: str, pass_no: int, span_name: str | None = None):
        if self.tracer is None:
            yield None
        else:
            with self.tracer.op(name, pass_no, span_name) as op:
                yield op

    @contextlib.contextmanager
    def _span(self, name: str):
        if self.tracer is None:
            yield
        else:
            with self.tracer.span(name):
                yield

    def _attempt(self, name: str, fn) -> bool:
        """Run one operation or check; a raise counts as a failure."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:
            traceback.print_exc(limit=4, file=sys.stderr)
            ok = False
        if ok is False:
            self.failed += 1
            print(f"FAILED: {name}", file=sys.stderr)
        return ok is not False


class Keys(Workload):
    """Registry keys called the way a driver-contract caller does:
    ``queries()[key](spark, dir)`` then a noop write, one key at a time,
    in an order shuffled per pass from the seed."""

    WARM_PASSES = 2

    def __init__(self, spark, work_dir: str, seed: int, sf: float) -> None:
        super().__init__(spark, work_dir, seed)
        self.sf = sf
        self.order_rng = np.random.default_rng(seed)

    def setup(self) -> None:
        import duckdb

        from powersql_spark.catalog import load_tables
        from powersql_spark.registry import all_specs

        specs = all_specs()
        self.fns = {k: specs[k].fn for k in KEYS}
        data = datagen.write(self.seed, self.sf, self.data_dir, CORES)
        load_tables(self.spark, self.data_dir)
        con = duckdb.connect()
        for name, table in data.items():
            con.register(name, table)
        for key in KEYS:
            self._attempt(key, lambda: self._check(key, specs[key].oracle, con))
        con.close()
        # The checked calls are the cold pass. Pass times kept falling for
        # two more passes (JIT), so two untimed passes warm up before timing.
        for _ in range(self.WARM_PASSES):
            self.run_pass(-1)

    def _check(self, key: str, oracle: str, con) -> bool:
        """Rows, column names and order-insensitive value hash against
        the key's DuckDB oracle, as the driver contract compares them."""
        got = self.fns[key](self.spark, self.data_dir).toPandas()
        want = con.execute(oracle).df()
        got.columns = [c.lower() for c in got.columns]
        want.columns = [c.lower() for c in want.columns]
        return (
            len(got) == len(want)
            and sorted(got.columns) == sorted(want.columns)
            and self._hash(got) == self._hash(want)
        )

    def run_pass(self, pass_no: int) -> dict[str, float]:
        order = list(KEYS)
        self.order_rng.shuffle(order)
        times = {}
        for key in order:
            with self._op(key, pass_no, "perfbench.key"):
                t0 = time.perf_counter()
                self._attempt(key, lambda: self._call(key))
                times[key] = time.perf_counter() - t0
        return times

    def _call(self, key: str) -> None:
        with self._span("registry.build"):
            df = self.fns[key](self.spark, self.data_dir)
        with self._span("spark.action"):
            df.write.mode("overwrite").format("noop").save()


class DagRefresh(Workload):
    """The paper's pipeline on a generated project: ``check``, ``run``,
    ``run --parallel``, ``test``, then a semantically neutral edit of one
    mid-DAG model and ``run --changed``."""

    SF = 0.01
    # The cold pass, then one more: the pass after the cold one still ran
    # ~20% slower than the steady ones (JIT).
    WARM_PASSES = 2

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        super().__init__(spark, work_dir, seed)
        self.project_dir = os.path.join(work_dir, "project")
        self.edits = 0

    def setup(self) -> None:
        data = datagen.write(self.seed, self.SF, self.data_dir, CORES)
        self.defs = project.write(self.seed, self.project_dir, self.data_dir)
        self.by_name = {d.name: d for d in self.defs}
        self.edited = project.edit_target(self.seed, self.defs)
        self.closure = project.descendants(self.defs, self.edited)
        self.expected = project.fingerprints(self.defs, data, self._hash)
        for _ in range(self.WARM_PASSES):
            self.run_pass(-1)

    def run_pass(self, pass_no: int) -> dict[str, float]:
        from powersql_spark.orchestrator import runner

        spark, proj = self.spark, self.project_dir
        n_models = len(self.defs)
        times = {}

        def timed(name, call, check):
            with self._op(f"orchestrator.runner.{name}", pass_no) as op:
                t0 = time.perf_counter()
                out = call()
                times[name] = time.perf_counter() - t0
            if op is not None and name == "changed_run":
                op.extra["orchestrator.runner.changed_rebuild_share"] = len(out) / n_models
            return check(out)

        tables = [d.name for d in self.defs if d.kind == "table"]
        self._attempt("check", lambda: timed(
            "check", lambda: runner.check(spark, proj),
            lambda out: set(out) == set(self.by_name)))
        self._attempt("run", lambda: timed(
            "run", lambda: runner.run(spark, proj),
            lambda out: set(out) == set(self.by_name) and self._tables_ok(tables)))
        self._attempt("run_parallel", lambda: timed(
            "run_parallel", lambda: runner.run(spark, proj, parallel=True),
            lambda out: set(out) == set(self.by_name) and self._tables_ok(tables)))
        self._attempt("test", lambda: timed(
            "test", lambda: self._quiet(runner.test, spark, proj),
            lambda code: code == 0))
        self.edits += 1
        project.write_model(proj, self.by_name[self.edited], self.edits)
        rebuilt = [n for n in self.closure if self.by_name[n].kind == "table"]
        self._attempt("changed_run", lambda: timed(
            "changed_run", lambda: runner.run(spark, proj, changed=True),
            lambda out: set(out) == self.closure and self._tables_ok(rebuilt)))
        return times

    @staticmethod
    def _quiet(fn, *args):
        """``test`` prints one line per ASSERT; keep stdout for results."""
        with contextlib.redirect_stdout(sys.stderr):
            return fn(*args)

    def _tables_ok(self, names) -> bool:
        target = os.path.join(self.project_dir, "target")
        bad = [
            n for n in names
            if project.target_fingerprint(os.path.join(target, n), self._hash)
            != self.expected[n]
        ]
        if bad:
            print(f"fingerprint mismatch: {bad}", file=sys.stderr)
        return not bad
