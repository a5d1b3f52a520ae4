"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded from the benchmark's side, around calls into the
program's public functions: each wrapper replaces a name in the module
whose globals the caller looks it up in (``runner`` imports
``load_config``, ``parse_model_file`` and ``load_tables`` by name; the
registry wrapper finds ``release_persisted``/``load_tables`` in
``registry``'s globals), so patching only the defining module would miss
every call. Spans stay in memory and are written out once, at the end.

Spark's own counters are read from outside, through its status stores,
once per traced window: operations run one at a time (a ``--parallel``
run is one operation), so the job-id range an operation spans attributes
jobs, and through them stages, to it. The reads go through py4j too, so
py4j calls made while the tracer reads are not counted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import resource
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Spark keeps 1,000 jobs and stages by default; a traced window needs all.
RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class Op:
    """One benchmark operation with the Spark state at its boundaries."""

    name: str
    pass_no: int
    start: float = 0.0
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)  # [first, last) job ids
    compiles: int = 0
    compile_s: float = 0.0
    span: int = -1
    extra: dict = field(default_factory=dict)  # metrics the workload measured


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._op: Op | None = None
        jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc.sc()
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    # ---- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._op.span if self._op else None)
        idx = self._open(name, parent)
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def _open(self, name: str, parent: int | None) -> int:
        with self._lock:
            self.spans.append(
                Span(name, time.time(), 0.0, parent, len(self.ops) - 1 if self._op else -1)
            )
            return len(self.spans) - 1

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, value: float = 1.0) -> None:
        if self._op is not None:
            with self._lock:
                self.counts[(len(self.ops) - 1, name)] += value

    @contextlib.contextmanager
    def op(self, name: str, pass_no: int, span_name: str | None = None):
        """Bracket one operation: job ids and codegen counters at both
        ends, and a root span (``span_name``, default ``name``) its layer
        spans nest under."""
        op = Op(name, pass_no)
        with self.paused():
            j0, c0, t0 = self._spark_state()
        self.ops.append(op)
        self._op = op
        op.start = time.time()
        with self.span(span_name or name) as idx:
            op.span = idx
            try:
                yield op
            finally:
                op.end = time.time()
                self._op = None
                with self.paused():
                    j1, c1, t1 = self._spark_state()
                op.jobs, op.compiles, op.compile_s = (j0, j1), c1 - c0, t1 - t0

    def _spark_state(self) -> tuple[int, int, float]:
        return (int(self._jsc.dagScheduler().nextJobId()), *self.codegen())

    def codegen(self) -> tuple[int, float]:
        """Classes compiled and seconds spent compiling, so far."""
        return (
            int(self._codegen_metrics.METRIC_COMPILATION_TIME().getCount()),
            self._codegen.compileTime() / 1e9,
        )

    # ---- py4j ------------------------------------------------------------

    @contextlib.contextmanager
    def paused(self):
        """Calls made by the tracer itself are not the program's."""
        self._local.paused = getattr(self._local, "paused", 0) + 1
        try:
            yield
        finally:
            self._local.paused -= 1

    def _count_py4j(self, orig):
        tracer = self

        def send_command(client, command, *a, **kw):
            if getattr(tracer._local, "paused", 0) or tracer._op is None:
                return orig(client, command, *a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(client, command, *a, **kw)
            finally:
                dt = time.perf_counter() - t0
                op = len(tracer.ops) - 1
                with tracer._lock:
                    tracer.counts[(op, "py4j.calls")] += 1
                    tracer.counts[(op, "py4j.wait_s")] += dt

        return send_command

    # ---- patching --------------------------------------------------------

    def _patch(self, obj, attr: str, make) -> None:
        orig = getattr(obj, attr)
        self._patches.append((obj, attr, orig))
        setattr(obj, attr, make(orig))

    def _timed(self, name: str):
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)

            return wrapper

        return make

    def install(self) -> None:
        import py4j.clientserver

        from powersql_spark import registry
        from powersql_spark.orchestrator import dag, runner
        from powersql_spark.orchestrator.executor import SparkExecutor

        plan = self._timed("orchestrator.dag.plan")
        parse = self._timed("orchestrator.sqlparse.parse")
        self._patch(runner, "load_config", self._timed("orchestrator.config.load"))
        self._patch(runner, "parse_model_file", parse)
        self._patch(runner, "parse_test_file", parse)
        self._patch(dag, "extract_refs", self._timed("orchestrator.sqlparse.extract_refs"))
        for name in ("get_dependencies", "detect_cycles", "topo_order", "build_graph"):
            self._patch(runner, name, plan)
        self._patch(runner, "_restore_models", self._timed("orchestrator.executor.restore"))
        self._patch(SparkExecutor, "execute", self._execute)
        self._patch(SparkExecutor, "analyze", self._counted("orchestrator.executor.analyze"))
        self._patch(SparkExecutor, "query_bool", self._counted("orchestrator.executor.query_bool"))
        self._patch(runner, "load_tables", self._load_tables)
        self._patch(registry, "load_tables", self._load_tables)
        self._patch(registry, "release_persisted", self._timed("catalog.release_persisted"))
        self._patch(py4j.clientserver.JavaClient, "send_command", self._count_py4j)

    def uninstall(self) -> None:
        while self._patches:
            obj, attr, orig = self._patches.pop()
            setattr(obj, attr, orig)

    def _counted(self, name: str):
        def make(orig):
            def wrapper(*a, **kw):
                self.add(f"{name}_calls")
                with self.span(name):
                    return orig(*a, **kw)

            return wrapper

        return make

    def _execute(self, orig):
        def execute(executor, model):
            if model.kind != "table":
                with self.span("orchestrator.executor.view"):
                    return orig(executor, model)
            with self.span("orchestrator.executor.table"):
                out = orig(executor, model)
            # Read outside the span: the footers of what the write produced.
            rows, size = _parquet_footprint(os.path.join(executor.target_dir, model.name))
            self.add("orchestrator.executor.table_calls")
            self.add("orchestrator.executor.rows_written", rows)
            self.add("orchestrator.executor.bytes_written", size)
            return out

        return execute

    def _load_tables(self, orig):
        def load_tables(spark, sf_dir, *a, **kw):
            from powersql_spark.catalog import TABLES

            names = a[0] if a else kw.get("tables", TABLES)
            cache = getattr(spark, "_powersql_views", None) or {}
            hits = sum(
                1 for n in names
                if n in cache and cache[n][0] == os.path.join(sf_dir, f"{n}.parquet")
            )
            self.add("catalog.view_lookups", len(names))
            self.add("catalog.view_hits", hits)
            with self.span("catalog.load_tables"):
                return orig(spark, sf_dir, *a, **kw)

        return load_tables

    # ---- results ---------------------------------------------------------

    def spark_records(self) -> tuple[dict, dict]:
        """Every retained job and stage, keyed by id, read in two calls."""
        with self.paused():
            self._jsc.listenerBus().waitUntilEmpty()
            jvm = self.spark.sparkContext._jvm
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = jvm.com.fasterxml.jackson.module.scala
            mapper.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
            store = self._jsc.statusStore()
            jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
            no_quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
            stages = json.loads(
                mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
            )
        return (
            {j["jobId"]: j for j in jobs},
            {(s["stageId"], s["attemptId"]): s for s in stages},
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [vars(s) for s in self.spans],
                    "ops": [vars(o) for o in self.ops],
                },
                fh,
            )

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the JVM plus this Python process."""
        with self.paused():
            pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _parquet_footprint(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = size = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        rows += pq.ParquetFile(f).metadata.num_rows
        size += os.path.getsize(f)
    return rows, size


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, start: float, end: float):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def layer_of(span_name: str) -> str:
    return span_name.rsplit(".", 1)[0]


def per_pass_metrics(tracer: Tracer, jobs: dict, stages: dict, keys: tuple[str, ...]) -> list[dict]:
    """Per-layer metrics of every traced pass; the caller takes medians."""
    by_pass: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    children: dict[int, list[int]] = defaultdict(list)
    op_spans: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(tracer.spans):
        op_spans[s.op].append(i)
        if s.parent is not None:
            children[s.parent].append(i)
    for op_idx, op in enumerate(tracer.ops):
        m = by_pass[op.pass_no]
        op_jobs = [jobs[j] for j in range(*op.jobs) if j in jobs]
        job_iv = [
            (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
            for j in op_jobs if j.get("completionTime")
        ]
        stage_ids = {sid for j in op_jobs for sid in j["stageIds"]}
        op_stages = [
            s for (sid, _), s in stages.items()
            if sid in stage_ids and s["status"] == "COMPLETE"
        ]
        cpu_s = sum(s["executorCpuTime"] for s in op_stages) / 1e9
        m["spark.jobs"] += len(op_jobs)
        m["spark.stages"] += len(op_stages)
        m["spark.tasks"] += sum(s["numCompleteTasks"] for s in op_stages)
        m["spark.job_busy_s"] += _union(job_iv)
        m["spark.executor_run_s"] += sum(s["executorRunTime"] for s in op_stages) / 1e3
        m["spark.executor_cpu_s"] += cpu_s
        m["spark.shuffle_write_bytes"] += sum(s["shuffleWriteBytes"] for s in op_stages)
        m["spark.shuffle_read_bytes"] += sum(s["shuffleReadBytes"] for s in op_stages)
        m["spark.spill_bytes"] += sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in op_stages
        )
        m["spark.peak_execution_memory_bytes"] = max(
            m["spark.peak_execution_memory_bytes"],
            max((s["peakExecutionMemory"] for s in op_stages), default=0),
        )
        m["spark.codegen_compiles"] += op.compiles
        m["spark.codegen_compile_s"] += op.compile_s
        for (o, name), v in tracer.counts.items():
            if o == op_idx:
                m[name] += v
        busy = 0.0
        for i in op_spans[op_idx]:
            s = tracer.spans[i]
            dur = s.end - s.start
            covered = _union(_clip(
                [(tracer.spans[c].start, tracer.spans[c].end) for c in children[i]],
                s.start, s.end,
            ))
            if not s.name.startswith("perfbench."):
                m[f"{layer_of(s.name)}.self_s"] += dur - covered
            if s.name != "spark.action" and not s.name.startswith("perfbench."):
                m[f"{s.name}_s"] += dur
            if s.name in ("spark.action", "orchestrator.executor.table",
                          "orchestrator.executor.query_bool"):
                m["spark.action_s"] += dur
                m["spark.driver_gap_s"] += dur - _union(_clip(job_iv, s.start, s.end))
            if s.name in ("orchestrator.executor.table", "orchestrator.executor.view"):
                busy += dur
            if s.name == "registry.build":
                m["registry.build_jobs"] += sum(1 for a, _ in job_iv if s.start <= a <= s.end)
                if op.name in keys:
                    m[f"registry.build_s.{op.name}"] += dur
            if s.name == "spark.action" and op.name in keys:
                m[f"spark.action_s.{op.name}"] += dur
        if op.name in keys:
            m[f"spark.jobs.{op.name}"] += len(op_jobs)
            m[f"spark.executor_cpu_s.{op.name}"] += cpu_s
        if op.name == "orchestrator.runner.run_parallel":
            m["orchestrator.runner.parallel_overlap"] = busy / (op.end - op.start)
        m.update(op.extra)
    out = []
    for m in by_pass.values():
        m["spark.executor_wait_s"] = m["spark.executor_run_s"] - m["spark.executor_cpu_s"]
        lookups = m.pop("catalog.view_lookups", 0.0)
        hits = m.pop("catalog.view_hits", 0.0)
        m["catalog.view_cache_hit_ratio"] = hits / lookups if lookups else 0.0
        out.append(dict(m))
    return out


def medians(passes: list[dict], names: list[str]) -> dict[str, float]:
    return {
        n: statistics.median([p.get(n, 0.0) for p in passes]) if passes else 0.0
        for n in names
    }
