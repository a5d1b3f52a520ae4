"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``.perfbench_work/`` (deleted on exit), sets up, then runs
timed passes until ``--seconds`` have passed, always finishing the pass
in progress. Prints a human-readable summary, then, as the last line of
stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). See README.md for what each workload and metric is.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here, before any import

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dag_refresh", "keys_sf0.1", "keys_sf0.001")

END_TO_END = {"setup_s": "s", "pass_s": "s"}

# Load-independent counters of a traced pass. Two traced runs of one seed
# agree on them exactly, except the NON_EXACT ones: codegen compiles go on
# after warm-up because a pass generates more classes than Spark's codegen
# cache keeps, and which ones it evicts varies from run to run; at sf0.001
# the shuffle bytes drift by a few bytes from pass to pass.
DETERMINISTIC = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.codegen_compiles",
    "orchestrator.executor.table_calls",
    "orchestrator.executor.rows_written",
)
NON_EXACT = {
    "dag_refresh": ("spark.codegen_compiles",),
    "keys_sf0.1": ("spark.codegen_compiles",),
    "keys_sf0.001": (
        "spark.codegen_compiles", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    ),
}


def per_layer_names(keys: tuple[str, ...]) -> dict[str, str]:
    names = {
        "session.build_s": "s",
        "setup.codegen_compiles": "count",
        "setup.codegen_compile_s": "s",
        "orchestrator.config.load_s": "s",
        "orchestrator.sqlparse.parse_s": "s",
        "orchestrator.sqlparse.extract_refs_s": "s",
        "orchestrator.dag.plan_s": "s",
        "orchestrator.executor.analyze_s": "s",
        "orchestrator.executor.analyze_calls": "count",
        "orchestrator.executor.table_s": "s",
        "orchestrator.executor.view_s": "s",
        "orchestrator.executor.table_calls": "count",
        "orchestrator.executor.rows_written": "count",
        "orchestrator.executor.bytes_written": "bytes",
        "orchestrator.executor.restore_s": "s",
        "orchestrator.executor.query_bool_s": "s",
        "orchestrator.executor.query_bool_calls": "count",
        "orchestrator.runner.check_s": "s",
        "orchestrator.runner.run_s": "s",
        "orchestrator.runner.run_parallel_s": "s",
        "orchestrator.runner.test_s": "s",
        "orchestrator.runner.changed_run_s": "s",
        "orchestrator.runner.parallel_overlap": "ratio",
        "orchestrator.runner.changed_rebuild_share": "ratio",
        "registry.build_s": "s",
        "registry.build_jobs": "count",
        "catalog.load_tables_s": "s",
        "catalog.view_cache_hit_ratio": "ratio",
        "catalog.release_persisted_s": "s",
        "py4j.calls": "count",
        "py4j.wait_s": "s",
        "spark.action_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.job_busy_s": "s",
        "spark.driver_gap_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.executor_wait_s": "s",
        "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.codegen_compiles": "count",
        "spark.codegen_compile_s": "s",
        "spark.peak_execution_memory_bytes": "bytes",
        "driver.peak_rss_mb": "MB",
    }
    for layer in ("orchestrator.runner", "orchestrator.config", "orchestrator.sqlparse",
                  "orchestrator.dag", "orchestrator.executor", "catalog", "registry", "spark"):
        names[f"{layer}.self_s"] = "s"
    for key in keys:
        names[f"registry.build_s.{key}"] = "s"
        names[f"spark.action_s.{key}"] = "s"
        names[f"spark.jobs.{key}"] = "count"
        names[f"spark.executor_cpu_s.{key}"] = "s"
    names["trace.overhead_s"] = "s"
    names["trace.overhead_share"] = "ratio"
    return names


def _isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # spark-submit first starts a small JVM to build the driver command.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    os.environ.pop("SPARK_GRAFT_PAGE_SIZE", None)


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from tracing import RETAIN_CONF

        conf.update(RETAIN_CONF)
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "powersql_spark")):
        print(f"powersql_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))


def _run(args, work: str) -> int:
    from powersql_spark.session import build_session

    import workloads

    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = build_session(
        app_name=f"perfbench_{args.workload}", master="local[4]",
        extra_conf=_session_conf(work, trace),
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.workload == "dag_refresh":
            wl = workloads.DagRefresh(spark, work, args.seed)
        else:
            sf = float(args.workload.removeprefix("keys_sf"))
            wl = workloads.Keys(spark, work, args.seed, sf)
        tracer = None
        if trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            cg0 = tracer.codegen()
        wl.setup()
        setup_s = time.perf_counter() - T_START
        if trace:
            cg1 = tracer.codegen()
            setup_cg = (cg1[0] - cg0[0], cg1[1] - cg0[1])

        # Timed window. A traced run alternates untraced and traced passes,
        # so the difference between them is the tracing overhead.
        passes: list[tuple[bool, dict[str, float]]] = []
        t_window = time.perf_counter()
        pass_no = 0
        while True:
            traced = trace and pass_no % 2 == 1
            if traced:
                tracer.install()
                wl.tracer = tracer
            try:
                times = wl.run_pass(pass_no)
            finally:
                if traced:
                    wl.tracer = None
                    tracer.uninstall()
            passes.append((traced, times))
            pass_no += 1
            if time.perf_counter() - t_window >= args.seconds and pass_no >= (2 if trace else 1):
                break

        # Pass times of the passes whose every operation completed.
        n_ops = max(len(t) for _, t in passes)
        full = [(i, tr, sum(t.values())) for i, (tr, t) in enumerate(passes) if len(t) == n_ops]
        untraced = [s for _, tr, s in full if not tr]
        op_median = {
            k: statistics.median([t[k] for tr, t in passes if not tr and k in t])
            for k in passes[0][1]
        }
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "passes": len(passes),
            "failed_share": wl.failed / max(1, wl.attempted),
            "pass_s_each": [round(s, 4) for _, _, s in full],
            "op_median_s": op_median,
        }
        if trace:
            from tracing import medians, per_pass_metrics

            jobs, stages = tracer.spark_records()
            keys = workloads.KEYS
            per_pass = per_pass_metrics(tracer, jobs, stages, keys)
            names = per_layer_names(keys)
            values = medians(per_pass, list(names))
            traced_s = [s for _, tr, s in full if tr]
            values["session.build_s"] = session_s
            values["setup.codegen_compiles"], values["setup.codegen_compile_s"] = setup_cg
            values["driver.peak_rss_mb"] = tracer.peak_rss_mb()
            if traced_s and untraced:
                over = statistics.median(traced_s) - statistics.median(untraced)
                values["trace.overhead_s"] = over
                values["trace.overhead_share"] = over / statistics.median(untraced)
            metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names.items()}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
            summary["deterministic"] = {n: values[n] for n in DETERMINISTIC}
            summary["non_exact"] = list(NON_EXACT.get(args.workload, ()))
        else:
            values = {
                "setup_s": setup_s,
                "pass_s": sum(op_median.values()),
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
        for name, m in metrics.items():
            print(f"{name:48s} {m['value']:>16.6f} {m['unit']}")
        print(json.dumps(summary, sort_keys=True))
        correct = wl.failed == 0 and bool(untraced)
        print(json.dumps({
            "correct": correct,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
