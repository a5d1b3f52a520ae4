"""Serial vs parallel orchestrator run on the wide example DAG
(examples/wide: 8 independent branch models + 1 fan-in summary).

The reference executes models strictly serially (src/main.rs:400-413);
``run(parallel=True)`` submits ready models concurrently from a thread
pool, which overlaps independent Spark jobs. This script times both
modes back to back on the same session (one warmup run first so JIT /
file-listing costs don't bias either side), then ``test`` against what
they built, and prints one JSON line: seconds per command, the parallel
speedup, and the Spark jobs each command launched.

    python tools/bench_orchestrator.py [PROJECT_DIR]   # default examples/wide
"""
from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from powersql_spark.orchestrator.runner import run, test  # noqa: E402
from powersql_spark.session import build_session  # noqa: E402

WIDE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "examples",
    "wide",
)


def main() -> int:
    project = sys.argv[1] if len(sys.argv) > 1 else WIDE
    spark = build_session(
        app_name="orchestrator_bench",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    # The scheduler numbers jobs in order as they are submitted, so the
    # id range a command spans counts its jobs, pool threads included.
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    models = run(spark, project)  # warmup (codegen, file listing)
    times, jobs = {}, {}

    def timed(name, fn):
        j0, t0 = int(scheduler.nextJobId()), time.time()
        out = fn()
        times[name] = round(time.time() - t0, 3)
        jobs[name] = int(scheduler.nextJobId()) - j0
        return out

    for mode, par in (("serial", False), ("parallel", True)):
        order = timed(mode, lambda: run(spark, project, parallel=par))
        assert sorted(order) == sorted(models), order
    with contextlib.redirect_stdout(sys.stderr):  # one OK line per ASSERT
        rc = timed("test", lambda: test(spark, project))
    assert rc == 0, rc
    times["speedup"] = round(times["serial"] / times["parallel"], 2)
    print(json.dumps({**times, "jobs": jobs}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
