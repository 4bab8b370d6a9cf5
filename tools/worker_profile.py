"""Profile the fixed per-task cost of a Python worker.

Runs --actions one-row pandas-UDF actions on a local session whose Python
workers run tools/pyspark_worker_profile.py (a cProfile wrapper around
pyspark.worker.main), then prints the per-task profiled wall time of each worker
and the top cumulative entries of the last warm task (a reused worker's
second or later task). With --guard off the UDF is a bare identity; with
--guard on (default) it imports duckdb_routing_spark first, which installs
the zip directory re-read guard in the worker, as every engine UDF does.

Rerun it after upgrading pyspark or Python: a warm one-row task should cost
a few tens of ms, not hundreds.

Usage: python tools/worker_profile.py [--actions 12] [--top 25] [--guard on|off]
"""

from __future__ import annotations

import argparse
import glob
import io
import os
import pstats
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _identity_udf(guard: bool):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def identity(s):
        if guard:
            import duckdb_routing_spark  # noqa: F401
        return s

    return identity


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--actions", type=int, default=12)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--guard", choices=("on", "off"), default="on")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from duckdb_routing_spark.session import get_spark

    out = tempfile.mkdtemp(prefix="worker_profile_")
    tools = os.path.join(ROOT, "tools")
    spark = get_spark(
        app_name="worker_profile",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.python.worker.module": "pyspark_worker_profile",
            "spark.executorEnv.PYTHONPATH": os.pathsep.join([tools, ROOT]),
            "spark.executorEnv.WORKER_PROFILE_DIR": out,
        },
    )
    identity = _identity_udf(args.guard == "on")
    walls = []
    try:
        for _ in range(args.actions):
            t0 = time.perf_counter()
            spark.range(1, numPartitions=1).select(identity(F.col("id"))).collect()
            walls.append((time.perf_counter() - t0) * 1000.0)
    finally:
        spark.stop()

    by_pid: dict[str, list[str]] = {}
    for path in sorted(glob.glob(os.path.join(out, "*.prof"))):
        by_pid.setdefault(os.path.basename(path).split("-")[0], []).append(path)
    print(f"# guard={args.guard} actions={args.actions} wall ms per action: "
          + " ".join(f"{w:.0f}" for w in walls))
    warm = []
    for pid, paths in by_pid.items():
        # the last call of a worker may be its shutdown, not a task
        tasks = [p for p in paths if any(k[2] == "setup_spark_files" for k in pstats.Stats(p).stats)]
        ms = [pstats.Stats(p).total_tt * 1000.0 for p in tasks]
        print(f"# worker {pid}: profiled wall ms per task (incl. waits on the JVM) " + " ".join(f"{m:.0f}" for m in ms))
        warm += tasks[1:]
    if not warm:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit("no worker ran two tasks; raise --actions")
    last = max(warm, key=os.path.getmtime)
    buf = io.StringIO()
    pstats.Stats(last, stream=buf).sort_stats("cumulative").print_stats(args.top)
    print(f"# top {args.top} cumulative entries of warm task {os.path.basename(last)}")
    print(buf.getvalue())
    shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
