"""cProfile-wrapping Python worker module for tools/worker_profile.py.

Spark's daemon imports the module named by ``spark.python.worker.module``
(the name must start with ``pyspark``) and calls its ``main`` once per task
in each forked worker. This one runs ``pyspark.worker.main`` under cProfile
and dumps one ``<pid>-<task>.prof`` per task into $WORKER_PROFILE_DIR.
"""

import cProfile
import os

from pyspark import worker

_tasks = 0


def main(infile, outfile):
    global _tasks
    prof = cProfile.Profile()
    try:
        prof.runcall(worker.main, infile, outfile)
    finally:
        out = os.environ.get("WORKER_PROFILE_DIR")
        if out:
            prof.dump_stats(os.path.join(out, f"{os.getpid()}-{_tasks:04d}.prof"))
        _tasks += 1
