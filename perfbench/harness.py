"""Process-level plumbing shared by every workload: the pinned environment
and Spark session, the recorded configuration, memory accounting and the
small statistics helpers.

The benchmark runs from the root of a source checkout and keeps every file
it writes under ``<root>/.perfbench_run``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_run")
DRIVER_HEAP = "2g"
CPUS = len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process was created (from /proc, so interpreter
    start-up and imports are included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot: a rise during a run means the host was contended."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def pin_environment(run_dir: str) -> dict:
    """Make the run independent of the caller's environment.

    - ``SPARK_GRAFT_*`` variables change package defaults (driver heap, AQE,
      core count); they are removed, and the removed names are recorded.
    - Python workers are started by the JVM and do not inherit ``sys.path``:
      the checkout root goes on ``PYTHONPATH`` so they can import the package
      from any working directory.
    - Spark local files, JVM and Python temp files go under ``run_dir``.
    """
    scrubbed = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in scrubbed:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    sys.path.insert(1, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher's too): no /tmp/hsperfdata files, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp
    return {"scrubbed_env": scrubbed}


def session_conf(run_dir: str) -> dict:
    """The session settings every workload runs under (on top of
    ``session.get_spark`` and ``session.bench_session_conf``)."""
    from duckdb_routing_spark.session import bench_session_conf

    conf = dict(bench_session_conf(CPUS))
    conf.update(
        {
            "spark.driver.memory": DRIVER_HEAP,
            # full heap committed up front and a fixed young generation:
            # resident memory does not follow adaptive GC sizing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Xmn256m",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        }
    )
    return conf


def start_session(run_dir: str):
    from duckdb_routing_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=session_conf(run_dir),
    )


RECORDED_CONF = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.files.minPartitionNum",
)


def effective_conf(spark, extra: dict | None = None) -> dict:
    out = {k: spark.conf.get(k, None) for k in RECORDED_CONF}
    out["cpus"] = CPUS
    out.update(extra or {})
    return out


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> tuple[float, dict]:
    """Sum of VmHWM over this process and every live descendant (the JVM
    and the Python worker daemon with its workers), in MB, and the
    per-process figures by command name."""
    me = os.getpid()
    per: dict[str, list[float]] = {}
    for p in _descendants(me):
        try:
            with open(f"/proc/{p}/status") as f:
                hwm = [ln for ln in f if ln.startswith("VmHWM:")]
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not hwm:
            continue
        if p == me:
            kind = "driver"
        elif argv[0].endswith(b"java"):
            kind = "jvm"
        elif b"pyspark.daemon" in argv:
            kind = "python_worker"
        else:
            kind = "other"
        per.setdefault(kind, []).append(int(hwm[0].split()[1]) / 1024.0)
    return sum(sum(v) for v in per.values()), {k: [round(x, 1) for x in v] for k, v in per.items()}


def cpu_s_by_kind() -> dict:
    """CPU time (user + system) used so far by the JVM and by the Python
    workers (the daemon and every worker it forked), in seconds."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {"jvm": 0.0, "python_worker": 0.0}
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{p}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if argv[0].endswith(b"java"):
            kind = "jvm"
        elif b"pyspark.daemon" in argv:
            kind = "python_worker"
        else:
            continue
        out[kind] += (int(fields[11]) + int(fields[12])) / tick
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return percentile(values, 50.0)


@dataclass
class Outcome:
    """What a workload returns to the runner."""

    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)  # human-readable reasons
    info: dict = field(default_factory=dict)

    def fail(self, reason: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(reason)


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM and wait until the JVM and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    me = os.getpid()
    children = [p for p in _descendants(me) if p != me]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
