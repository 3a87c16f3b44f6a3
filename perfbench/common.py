"""Run plumbing shared by the workloads: environment, Spark session, the
environment stamp, percentiles and the result line."""

from __future__ import annotations

import json
import os
import platform
import shlex
import statistics
import subprocess
import sys
import time

#: the checkout root (the parent of this directory)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the tables ``analyst_pack`` reads and ``mutation_mix`` is seeded from: a
#: copy of the repo's sf0.1 test tables (seed 42; TESTDATA.md), limited to
#: the tables the benchmark's queries read
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
#: jobs and stages the status store keeps; the traced run reads every job of
#: a run after its timed loop, so none may be evicted before then
RETAINED = 100_000


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every file Spark, its JVM and Python write at ``work`` and size
    the session to this machine's cores.  Spark's Python workers import the
    program from the checkout root, so it goes on PYTHONPATH.  The program's
    ``get_spark`` builds the session, so settings it does not make reach the
    JVM launch through ``PYSPARK_SUBMIT_ARGS``."""
    tmp = os.path.join(work, "tmp")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.ui.retainedJobs={RETAINED}",
        "--conf", f"spark.ui.retainedStages={RETAINED}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'catalog')}",
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "pyspark-shell"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    """The program's own session factory: ``local[$SPARK_GRAFT_CPUS]``."""
    from dev_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited, so
    the next run does not share the machine with this one's shutdown."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the launched JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree (read from the
    files, so no search leaves the checkout), else None."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as fh:
                for line in fh:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except OSError:
        return None
    return None


def env_stamp(spark) -> dict:
    import pyspark

    from tools.quietcheck import quiet_stamp

    return {
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "quiet": quiet_stamp(),
    }


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100)."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Clock:
    """Monotonic stopwatch for untraced timing."""

    def __init__(self):
        self.t = time.perf_counter()

    def lap(self) -> float:
        now = time.perf_counter()
        dt, self.t = now - self.t, now
        return dt


def write_artifact(workload: str, seed: int, trace: int, body: dict) -> str:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{workload}-seed{seed}-trace{trace}.json")
    with open(path, "w") as fh:
        json.dump(body, fh, indent=1, sort_keys=True, default=str)
        fh.write("\n")
    return path


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
