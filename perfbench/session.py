"""Spark session life cycle for one benchmark process: environment that
keeps every file Spark writes inside the run's work directory, start and
restart of the engine's session factory, and a shutdown that stops the
JVM and its Python workers and waits for them."""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import time

from measure import process_tree

# UI history large enough that a traced window's jobs are never evicted
# before they are read back; no console progress bars on stderr. Passed on
# the JVM's command line: they then hold for every SparkContext the JVM
# starts, including the restarts of the repeated set-ups.
SUBMIT_CONFS = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def isolate(work_dir: str, repo_root: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work_dir``; must run before the first session starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: the JVM would otherwise keep its perf counters in
    # /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work_dir} -XX:-UsePerfData"
    )
    confs = dict(SUBMIT_CONFS, **{"spark.sql.warehouse.dir": os.path.join(work_dir, "sql-warehouse")})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = tmp


def start(cpus: int):
    """Start (or restart) the engine's session; returns ``(spark, seconds)``."""
    from apache_pinot_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus)
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, the JVM and every process under this one, and
    wait until each has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s / 2)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children(timeout_s / 2)


def reap_children(timeout_s: float) -> None:
    """Wait for every descendant to exit; SIGKILL what outlives the
    timeout, then wait again."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        kids = [p for p in process_tree(me) if p != me]
        if not kids:
            return
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        for p in kids:
            try:  # reap our own zombies; others are reaped by their parent
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
