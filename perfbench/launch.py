"""Process hygiene shared by every workload: where the repo is, the
environment a Spark client needs, and a shutdown that waits for the JVM and
its Python workers to end."""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import sys
import time

from . import probes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> None:
    """Environment for a Spark client whose scratch files all stay in
    ``work``.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={work}/derby.log "
        "-XX:-UsePerfData"
    )
    os.environ.update(
        {
            # Python workers import the package from the repo root
            "PYTHONPATH": os.pathsep.join(dict.fromkeys(paths)),
            "SPARK_GRAFT_CPUS": str(os.cpu_count()),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    "--conf " + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
                    "pyspark-shell",
                ]
            ),
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM and wait until it and every process
    it started have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [proc.pid, *probes.descendants(proc.pid)]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
