"""Pins the run environment inside the benchmark process and owns the
Spark session's lifetime.

Everything the run writes stays under ``<checkout>/.perfbench/``: Spark's
local (shuffle/spill) dirs, the JVM and Python temp dirs, the SQL
warehouse, and the span dumps of traced runs.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

# Heap for the single local JVM: the largest cached input (the 5M-row
# Monte Carlo grid) needs well under 1 GB.
DRIVER_MEMORY = "2g"


def cores() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict[str, str]:
    """Set the process environment the session is created from and return
    the extra Spark conf for :func:`start_session`."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # session.py defaults to local[32] with 32 shuffle partitions
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    return {
        # the console progress bar writes into the middle of result lines
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def start_session(extra_conf: dict[str, str]):
    from data_integration_est_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb() -> float:
    """Peak resident set of the session's JVM (Linux ``VmHWM``), or 0.0
    when it cannot be read."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_session(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
