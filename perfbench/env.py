"""Process set-up shared by the benchmark and its tests: make the
package importable to this process AND to Spark's Python workers,
keep every scratch file inside the run's work directory, and start
and fully stop the engine's session."""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "samba_tv_ingest_etl_spark"
DRIVER_MEMORY = "2g"
# the engine's broadcast threshold scaled down with the data (10 MB
# at fleet scale): the MERGE targets exceed it, one day's affected
# keys stay under it, so both join branches run as designed
BROADCAST_THRESHOLD = str(44 << 10)


def bootstrap(work: str) -> None:
    """Call before the first Spark session of the process. Spark's
    Python workers inherit PYTHONPATH from the JVM, which inherits it
    from this process; without the repo root on it, any query whose
    UDFs pickle package functions fails in the worker with
    ``ModuleNotFoundError`` whenever the cwd is outside the repo."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"package {PACKAGE!r} not found next to {HERE}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def start_spark(work: str, cpus: int, event_log: str | None = None):
    from samba_tv_ingest_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed, pre-touched heap: without it the JVM's RSS follows
        # G1's heap-growth decisions, and peak_rss_mb varied 13-23%
        # between seeds on a 4-core VM; the engine's retained heap is
        # read from the JVM instead (host.jvm_old_gen_peak_mb)
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.autoBroadcastJoinThreshold": BROADCAST_THRESHOLD,
        "spark.sql.adaptive.autoBroadcastJoinThreshold": BROADCAST_THRESHOLD,
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def shutdown(spark, timeout: float = 120.0) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout)
