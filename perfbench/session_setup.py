"""Build and tear down the benchmark's SparkSession, confined to its work dir."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def confine_to(work_dir: str) -> None:
    """Point every temp/scratch location of this process, its JVM and its
    Python workers at ``work_dir`` so a run writes only inside the
    checkout.  Must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # recompute gettempdir() from TMPDIR


def build_session():
    """The package's own session factory on local[<cores>], plus one
    trivial action.  Returns ``(spark, get_spark_s, setup_s)``."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from odin_rs_spark.session import get_spark

    n = cores()
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then end the JVM and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
