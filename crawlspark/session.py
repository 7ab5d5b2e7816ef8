"""SparkSession factory with the engine's standard tuning applied."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import config

# generated classes kept compiled per JVM: ~7x a whole snapshot-resume
# crawl's working set (see get_spark)
CODEGEN_CACHE_ENTRIES = 2000


def codegen_compiles(spark: SparkSession) -> int:
    """Classes compiled with Janino so far by the driver JVM (in local mode,
    its executors' too).  A counter read: runs no Spark job."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _importable_in_subprocess(module: str) -> bool:
    """Can a fresh worker python import ``module`` under the CURRENT env?"""
    import subprocess
    import sys

    try:
        return (
            subprocess.run(
                # -P: no cwd on sys.path — the daemon's cwd is the
                # executor's, not ours, so a cwd-import would be a false OK
                [sys.executable, "-P", "-c", f"import {module}"],
                capture_output=True,
                timeout=30,
            ).returncode
            == 0
        )
    except Exception:
        return False


def get_spark(
    app_name: str = "crawlspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with AQE + Arrow enabled.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` and let spark-submit supply it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Make the engine package importable by executor python workers and
    # preload the UDF import chain in the worker daemon (fork inherits it).
    # The daemon module can only be enabled when the worker python will be
    # able to import it at DAEMON LAUNCH time (plain PYTHONPATH — py-files
    # only reach sys.path later, at task deserialization):
    #  * self-launched JVM (plain `python script.py`): the JVM is our child
    #    and inherits the PYTHONPATH we export here → safe.
    #  * under spark-submit (PYSPARK_GATEWAY_PORT pre-set): the JVM env was
    #    fixed before this code ran → enable only if crawlspark already
    #    imports under that inherited env; otherwise fall back to the stock
    #    daemon (UDFs still work via --py-files, just with colder workers).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{py_path}" if py_path else repo_root
    # Under spark-submit (PYSPARK_GATEWAY_PORT pre-set) the JVM env was
    # fixed before this code ran, and --py-files reach worker sys.path only
    # at task time — so the daemon module would crash every worker launch.
    # There, default to the stock daemon (UDFs still work, just colder
    # workers); opt in with CRAWLSPARK_DAEMON=1 after making crawlspark
    # importable on executors (pip install / --archives + executorEnv
    # PYTHONPATH).  Self-launched JVMs inherit our PYTHONPATH → safe.
    jvm_preexists = "PYSPARK_GATEWAY_PORT" in os.environ
    use_daemon = (not jvm_preexists) or os.environ.get("CRAWLSPARK_DAEMON") == "1"
    if use_daemon and jvm_preexists:
        use_daemon = _importable_in_subprocess("crawlspark.worker_daemon")
    builder = SparkSession.builder.appName(app_name)
    if use_daemon:
        builder = builder.config(
            "spark.python.daemon.module", "crawlspark.worker_daemon"
        )
    builder = (
        builder
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or config.SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark's codegen cache, default 100 entries: less than one
        # crawl's working set, so every crawl recompiled ~150 classes.  The
        # key is (context classloader, source), so each class is cached once
        # for the driver thread and once for a task thread: a warm-up plus a
        # `bfs` crawl needs ~175 entries, a whole snapshot-resume run ~275.
        # Static: the cache is sized once, when CodeGenerator first loads.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(config.ARROW_BATCH_ROWS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("CRAWLSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
