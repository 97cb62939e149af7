"""SparkSession builder with the scale-oriented defaults this engine assumes.

Tuned for correctness-at-scale semantics (AQE on, skew-join handling on,
Arrow batches bounded so long documents don't blow executor memory) while
remaining a plain local[N] session in this sandbox. On a real cluster the
same configs apply unchanged; only master/memory come from spark-submit.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DAEMON_MODULE = "pii_detection_redaction_spark.plans.pydaemon"
# the directory that holds the package (a --py-files zip when shipped so)
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def worker_conf(master: str, extra_conf: dict | None = None) -> dict:
    """``extra_conf`` plus, on a ``local`` / ``local[...]`` master, the
    Python worker daemon that imports pyspark from its installed package
    (``plans.pydaemon``) and the package root appended to the workers'
    ``PYTHONPATH``, so ``-m`` resolves from any working directory.

    Local workers share the driver's Python and filesystem; other masters
    (``local-cluster``, YARN, standalone) may ship the package only with
    the task (``--py-files``), after the daemon starts, so they keep
    pyspark's daemon. A caller's ``spark.python.daemon.module`` wins."""
    conf = dict(extra_conf or {})
    if not _LOCAL_MASTER.fullmatch(master) or "spark.python.daemon.module" in conf:
        return conf
    path = conf.get("spark.executorEnv.PYTHONPATH")
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(p for p in (path, _PACKAGE_ROOT) if p)
    conf["spark.python.daemon.module"] = DAEMON_MODULE
    return conf


def build_session(
    app_name: str = "pii_detection_redaction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # honor an externally-configured master (spark-submit --master yarn
    # lands in SparkConf before the driver script runs): forcing local[N]
    # over it would silently run the "cluster" job on the driver's cores.
    # Explicit parameter > submitted conf > local default. The submitted
    # conf lives in spark-submit's JVM (PYSPARK_GATEWAY_PORT names it): a
    # SparkConf made before the driver connects to it is an empty dict.
    if master is None:
        from pyspark import SparkConf, SparkContext

        if "PYSPARK_GATEWAY_PORT" in os.environ:
            SparkContext._ensure_initialized()
        master = SparkConf().get("spark.master", None) or f"local[{cores}]"
    # local[N] → shuffle partitions should match cores, not the 200 default.
    # Bracket contents may carry extra args (local[4,2],
    # local-cluster[2,1,1024]) — only the LEADING integer is the core count.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        lead = n.split(",")[0].strip()
        shuffle_partitions = cores if not lead.isdigit() else int(lead)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # pin ANSI semantics (Spark 4's default, but clusters override it):
        # try_cast gating in the trainers and NULL-propagating collection
        # functions both assume it; legacy sizeOfNull=-1 would corrupt
        # counters silently
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # long documents: bound Arrow batch size so a batch of 6k-char docs
        # stays well under executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # web-scale inputs contain invalid UTF-8; decode() must replace
        # malformed bytes with U+FFFD (== the oracle's errors="replace"),
        # not abort the task (Spark 4 default throws MALFORMED_CHARACTER_CODING)
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in worker_conf(master, extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
