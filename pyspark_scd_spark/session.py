"""SparkSession factory.

The reference creates its session at module import time on ``local[*]``
(reference jobs/create_employee_all.py:217-221) and passes it around via
module globals — listed on its own wish-list as a defect
(reference README.md:121-122). Here the session is an explicit
parameter everywhere; this factory exists only for scripts/tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# AQE + sane shuffle sizing; these defaults matter at every scale:
# - adaptive execution re-plans skewed joins and coalesces tiny
#   post-shuffle partitions (Spark 3.x; the 2.4-era reference predates it)
# - shuffle.partitions sized to the local core count for tests; a real
#   cluster deployment overrides via spark-submit conf.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # NOT set: spark.python.daemon.module preloading pandas/pyarrow
    # in the daemon (r13 experiment). Hypothesis was that fresh forks
    # pay the Arrow-stack import; measured A/B (same window,
    # alternating): the preloaded ~100 MB daemon made every fork
    # SLOWER (video neardup 3.5 -> 4.1s, audio 1.1 -> 1.5s at sf0.1)
    # — fork cost scales with the parent's resident pages, and
    # worker reuse already amortizes the imports. Stock slim daemon
    # wins; the "time to initialize Python workers" SQL metric
    # includes slot wait and is not an import-cost gauge.
}


_DRIVER_MEM_CAP_MB = 16 * 1024


def _driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: a quarter of physical RAM, capped
    at 16g. The local-mode driver JVM is the whole Spark process, so a
    heap sized to all of RAM lets one long run (a full test suite)
    grow until the kernel OOM-kills it."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys_bytes // 4 // 1024**2, _DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "pyspark_scd_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults."""
    # The preload daemon module (and every mapInPandas closure) must
    # be importable by worker processes, which resolve imports from
    # the PYTHONPATH env var, not the driver's sys.path.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH")
            else pkg_root
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM"
    ) or _driver_memory()
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
