"""SparkSession factory and session-level configuration.

Determinism + scale defaults used across the engine:

* ``spark.sql.session.timeZone=UTC`` — oracle comparisons (DuckDB) must see
  identical timestamps regardless of host TZ (SURVEY.md §2B determinism).
* AQE on — runtime re-planning (skew joins, coalesced shuffle partitions)
  is the scale story for 100 TB inputs where static stats lie.
* ``autoBroadcastJoinThreshold`` kept at default 10 MB — dimension tables
  (region/nation/customer/supplier) broadcast; facts (orders/lineitem)
  sort-merge.  Queries force `F.broadcast` where the choice matters.
* Arrow enabled — every pandas UDF / mapInPandas stage ships Arrow batches,
  never pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: conf applied both when we build the session ourselves and when the
#: driver hands us one (runtime-settable keys only in that case).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the synthetic events table stores TIMESTAMP(NANOS) which Spark's
    # parquet reader rejects; read as long and convert in the catalog
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # plan metadata (scan Location, PushedFilters) truncates at 100
    # chars by default — long store paths silently vanish from the
    # detail string, breaking path-matched executed-plan metrics (the
    # r9 time bomb: pytest's tmp dir number grew one digit and pushed
    # a scan's dir name past the cutoff)
    "spark.sql.maxMetadataStringLength": "512",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers regardless
    of the driver's cwd/PYTHONPATH (mapInPandas/pandas-UDF stages pickle
    module functions BY REFERENCE, so workers must import the module).
    addPyFile distributes a zip once per session and extends the worker
    import path — works in local and cluster mode alike."""
    sc = spark.sparkContext
    if getattr(sc, "_dis_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"dis_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    try:
        sc.addPyFile(zpath)
    except Exception:
        pass  # e.g. identical file already added by a previous session user
    sc._dis_pkg_shipped = True


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism/perf conf to an existing session.

    Safe to call on a driver-owned session: only touches runtime keys.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # key not runtime-settable in this build — defaults are fine
    _ship_package(spark)
    return spark


def shuffle_partition_plan(
    master: str, default_parallelism: int, env: os._Environ | dict = os.environ
) -> tuple[int, int | None]:
    """Pick ``(spark.sql.shuffle.partitions, AQE initialPartitionNum)``
    for this deployment.  Returns ``None`` for the second element when no
    AQE override is needed.

    Local masters get one partition per core (``defaultParallelism``,
    at least 1).  The same number is the state-store count of every
    stateful streaming operator: Spark reads it from
    ``spark.sql.shuffle.partitions`` when a checkpoint is first created
    (a checkpoint keeps the count recorded in it), and each store pays
    a fixed commit per micro-batch, so a count above the core count
    only queues commits behind the cores.  AQE coalesces batch
    shuffles below it when partitions come out small.

    On a cluster ``spark.sql.shuffle.partitions`` also seeds AQE's
    ``initialPartitionNum``, so a small count would cap every shuffle
    no matter how many executors exist.  Cluster masters get 2× total
    cores (floor 200) with a 4× initialPartitionNum headroom so AQE
    coalesces DOWN from a high-parallelism split instead of being
    capped from below.  ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides
    both modes for explicit tuning."""
    override = env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if override:
        n = int(override)
        return n, 4 * n
    if master.startswith("local"):
        return max(1, default_parallelism), None
    n = max(2 * default_parallelism, 200)
    return n, 4 * n


def get_spark(app_name: str = "data_integration_system_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[N] for tests/bench (N from SPARK_GRAFT_CPUS, default all cores);
    on a real cluster the master comes from spark-submit and this builder
    only contributes conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # bucketed-table tests (saveAsTable) must not write into the repo
        .config("spark.sql.warehouse.dir", "/tmp/dis-spark-warehouse")
        # FAIR job scheduling (startup-only key): concurrent job
        # submission (layout.compact_partitions' ThreadPoolExecutor)
        # interleaves task sets instead of serializing behind a large
        # first job under FIFO.  Single-job callers are unaffected —
        # one pool, one job, identical schedule.
        .config("spark.scheduler.mode", "FAIR")
    )
    # Only default the master when none was provided externally —
    # builder.master() would OVERRIDE spark-submit's --master, silently
    # turning a cluster job into a single-host local[*] run.
    from pyspark import SparkConf

    if SparkConf().get("spark.master", None) is None:
        builder = builder.master(f"local[{cpus}]")
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # shuffle parallelism is deployment-dependent (runtime-settable, so
    # decided AFTER the session exists and the real master is known)
    sc = spark.sparkContext
    n_shuffle, init_num = shuffle_partition_plan(sc.master, sc.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    if init_num is not None:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(init_num),
        )
    return configure(spark)
