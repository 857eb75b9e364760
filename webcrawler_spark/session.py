"""SparkSession factory with scale-appropriate defaults.

Single place where engine-wide Spark configs live so tests, jobs/, bench.py
and __spark_entry__.py agree: AQE on (skew-join backstop per SURVEY §4),
Arrow on (all Python UDFs are vectorized), shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on
    (its affinity mask, so a taskset-pinned run sizes itself to its pin)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "webcrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    # 3x cores, not 1x: with exactly |cores| shuffle tasks one straggler adds
    # a full 1/cores to stage wall; finer tasks rebalance around slow cores
    # (AQE coalescing still caps tiny shuffles at the parallelism floor)
    shuffle_partitions = shuffle_partitions or max(3 * cpus, 24)
    aqe = os.environ.get("SPARK_GRAFT_AQE", "true")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # smaller than the 128m cluster default: per-byte cost here is a
        # Python DOM parse, so scan splits must outnumber cores or the
        # mapInPandas stage runs underparallelized (1.5 GB / 128m = 12 tasks
        # would starve 32 cores)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "16m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Always use the single-file sort shuffle writer. The default bypass
        # writer kicks in below 200 reduce partitions and opens one stream
        # PER REDUCE PARTITION per map task; on a host with one shared disk
        # that is O(maps x reducers) file creates per shuffle and the
        # filesystem journal becomes a convoy — measured 16x task CPU
        # inflation at 16 cores on slim scan+shuffle stages. One data file +
        # one index file per map task is the multi-executor-safe shape.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    )
    # Shuffle blocks, localCheckpoint blocks and broadcast spill go to
    # spark.local.dir. On a real cluster every executor has its own local
    # SSD; in this single-host sandbox the default /tmp shares one ext4
    # journal with the state-dir parquet writes, so scratch traffic is
    # pointed at tmpfs when available (same role as cluster-local NVMe).
    # Overridable; ignored if the dir can't be created (falls back to /tmp).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # escape hatch for perf experiments: "k=v;k=v" applied LAST, so the env
    # route wins over both the builder defaults above and programmatic
    # extra_conf — builder .config overrides spark-submit --conf for keys set
    # here, so tuning runs need a route that beats everything.
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            b = b.config(k.strip(), v.strip())
    return b.getOrCreate()
