"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design target (AQE on, skew-join
handling, zstd parquet) while remaining correct on local[N] test runs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: Linux ``sun_path`` is 108 bytes, one of them the terminating NUL.
AF_UNIX_PATH_MAX = 107
#: Spark binds every Unix socket as ``<dir>/.<uuid4>.sock``.
_SOCK_NAME = "." + "0" * 36 + ".sock"
_UDS = "spark.python.unix.domain.socket."


def uds_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """The ``spark.python.unix.domain.socket.*`` conf of a new session.

    JVM<->Python traffic (Python tasks, Python data sources, Arrow
    ``collect``/``toPandas``, accumulators) runs over Unix domain
    sockets: over loopback TCP every Python task waited a constant
    ~41 ms for its first input bytes, over a Unix socket under 1 ms
    (NOTES.md, "Python tasks waited 41.6 ms on TCP"). The socket dir is
    ``tempfile.gettempdir()`` when a socket path under it fits
    ``AF_UNIX_PATH_MAX``, else ``/tmp``; if neither fits, the session
    stays on TCP, because a longer path fails session start with
    ``OSError: AF_UNIX path too long``. Socket keys in ``extra_conf``
    win over these defaults.
    """
    conf = {}
    for d in (tempfile.gettempdir(), "/tmp"):
        if len(os.path.join(d, _SOCK_NAME).encode()) <= AF_UNIX_PATH_MAX:
            conf = {_UDS + "enabled": "true", _UDS + "dir": d}
            break
    conf.update(
        (k, v) for k, v in (extra_conf or {}).items() if k.startswith(_UDS)
    )
    return conf


def get_spark(
    app_name: str = "lakota_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster, ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. ``spark.sql.shuffle.partitions`` is a
    *starting* value — AQE coalesces small post-shuffle partitions at runtime,
    which is the knob that actually matters at 100 TB (static tuning cannot
    fit every stage).

    Spark CONNECT caveat: the engine pins a classic (py4j) session. Under
    Connect, `skew.salted_agg` needs an explicit ``combiners=`` map (its
    string-based combiner inference has a classic-only ``_jc`` fallback);
    everything else in the engine uses public DataFrame/SQL APIs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus) * 2),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Segment files are written sorted; keep planner aware of file sizes.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # A fragmented series read passes THOUSANDS of segment-dir paths
        # to one scan; the default parallel-discovery parallelism (10000)
        # launches one listing task PER PATH — pure scheduler overhead on
        # tiny dirs (measured: 5.0 s -> 1.5 s for a 2000-segment scan at
        # 64). Cluster-sized batches beat per-path tasks on any backend.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", "64")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    elif master:
        builder = builder.master(master)
    for k, v in {**uds_conf(extra_conf), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _silence_benign_accumulator_noise(spark)
    return spark


def _silence_benign_accumulator_noise(spark: SparkSession) -> None:
    """Raise DAGScheduler's log threshold to FATAL.

    Python accumulator updates for already-collected SQL metrics log a
    benign ``DAGScheduler: Failed to update accumulator`` ERROR on fast
    local queries (rc=0, results unaffected); at ERROR level they bury
    real failures in the bench/oracle log tails. Real scheduler failures
    surface as job exceptions regardless of log level, so FATAL-only
    loses nothing. Best-effort: never fail session creation over logging.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:  # noqa: BLE001 - log4j API drift; logging only
        pass


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read testdata parquet tables; returns dict name -> DataFrame."""
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
