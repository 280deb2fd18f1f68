"""SparkSession factory.

The reference delegates all execution to PostgreSQL (SURVEY.md §3); our
equivalent of its "server config" is a SparkSession tuned for the
analytics workload:

- UTC session timezone: the epoch-seconds surrogate key ``date_id``
  (reference ``etl_script/03_transform.sql:7``) must be deterministic.
- AQE on: runtime coalescing + skew-join handling stands in for the
  reference's B-tree indexes (``schema.sql:68-70``) at scale.
- Arrow enabled: any Pandas-UDF extension path gets vectorized transfer.
"""

from __future__ import annotations

import os
import shutil
import sys

from pyspark.sql import SparkSession

# Free-disk floor for any graded/benchmarked run (GiB). The r8 grading
# of v_kpi_campaign died in a shuffle WRITE (FileOutputStream.writeBytes
# under BypassMergeSortShuffleWriter) because the 100x probe dataset was
# co-tenant on disk (93%-full episode recorded in BASELINE.md). Shuffle
# spill needs headroom; the probe dataset regenerates in ~15 min.
MIN_FREE_GIB_DEFAULT = 48
_SCRATCH_100X = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                             ".scratch", "sf100b")


def ensure_disk_headroom(min_free_gib: int | None = None) -> int:
    """Assert shuffle-spill headroom before a graded run; reclaim the
    regenerable 100x probe dataset if that's what is eating it.

    Returns free GiB after any reclaim. Only ever deletes
    ``.scratch/sf100b`` (driver-regenerable via tools/make_sf.py);
    warns on stderr if free space stays under the floor. Set
    SPARK_GRAFT_MIN_FREE_GB=0 to disable (e.g. while a 100x probe is
    deliberately resident and no graded run is imminent)."""
    floor = (min_free_gib if min_free_gib is not None
             else env_positive_int("SPARK_GRAFT_MIN_FREE_GB",
                                   MIN_FREE_GIB_DEFAULT))
    if not floor or os.environ.get("SPARK_GRAFT_MIN_FREE_GB") == "0":
        return shutil.disk_usage("/").free >> 30
    free_gib = shutil.disk_usage("/").free >> 30
    if free_gib < floor and os.path.isdir(_SCRATCH_100X):
        print(f"[session] free disk {free_gib} GiB < {floor} GiB floor: "
              f"removing regenerable {_SCRATCH_100X}", file=sys.stderr)
        shutil.rmtree(_SCRATCH_100X, ignore_errors=True)
        free_gib = shutil.disk_usage("/").free >> 30
    if free_gib < floor:
        print(f"[session] WARNING: only {free_gib} GiB free (< {floor} GiB "
              "floor) — large shuffles may die in spill writes",
              file=sys.stderr)
    return free_gib


def env_positive_int(name: str, default: int | None = None) -> int | None:
    """Parse env var ``name`` as a positive int; unset, empty, non-numeric,
    or < 1 values all fall back to ``default`` (ADVICE r7: a set-but-falsy
    '0' previously fell through a truthiness guard into an invalid
    spark.sql.shuffle.partitions=0, and '' crashed int() at import)."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        val = int(raw.strip())
    except ValueError:
        return default
    return val if val >= 1 else default


# Shuffle width defaults to the thread count but can be raised
# independently (SPARK_GRAFT_SHUFFLE_PARTITIONS) for large-SF runs:
# at 100x+ a 600 M-row shuffle wants more, smaller partitions than
# local threads — AQE then coalesces whatever is oversplit.
DEFAULT_SHUFFLE_PARTITIONS = env_positive_int(
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    env_positive_int("SPARK_GRAFT_CPUS", 32),
)


def _jdk_major() -> int:
    """Major version of the JDK Spark will launch on (JAVA_HOME release
    file; falls back to 17 — the documented floor for Spark 4)."""
    java_home = os.environ.get("JAVA_HOME", "")
    try:
        with open(os.path.join(java_home, "release")) as fh:
            for line in fh:
                if line.startswith("JAVA_VERSION="):
                    ver = line.split("=", 1)[1].strip().strip('"')
                    head = ver.split(".")[0]
                    return int(head) if head != "1" else int(ver.split(".")[1])
    except (OSError, ValueError, IndexError):
        pass
    return 17


def get_spark(
    app_name: str = "marketing-etl-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Defaults target local[$SPARK_GRAFT_CPUS]; on a real cluster the
    master comes from spark-submit and these configs still apply.
    """
    ensure_disk_headroom()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Determinism: epoch date keys and date extraction are TZ-sensitive.
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # partitions at runtime — essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES (64 MB default);
        # operators whose shuffle data is small but per-row work is
        # heavy (candidate-pair joins over hashes, array intersects)
        # coalesce to 1 task and serialize. 2 MB keeps those parallel
        # locally; at cluster scale shuffle bytes dominate and this
        # mostly matches the default behavior anyway.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # Runtime bloom-filter pruning: selective joins inject a bloom
        # filter of the build side's keys into the probe side's scan —
        # at 100 TB this skips row groups before the shuffle. No-op on
        # broadcast joins (already pruned); matters for fact-fact SMJs.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Dims here are tiny (19..2450 rows); let Spark broadcast eagerly.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Arrow for any pandas_udf / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Filter pushdown INTO Python data sources (Spark 4.1, off by
        # default): lets custom connectors (sources/logfmt.py) drop
        # rows during parsing instead of materializing them into
        # Arrow batches first.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Quieter local runs.
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Heartbeat window: at 100x+ local SFs a full-heap GC pause can
        # exceed the default 120 s spark.network.timeout, and in local
        # mode the HeartbeatReceiver then "removes" the driver-executor
        # — shuffle state is wiped and every in-flight stage dies with
        # missing temp_shuffle files (observed at sf100b). 480 s rides
        # out worst-case pauses; on a real cluster the same setting is
        # standard practice for straggler-tolerant long jobs.
        .config("spark.network.timeout", "480s")
        # Shuffle/spill compression codec (Spark default lz4). zstd
        # roughly halves spill volume for the shingle-pair-heavy dedup
        # entries at 100x-class SFs, where local disk — not CPU — is
        # the binding constraint on this container.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
    )
    # JDK-8192647 mitigation: 32 executor threads doing Arrow/netty
    # JNI critical sections can starve an allocating thread behind
    # the GCLocker ("Retried waiting for GCLocker too often"), which
    # surfaces as a spurious task OOM and a lost shuffle file under
    # 100x-scale local runs. Raising the retry count (diagnostic
    # flag) removes the spurious failure. Set via defaultJavaOptions
    # (which Spark PREPENDS to any user/spark-defaults
    # extraJavaOptions rather than replacing them) and only on JDKs
    # that still have a GCLocker (removed in JDK 22+, where the
    # unrecognized -XX option would abort startup).
    gclocker_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS")
    if gclocker_opts is None and _jdk_major() < 22:
        gclocker_opts = (
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=128"
        )
    if gclocker_opts:
        builder = builder.config("spark.driver.defaultJavaOptions", gclocker_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
