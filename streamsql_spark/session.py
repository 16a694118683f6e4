"""SparkSession helpers tuned for both local testing and cluster scale.

The defaults mirror what we would set on a 1000-executor cluster reading
~100 TB of parquet: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), broadcast threshold sized for dimension tables,
Arrow enabled for the few pandas-UDF code paths.

Local tests run on ``local[N]`` with a small shuffle-partition count so
60k-row fixtures do not pay 200-task overhead; on a real cluster the AQE
coalescer makes the initial shuffle-partition number mostly irrelevant.
"""

from __future__ import annotations

import os
import sys
from zipimport import zipimporter

from pyspark.sql import SparkSession

# Configs that are scale-critical and apply in any deployment.
SCALE_CONFS: dict[str, str] = {
    # Adaptive query execution: runtime stats drive partition coalescing,
    # skew-join splitting and join-strategy switching.  Non-negotiable at
    # 100 TB where static estimates are always wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/part metadata, stream-table
    # join snapshots) should broadcast; 64 MB covers every dim we handle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for pandas UDF / applyInPandas paths (CEP, stateful ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read-side parallelism: 128 MB splits is the parquet sweet spot.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Streaming micro-batches without data still advance watermarks so
    # event-time windows close on idle sources (reference IDLETIMEOUT intent).
    "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # The driver's parquet uses INT64 TIMESTAMP(NANOS) which Spark has no
    # native type for; read as long and convert (see load_tables).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Scale knob for the stateful streaming kernels (windows, CEP,
#: analytics via applyInPandasWithState): the default HDFS-backed state
#: store keeps EVERY key's state on the executor JVM heap — fine for the
#: local fixtures, an OOM ceiling at 10^8+ live keys.  RocksDB spills
#: state to local disk with incremental checkpointing, the provider a
#: 1000-executor deployment should run.  Enable via
#: ``SPARK_GRAFT_ROCKSDB_STATE=1`` (or pass
#: ``rocksdb_state=True`` to :func:`get_spark`) — off by default only
#: because the per-query store setup costs a constant ~100 ms that the
#: startup-bound local replay benches would pay 6×.
ROCKSDB_STATE_CONFS = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    # bound RocksDB memory usage across all state store instances
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
}

#: How Spark starts the engine's Python workers, in every session the
#: engine builds (``get_spark``, and the test suite's session): from the
#: engine's daemon, ``worker_daemon``, which imports the installed,
#: bytecode-compiled pyspark when it is the version of Spark's
#: ``pyspark.zip`` and preloads the kernel modules before it forks.  The
#: package's parent directory goes on the workers' PYTHONPATH, so the
#: daemon and the kernels import wherever the driver runs from.
WORKER_CONFS: dict[str, str] = {
    "spark.python.daemon.module": "streamsql_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH":
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
}


def get_spark(app_name: str = "streamsql-spark",
              shuffle_partitions: int | None = None,
              rocksdb_state: bool | None = None) -> SparkSession:
    """Return the active session or build a local one for tests/bench.

    Its Python workers fork from the engine's worker daemon,
    ``streamsql_spark.worker_daemon`` (see ``WORKER_CONFS``).
    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract).
    ``rocksdb_state`` (or ``SPARK_GRAFT_ROCKSDB_STATE=1``) switches the
    stateful-streaming kernels onto the RocksDB state store — the
    disk-backed provider a large deployment should run; see
    ``ROCKSDB_STATE_CONFS``.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    if rocksdb_state is None:
        rocksdb_state = os.environ.get(
            "SPARK_GRAFT_ROCKSDB_STATE", "") in ("1", "true", "yes")
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(map=WORKER_CONFS)
    )
    for k, v in SCALE_CONFS.items():
        b = b.config(k, v)
    if rocksdb_state:
        for k, v in ROCKSDB_STATE_CONFS.items():
            b = b.config(k, v)
    return b.getOrCreate()


# DataFrame-handle memo: building the 10 scan DataFrames costs ~1 s of
# driver-side work (file listing, footer schema reads) per call, and the
# catalog calls load_tables once per query.  DataFrames are immutable
# lazy plans, so sharing the handles across queries is safe; the data
# itself is never cached — every query still scans parquet.  The key
# carries each table's table_stamp, so a table regenerated in place is
# listed again instead of read through a stale file index.
_TABLE_MEMO: dict[tuple, dict] = {}


def table_stamp(sf_dir: str, names) -> tuple:
    """Freshness token of the ``<name>.parquet`` files or directories
    under ``sf_dir``: their modification times in ns (None when absent).
    Rewriting a file, or adding/removing a directory's part files,
    changes it."""
    out = []
    for name in names:
        try:
            out.append(os.stat(os.path.join(sf_dir, f"{name}.parquet"))
                       .st_mtime_ns)
        except FileNotFoundError:
            out.append(None)
    return tuple(out)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)) -> dict[str, "object"]:
    """Load the driver's parquet tables and register temp views.

    Parquet scans get predicate pushdown + column pruning from Catalyst;
    the returned DataFrame handles are memoized per session — data is
    never cached, callers decide what to persist.
    """
    from pyspark.sql import functions as F

    # session identity: applicationId + startTime, NOT id(spark) — a
    # stopped session's freed address can be reused by a NEW session
    # object (CPython allocator), which would hand back DataFrames bound
    # to the dead JVM plans and silently skip re-registering temp views
    sc = spark.sparkContext
    session_key = (sc.applicationId, sc.startTime)
    key = (session_key, os.path.abspath(sf_dir), tuple(names),
           table_stamp(sf_dir, names))
    hit = _TABLE_MEMO.get(key)
    if hit is not None:
        return hit

    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            for col in _nanos_timestamp_columns(path):
                # ns-long → µs timestamp (matches DuckDB's µs truncation)
                df = df.withColumn(
                    col, F.expr(f"timestamp_micros(CAST(`{col}` DIV 1000 AS BIGINT))"))
            df.createOrReplaceTempView(name)
            out[name] = df
    _TABLE_MEMO[key] = out
    return out


def ensure_parallelism(df, min_ratio: float = 1.0):
    """Spread a narrow scan across the cluster before a CPU-bound kernel.

    A single small parquet file (one row group) plans as ONE input split,
    which would serialize per-row compute (hashing, signatures, Python
    kernels) on one core no matter how many the cluster has.  When the
    plan's parallelism is below ``min_ratio * defaultParallelism``, round-
    robin repartition to the cluster width; at real scale the scan already
    has thousands of splits and this is a no-op — no shuffle is added.
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = int(spark.sparkContext.defaultParallelism * min_ratio)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def drop_zip_importers() -> None:
    """Drop the ``zipimporter`` entries from ``sys.path_importer_cache``.

    A PySpark Python worker calls ``importlib.invalidate_caches()`` at
    the start of every task, and on CPython 3.10+ that re-reads the
    central directory of every cached ``zipimporter`` — pyspark.zip,
    the py4j zip and Spark's jars on the worker's PYTHONPATH, 150-380 ms
    a task, between the task header and its first key group.  Deleting
    cache entries is safe: a later import from the archive builds a new
    importer from zipimport's directory cache without reading the file.

    The engine's worker daemon calls it once, after its preloads and
    before it forks (``worker_daemon``), so every worker starts its first
    task with none."""
    cache = sys.path_importer_cache
    for k in [k for k, v in cache.items() if type(v) is zipimporter]:
        cache.pop(k, None)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (read by Spark as long
    under nanosAsLong)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [f.name for f in schema
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    except Exception:
        return []
