"""SparkSession construction and runtime-conf management.

Two entry points:

- ``get_spark()``: build a tuned local session (tests / bench).
- ``ensure_runtime_confs(spark)``: idempotently apply the runtime-settable
  confs this engine depends on to an *externally provided* session (the
  correctness driver hands us its own SparkSession, so anything we need
  must be settable at runtime, not only at builder time).

Conf rationale (100 TB design point, tested on local[32]):

- ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin: AQE
  re-plans shuffles at runtime — mandatory at scale for skewed keys and
  for collapsing tiny post-filter partitions.
- ``spark.sql.session.timeZone=UTC``: the reference normalizes to UTC
  (reference index.js:272 ``.utc().format()``); also guarantees
  timestamp parity with the DuckDB oracle, which treats naive parquet
  timestamps as UTC.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver testdata
  stores ``events.ts`` / ``lineitem.l_shipdate`` as parquet
  TIMESTAMP(NANOS) which Spark cannot read natively; we read the raw
  int64 nanos and convert (see tables.py) — the conversion truncates
  ns → µs exactly like DuckDB's read of the same files.
- ``spark.sql.parquet.aggregatePushDown``: COUNT/MIN/MAX answered from
  parquet footer statistics without scanning row groups.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package, for the Python workers' path
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)

# Confs that MUST hold for correctness of this engine, applied at runtime
# so they also take effect on driver-owned sessions.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # id-fetch patterns (rp_topk fetch_by_id, shard-manifest readers)
    # push isin() candidate sets to parquet; above this threshold
    # Spark silently degrades the pushed In filter to a min/max RANGE,
    # which skips nothing when the ids are scattered — measured 2.77 s
    # / 6.38M rows decoded at threshold 10 vs 0.65 s / 3.2M rows at
    # 1000 for a 160-id fetch over a 6.4M-row id-sorted table
    # (BASELINE.md §C rp row).
    "spark.sql.parquet.pushdown.inFilterThreshold": "1000",
}

# Additional perf confs only settable at session build time.
BUILD_CONFS: dict[str, str] = {
    "spark.sql.parquet.aggregatePushDown": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # documents/embeddings files are small; don't let tiny files produce
    # one-task stages — but keep default 128m maxPartitionBytes so the
    # 100 TB case still splits correctly.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32m",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply RUNTIME_CONFS to an existing session, and put
    this package's parent directory on the Python workers' PYTHONPATH.

    Workers start in the driver's cwd with pyspark's own path only, so
    a UDF or mapInPandas closure that imports this package fails with
    ModuleNotFoundError unless the driver happens to run from the
    repo root. ``SparkContext.environment`` travels with every Python
    function the session builds, so the fix reaches driver-owned
    sessions too."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this Spark build — best effort.
            pass
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    return spark


def get_spark(
    app_name: str = "timeseries-data-provider-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores; shuffle
    partitions default to the core count (right-sized for local mode —
    on a real cluster this is overridden to ~2-3x total cores or left
    to AQE coalescing).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in {**BUILD_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)
