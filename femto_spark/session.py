"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and spark-submit
entrypoints share one configuration story. Designed for a multi-executor
cluster; `local[N]` in this sandbox exercises the identical code path
(explicit partitioning, Arrow batching, AQE) per BASELINE.md's sandbox
protocol for the N vs 4N scaling criterion.

`start_session` is the one place the Python-worker settings live; both
`get_spark` and the spark-submit CLIs (scripts/femto_build.py,
scripts/femto_search.py) start their sessions through it:

- glibc malloc thresholds for the numpy-heavy workers (`MALLOC_ENV`);
- the directory holding `femto_spark` appended to the workers' PYTHONPATH,
  after any `spark.executorEnv.PYTHONPATH` already set, so the UDFs import
  the package without the caller's PYTHONPATH.

Workers also stop re-reading pyspark.zip on every task once a femto UDF
has run in them: see femto_spark/_zipdirs.py.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# glibc tuning for the numpy-heavy Arrow workers: without these, every
# fresh large ndarray is a new mmap whose first-touch page faults cost
# ~0.5 s per 100 MB on this kernel (measured: `v & 0x7F` on 10.8M uint64
# fell from 0.56 s to 0.015 s). Keeping big buffers on the heap arena
# reuses already-faulted pages across operations and batches.
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "134217728",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
}

# the directory that holds the femto_spark package (or the zip it runs from)
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start_session(builder: SparkSession.Builder) -> SparkSession:
    """getOrCreate `builder` with the Python-worker settings (module
    docstring). PYTHONPATH is merged into the started context's worker
    environment, which is where a spark-defaults or `--conf` value of
    `spark.executorEnv.PYTHONPATH` lands and what every UDF ships."""
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [PACKAGE_PARENT])
    return spark


def get_spark(
    app_name: str = "femto_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else "32"
        shuffle_partitions = int(n) if str(n).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow everywhere: all our custom operators are pandas/Arrow UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # AQE handles runtime re-planning + skew-join splitting at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Posting blobs are large binary cells; keep task results bounded.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (optimization guide §3.1/§9): the engine's join
        # fan-outs (semi-joins, anchor joins, verify chains) are small-
        # per-partition build sides where the sort is pure overhead; the
        # planner still falls back to sort-merge when sizes demand it, so
        # this is scale-neutral, not a local[32] tune.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # catalog-mode index tables (build_index catalog_table=) land in
        # the session catalog's warehouse; keep it out of the repo root
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "FEMTO_WAREHOUSE",
                os.path.join(PACKAGE_PARENT, ".scratch", "spark-warehouse"),
            ),
        )
        .config("spark.eventLog.enabled", os.environ.get("FEMTO_EVENTLOG", "false"))
        .config("spark.eventLog.dir", os.environ.get("FEMTO_EVENTLOG_DIR", "/tmp"))
    )
    spark = start_session(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark
