"""SparkSession factory tuned for the frontier engine.

Local-mode defaults mirror what we would set cluster-side via spark-submit:
AQE on (runtime re-plan + skew-join splitting), Arrow on (every custom operator
is a pandas/Arrow UDF), shuffle partitions sized to cores (local) — on a real
cluster this would be ~2-3x total executor cores and AQE coalesces down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB scale these same configs apply; only sizes change:
#   spark.sql.shuffle.partitions ~ 2-3x total cores, AQE coalesces;
#   spark.sql.files.maxPartitionBytes 128-256 MiB keeps scan tasks bounded.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime bloom-filter join pruning: injects a bloom from the small join
    # side into the big side's scan (the frontier-wave vs docs fetch join)
    # (runtimeFilter.semiJoinReduction deadlocks jobs in this Spark build —
    # verified by bisection; bloom variant alone is safe)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # prefer shuffled-hash over sort-merge when the build side fits per
    # partition: the seen-set anti-join on sha256 keys measured 6x faster
    # (43s -> 6.8s at 8M x 4M rows) — string sort dominates SMJ. AQE still
    # falls back to SMJ when the build side is too large per partition.
    "spark.sql.join.preferSortMergeJoin": "false",
    # bucketed scans of SORTED single-file-per-bucket tables (compacted state
    # tables, bench kernel input) feed the SMJ anti-join pre-sorted with no
    # in-task Sort (~1.7x on the 32M-row kernel at 2 cores). Safe globally:
    # FileSourceScanLike only claims sortedness when every selected bucket has
    # <= 1 file (singleFilePartitions guard), so multi-file delta tables keep
    # their explicit Sort.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
    # from every explode(), and predicate pushdown then drags that filter
    # below exchanges/projections, INLINING the generator-input expression
    # tree into upstream stages. For the text family the generator input is
    # the full tokenize→n-gram tree, so the rule evaluates it two extra
    # times per row inside the (often single-task) scan stage — measured
    # 9.5s of 12.9s for decontaminate at sf0.1. explode(outer=false)
    # already emits nothing for empty/NULL arrays, so excluding the rule
    # changes no results; it only stops the duplicated evaluation. Same
    # waste exists at 100 TB (2x the most expensive expression per scanned
    # row), so this is a scale fix, not a local workaround.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # oracle comparisons (DuckDB) are UTC-naive; pin the session TZ
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # pandas UDF batches: large enough to amortize Arrow transfer
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """The default driver heap: half of physical memory in whole GiB, capped
    at 24g. A heap the host cannot back never feels GC pressure before the
    kernel's OOM killer ends the JVM."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys_bytes // 2 // 2**30))}g"


def get_spark(
    app: str = "spark-frontier",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> local[*]; shuffle partitions default to the core count so
    tiny local runs don't fan out 200 empty tasks (guide: set it ~cores local).
    """
    # Driver memory is JVM-launch-time only: setting spark.driver.memory
    # programmatically in local mode is a silent no-op (the 1 GiB default
    # heap then GC-thrashes at high parallelism — observed 32 cores SLOWER
    # than 8). Must go through PYSPARK_SUBMIT_ARGS before the first gateway.
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = f"local[{cores}]"
    extra = dict(extra or {})
    # shuffle files on tmpfs: the sandbox's virtual disk writes ~64 MB/s and
    # throttled a 1.6 GB exchange to 25s; tmpfs does it in 2.8s. (Cluster
    # equivalent: NVMe-backed spark.local.dir.)
    if "spark.local.dir" not in extra and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        extra["spark.local.dir"] = shm
    # managed tables (bucketed state) go to tmpfs too; static conf, so it
    # must be set at session build
    if "spark.sql.warehouse.dir" not in extra and os.path.isdir("/dev/shm"):
        extra["spark.sql.warehouse.dir"] = "/dev/shm/spark-warehouse"
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cores)
    b = SparkSession.builder.appName(app).master(master)
    for k, v in _BASE_CONF.items():
        b = b.config(k, v)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.default.parallelism", str(cores))
    for k, v in extra.items():
        b = b.config(k, v)
    return b.getOrCreate()
