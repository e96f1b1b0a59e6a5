"""SparkSession factory tuned for the parse→enrich→route→aggregate pipeline.

Shovel's `workers: N` process parallelism (reference: src/core/master.js:59-65)
maps to Spark executor/partition parallelism; we size shuffle partitions to
cores by default and lean on AQE for runtime re-planning (skew joins,
partition coalescing) — the scale path for 10^12-row inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the (only) Python stage — the parse pandas UDF.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dims aggressively (lang map / domain rules are tiny).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime row-group pruning on the big side of shuffle joins (the
    # candidate-verify joins in dedup): build a bloom filter from the small
    # side at runtime, push it into the scan of the large side.
    # (runtimeFilter.semiJoinReduction hangs Spark 4.1.2 session startup in
    # this environment — verified by bisection; bloom filters alone are the
    # win, the semi-join-reduction rewrite is off)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Dynamic partition overwrite as the session default; every writer whose
    # correctness depends on the mode pins it per write.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Quieter local runs.
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # local-mode driver == executor JVM; the 1g default thrashes GC with
    # 32 concurrent tasks over wide html rows. (Cluster deploys size
    # executor memory per-node instead.)
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
}


def local_rows_df(spark: SparkSession, rows, schema):
    """DataFrame from a small driver-local row list, single-sliced.

    ``spark.createDataFrame(rows, schema)`` slices local data into
    ``spark.default.parallelism`` partitions — mostly EMPTY for the bounded
    row lists this codebase materializes (ledger bucket rows, k-means
    centroids, logreg weights, ntile offsets, sketch metadata). Every
    single-task downstream consumer (a ``coalesce(1)`` parquet append, a
    broadcast build) then pays one Python-worker round-trip PER SLICE
    inside one task: measured 5-7 s for a 16-row ledger append on
    local[32] versus 0.4 s single-sliced. All call sites here hold
    driver-bounded lists, so one slice is always the right layout.
    """
    sc = spark.sparkContext
    return spark.createDataFrame(sc.parallelize(rows, numSlices=1), schema)


def get_spark(
    master: str | None = None,
    app_name: str = "shovel_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to the core count so one shuffle
    wave saturates the machine — on a real cluster this would be
    2-3× total executor cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        core_hint = master.split("[")[-1].rstrip("]")
        shuffle_partitions = os.cpu_count() or 8 if core_hint == "*" else int(core_hint)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
