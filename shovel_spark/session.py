"""SparkSession factory tuned for the parse→enrich→route→aggregate pipeline.

Shovel's `workers: N` process parallelism (reference: src/core/master.js:59-65)
maps to Spark executor/partition parallelism; we size shuffle partitions to
cores by default and lean on AQE for runtime re-planning (skew joins,
partition coalescing) — the scale path for 10^12-row inputs.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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


def arrow_table(rows, schema: T.StructType) -> pa.Table:
    """A ``pyarrow.Table`` of ``schema`` from positional rows (tuples or
    ``Row``s). Its columns are nullable, as a Spark parquet write leaves
    them; ``createDataFrame`` still rejects a null in a non-nullable
    field."""
    fields = pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])
    cols = list(zip(*rows)) or [()] * len(fields)
    return pa.table([pa.array(c, type=f.type) for c, f in zip(cols, fields)], schema=fields)


def local_rows_df(spark: SparkSession, rows, schema):
    """DataFrame from a small driver-local row list, planned as a
    ``LocalRelation``.

    The rows go to the JVM as one Arrow table, so the plan is a
    ``LocalTableScan`` and no action on it starts a Python worker;
    collecting it runs no Spark job. (A broadcast built from it still
    runs one small job: ``BroadcastExchange`` gathers its child through
    one.) A ``sc.parallelize`` RDD would cost a job and a worker round
    trip per action, more than the rows' own work. The scan splits
    the rows into ``min(rows, spark.default.parallelism)`` partitions; a
    caller that writes the frame and wants one file coalesces it.
    ``schema`` is a StructType or a DDL string.
    """
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


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
