"""Streaming pipeline — shovel's native unbounded mode, Spark-first.

Shovel daemons tail unbounded inputs (file follow, AMQP, MQTT, TCP —
reference: src/inputs/*.js) and deliver with ack/nack guarantees. The
Structured Streaming equivalent:

  - source: file-stream over the pages directory (new parquet files are the
    "deliveries"); the stream checkpoint tracks consumed files — the broker
    ack analog (a restarted query never re-reads consumed input, like AMQP's
    unacked-replay, reference: src/inputs/amqp.js:101-112);
  - the SAME ``build_routed`` lazy chain runs per micro-batch (one engine,
    two execution modes — batch and streaming share all operator code);
  - sinks: ``foreachBatch`` fan-out reusing the multi-sink writer; the
    micro-batch is shovel's queue flush (size/time batching,
    reference: src/queues/batch.js:209-239);
  - event-time: watermarked tumbling-window counts over ``warc_ts`` — the
    metrics stream (late rows beyond the watermark are dropped, a semantics
    shovel doesn't have at all: its `date` is arrival wall-clock).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shovel_spark.io.sinks import write_sinks
from shovel_spark.pipeline import OUTPUT_COLS, JobConfig, build_routed
from shovel_spark.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def run_stream_once(
    spark: SparkSession,
    input_dir: str,
    lang_map: DataFrame,
    domain_rules: DataFrame,
    cfg: JobConfig,
    checkpoint_dir: str,
) -> None:
    """Process all currently-available input (Trigger.AvailableNow), then stop.

    Repeated invocations resume from the stream checkpoint: already-consumed
    files are never reprocessed (at-least-once per micro-batch; the batch
    ledger path covers exactly-once where that matters).
    """
    stream = read_pages_stream(spark, input_dir)
    routed = build_routed(stream, lang_map, domain_rules, cfg)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # whole buckets per write task: one file per (sink, bucket) a batch
        write_sinks(
            batch_df.repartition("bucket"),
            cfg.out_dir,
            cfg.sinks,
            partition_cols=["bucket"],
            mode="append",
            output_cols=OUTPUT_COLS,
        )

    q = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_metrics_stream(
    pages_stream: DataFrame, watermark: str = "1 day", window: str = "1 day"
) -> DataFrame:
    """Watermarked tumbling-window per-lang counts over event time
    (the streaming form of the metrics table; late data beyond the
    watermark is dropped)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("lang"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n",
        )
    )


def run_windowed_metrics_once(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Append-mode windowed counts to parquet (finalized windows only)."""
    metrics = windowed_metrics_stream(read_pages_stream(spark, input_dir))
    q = (
        metrics.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "windowed_metrics"))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_neardup_ingest_once(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    family: str = "xxhash64",
    schema: str = "doc_id long, text string",
    max_doc_freq: int | None = None,
) -> None:
    """Streaming near-dup-filtered ingest: each micro-batch is deduped
    against EVERYTHING already ingested (the standing MinHash index) plus
    itself, survivors land in ``out_dir`` and join the index — so a
    near-dup arriving hours or days after its original is still dropped.
    The streaming composition of build_minhash_index /
    incremental_minhash_pairs (operators/dedup.py); membership state lives
    in the index, the consumed-files state in the stream checkpoint (the
    queue-dedupe analog over CONTENT identity, where dropDuplicates over
    canonical_url covers exact URL identity).

    Drop policy: first-wins across batches (anything already in the index
    is canonical — its late-arriving near-dups drop regardless of id
    order), lowest-id-wins within a batch. Per batch the work is
    O(batch + collisions): the corpus is never re-shingled.

    Replay safety (foreachBatch is at-least-once — a crash between the
    writes and the checkpoint commit replays the batch): survivors and
    index segments are written into ``__batch=<id>`` partitions with
    dynamic partition overwrite, so a replay REPLACES its own partitions
    instead of duplicating, and a delta doc re-probed after its own index
    append matches only as an (ignored) self-pair — the replayed batch
    reproduces the original survivors exactly.

    Trigger.AvailableNow semantics like run_stream_once: process what's
    there, then stop; re-invocations resume from the checkpoint.

    ``max_doc_freq`` applies the hot-shingle cap per batch (deterministic
    in the batch, replay-safe) before signing and before the index
    append — dedup.append_to_minhash_index's per-batch skew fuse.
    """
    mh_kw = dict(
        text_col=text_col, id_col=id_col, k=k,
        num_hashes=num_hashes, bands=bands, family=family,
    )
    if max_doc_freq is not None:
        mh_kw["max_doc_freq"] = max_doc_freq

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _process_neardup_batch(
            spark, batch_df, batch_id, index_path, out_dir, threshold, id_col, mh_kw
        )

    stream = spark.readStream.schema(schema).parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _assert_batch_layout(path: str, what: str) -> None:
    """The streaming ingest writes ``__batch=N`` partitions; mixing them
    into a directory already holding a flat layout (a build_minhash_index
    index, or docs from a plain append) breaks parquet partition
    discovery with a confusing 'conflicting directory structures' error —
    fail early with an actionable one instead."""
    import os as _os

    if not _os.path.isdir(path):
        return
    flat = [
        e
        for e in _os.listdir(path)
        if not e.startswith("__batch=") and not e.startswith("_") and not e.startswith(".")
    ]
    if flat:
        raise ValueError(
            f"run_neardup_ingest_once: {what} at {path!r} holds a non-batch-keyed "
            f"layout (e.g. {flat[0]!r}); the streaming ingest needs its own fresh "
            f"directory — it cannot extend an index built by build_minhash_index "
            f"or a docs dir written with plain append"
        )


def _process_neardup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_dir: str,
    threshold: float,
    id_col: str,
    mh_kw: dict,
) -> None:
    """One micro-batch of the near-dup ingest (module-level so replay
    idempotency is directly testable): dedupe against index + self, write
    survivors and index segments into ``__batch=<batch_id>`` partitions
    (dynamic overwrite — re-running the same batch id replaces, never
    duplicates)."""
    import os as _os

    from shovel_spark.operators.dedup import (
        append_to_minhash_index,
        incremental_minhash_pairs,
        minhash_dedup_pairs,
    )

    _assert_batch_layout(_os.path.join(index_path, "buckets"), "index buckets table")
    _assert_batch_layout(_os.path.join(out_dir, "docs"), "survivors table")
    batch_df = batch_df.localCheckpoint()  # stable across the passes below
    have_index = _os.path.exists(_os.path.join(index_path, "buckets"))
    if have_index:
        pairs = incremental_minhash_pairs(
            spark, index_path, batch_df, threshold=threshold, **mh_kw
        )
        batch_ids = batch_df.select(F.col(id_col).alias("__bid"))
        b_in = pairs.join(
            batch_ids, pairs["id_b"] == batch_ids["__bid"], "left"
        ).select("id_a", "id_b", F.col("__bid").isNotNull().alias("__b_in_batch"))
        # id_b in batch: within-batch pair (drop the higher id) or cross
        # pair with the batch doc on the high side (drop the batch side)
        # — either way id_b drops. id_b NOT in batch: cross pair with
        # the batch doc on the LOW side; the indexed id_b is already
        # ingested and canonical (first-wins), so the batch id_a drops.
        drop = b_in.select(
            F.when(F.col("__b_in_batch"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias(id_col)
        ).distinct()
    else:
        pairs = minhash_dedup_pairs(batch_df, threshold=threshold, **mh_kw)
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = batch_df.join(drop, id_col, "left_anti").localCheckpoint()
    (
        survivors.withColumn("__batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        # pinned per-write: under Spark's default STATIC overwrite a later
        # batch would delete every prior __batch partition; correctness must
        # not depend on the session-level conf (which only get_spark sets)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch")
        .parquet(_os.path.join(out_dir, "docs"))
    )
    # batch-keyed from batch 0 on (uniform index schema; dynamic overwrite
    # creates the path on the first batch and replaces on replay)
    append_to_minhash_index(survivors, index_path, batch=int(batch_id), **mh_kw)


# --- Streaming cardinality sketch ------------------------------------------


def _process_sketch_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    key_col: str,
    b: int = 6,
) -> None:
    """One micro-batch of the streaming HLL ingest (module-level so replay
    idempotency is directly testable): build the batch's own register set
    and land it in a ``__batch=<id>`` partition with dynamic overwrite —
    a replayed batch REPLACES its partition. Even a duplicated batch
    partition could not corrupt the answer: the read-side merge is
    max-per-bucket, so the estimate is idempotent by the sketch's own
    algebra, not by write bookkeeping."""
    from shovel_spark.operators.sketches import hll_build

    (
        hll_build(batch_df, key_col, b=b)
        .withColumn("__batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        # pinned per-write (see _process_neardup_batch): correctness must
        # not depend on the session-level partitionOverwriteMode
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch")
        .parquet(os.path.join(out_dir, "registers"))
    )


def run_sketch_ingest_once(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str,
    b: int = 6,
    schema: str = "event_id long, user_id long, value double",
) -> None:
    """Streaming distinct-cardinality monitor: every micro-batch appends
    its own bounded HLL register partition (2^b rows max per batch, built
    map-side-combinably however large the batch); "distinct keys so far"
    is answered any time by read_stream_cardinality without rescanning
    ingested data — the streaming form of the cross-shard sketch union.
    Trigger.AvailableNow + checkpoint semantics as run_stream_once."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _process_sketch_batch(batch_df, batch_id, out_dir, key_col, b)

    stream = spark.readStream.schema(schema).parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_stream_cardinality(
    spark: SparkSession, out_dir: str, b: int = 6
) -> DataFrame:
    """(m, nonzero, est) over everything ingested so far: max-merge the
    per-batch register partitions (batches × 2^b rows — never
    data-sized) and estimate. VALUES are replay-proof (a replayed batch
    partition changes nothing — max is idempotent), but the READ is not
    atomic against a concurrent replay: dynamic overwrite deletes then
    rewrites the partition's files, so a reader that listed the old files
    can hit FileNotFoundException mid-job. Run between ingest cycles, or
    wrap in a retry if ingest may be replaying concurrently."""
    from shovel_spark.operators.sketches import hll_cardinality, hll_merge

    regs = spark.read.parquet(os.path.join(out_dir, "registers")).select(
        "bucket", "reg"
    )
    return hll_cardinality(hll_merge(regs, b=b), b=b, spark=spark)
