"""Checkpoint ledger + resumable runner — the queues/batch analog.

Shovel persists queued messages to LevelDB keyed by uuid and replays unacked
ones on restart (reference: src/queues/batch.js:61-98, replay :84-95), with a
``queue-stored`` dedupe header so the broker ack fires exactly once
(reference: src/queues/batch.js:149-155), after its store has committed. The
batch equivalent:

  - rows are assigned a **stable logical bucket** ``pmod(xxhash64(url), B)``
    — independent of physical file layout, so the same row lands in the same
    bucket on every run at any parallelism; the bucket is the resume unit;
  - each attempt writes its outputs into its own leaf directory,
    ``sink_<name>/run=<run_id>/`` and ``metrics_by_bucket/run=<run_id>/``,
    with ``bucket`` as a data column — files follow the attempt's write
    tasks, not sinks × buckets. The sinks go out in one write job into
    ``_sink_stage/run=<run_id>/`` and are renamed into place from there;
  - after the outputs are written, one ledger append of
    ``(run_id, bucket, status='done', counts, lineage)`` rows — one per
    bucket the attempt processed — is the ack, and the only commit point.
    A replay commits the same way with one ``status='replay'`` row.

A leaf is **committed** when its run id has a ``done`` or ``replay`` row.
Every call opens the output directory by reading the ledger once and
deleting every uncommitted leaf (:func:`drop_unacked`).

Crash window analysis: if the run dies after its sink writes but before the
ledger append, its buckets are *not* done and its leaves — staged or
renamed — are uncommitted → the next call deletes them and re-runs the
buckets under a new run id.
If it dies after the ledger append, the buckets are done and skipped, and
the leaves stay. A torn ledger append is one parquet file that either
committed or did not. Either way: exactly-once output, with no overwrite of
anything already committed.

One writer per output directory at a time. An attempt still in flight has
no ``done`` row yet, so a second run or replay started on the same
directory would take its leaves for a crashed attempt's and delete them;
the first attempt would then ack buckets whose output is gone. Nothing
locks the directory (a lock left by a crash would block the resume that
must follow it): the caller serializes the calls.

At 10^12 rows the bucket count B is the checkpoint granularity knob —
B ≈ cluster-cores × small-constant keeps each resume unit large enough to
amortize job overhead while losing at most 1/B of work on a crash. B does
not set the file count: an attempt writes one file per sink per write task.
"""

from __future__ import annotations

import os
import shutil
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shovel_spark.schema import LEDGER_SCHEMA
from shovel_spark.session import local_rows_df


def with_bucket(df: DataFrame, key: str = "url", n_buckets: int = 64) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def read_commits(spark: SparkSession, ledger_dir: str) -> tuple[set[int], set[str]]:
    """(done buckets, committed run ids) from one read of the ledger. A run
    id is committed once it has a ``done`` or ``replay`` row."""
    if not os.path.exists(ledger_dir):
        return set(), set()
    rows = (
        spark.read.schema(LEDGER_SCHEMA)
        .parquet(ledger_dir)
        .filter(F.col("status").isin("done", "replay"))
        .select("run_id", "bucket", "status")
        .collect()
    )
    return {r.bucket for r in rows if r.status == "done"}, {r.run_id for r in rows}


def read_done_buckets(spark: SparkSession, ledger_dir: str) -> set[int]:
    return read_commits(spark, ledger_dir)[0]


def leaf(run_id: str) -> str:
    """The directory one attempt writes under each output table. The id
    must start with a letter: a reader's partition discovery types the
    ``run`` column from the ids, and an id that reads as a number in
    exponent form (``123e45678901``) makes it compute 10^45678901."""
    if not run_id[:1].isalpha():
        raise ValueError(f"run id must start with a letter: {run_id!r}")
    return f"run={run_id}"


def leaf_ids(table: str) -> set[str]:
    """Run ids of the attempt leaves under ``table``."""
    if not os.path.isdir(table):
        return set()
    return {n[len("run="):] for n in os.listdir(table) if n.startswith("run=")}


def drop_unacked(tables: list[str], committed: set[str]) -> None:
    """Delete every attempt leaf under ``tables`` whose run id is not
    committed — the outputs of attempts that died before their ack."""
    for table in tables:
        for run_id in leaf_ids(table) - committed:
            shutil.rmtree(os.path.join(table, leaf(run_id)))


def append_ledger(
    spark: SparkSession,
    ledger_dir: str,
    run_id: str,
    bucket_counts: list[dict],
    lineage: str,
    status: str = "done",
) -> None:
    """One 'done' row per completed bucket — the commit point (the ack).
    A replay commits with ``status='replay'`` and one row of its counts."""
    rows = [
        (
            run_id,
            int(bc["bucket"]),
            status,
            int(bc["in_rows"]),
            int(bc["acked"]),
            0,
            int(bc["ignored"]),
            int(bc["rejected"]),
            lineage,
            None,
        )
        for bc in bucket_counts
    ]
    df = local_rows_df(spark, rows, LEDGER_SCHEMA).withColumn(
        "completed_at", F.current_timestamp()
    )
    df.write.mode("append").parquet(ledger_dir)


def append_attempts(
    spark: SparkSession, ledger_dir: str, run_id: str, buckets: list[int]
) -> None:
    """One 'attempt' row per bucket this run INTENDS to process — the
    delivery record (the ack is the 'done' row). A bucket that crashes
    between attempt and done is re-attempted by the resume, so its nack
    count is ``attempts - 1`` — the batch analog of a broker redelivery
    (shovel counts these per worker, reference: src/core/master.js:183-185).

    Buckets that turn out to hold no rows accumulate attempt rows but never
    a done row; metrics_from_ledger ignores them (nacked is only reported
    for acked buckets, like a broker only counts redeliveries of real
    messages)."""
    if not buckets:
        return
    rows = [(run_id, int(b), "attempt", 0, 0, 0, 0, 0, None, None) for b in buckets]
    df = local_rows_df(spark, rows, LEDGER_SCHEMA).withColumn(
        "completed_at", F.current_timestamp()
    )
    df.write.mode("append").parquet(ledger_dir)


def new_run_id() -> str:
    """12 characters, starting with a letter (see :func:`leaf`)."""
    return "r" + _uuid.uuid4().hex[:11]
