"""Multi-sink writer — the outputs-slot analog (SURVEY.md §2.6).

Shovel's ``pipeline`` output routes each message to one or many downstream
pipelines (reference: src/outputs/pipeline.js:18-30, fanout/broadcast modes);
its elasticsearch output renders a dynamic per-message index name
(reference: src/outputs/elasticsearch.js:203-210). The Spark-native shape:

  - every sink in ONE write job: the routed frame is read once, its rows go
    out partitioned by their sink into a stage directory, and each sink's
    part is then moved into ``sink_<name>/`` — one job whatever the number
    of sinks (:func:`write_sinks`);
  - fanout mode ≙ one ``sink`` per row; broadcast mode ≙ ``explode`` the
    row's ``sinks`` array (apply_routes_broadcast) into ``sink`` first;
  - dynamic index name ≙ partition columns (they carry what the name
    template carried: date, bucket);
  - per-doc error isolation ≙ the dead_letter sink receiving rejected rows;
  - a resumable attempt writes into its own ``run=<run_id>`` leaf per sink
    (``write_sinks(..., leaf=...)``).

The moves are renames from the driver, so the sink writer is
local-filesystem-only (:func:`local_path`): a remote URI raises before
anything is written. ``fmt`` names a file-based Spark data source (parquet
by default); a catalog table format such as Iceberg commits through its
catalog (io/catalog.py), not through this writer.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shovel_spark.session import arrow_table


def _payload(payload_format: str, cols: list[str]) -> Column:
    """The serialized ``payload`` column over ``cols``."""
    row = F.struct(*cols)
    if payload_format == "json":
        return F.to_json(row)
    if payload_format == "msgpack":
        from shovel_spark.functions.codecs import encode_msgpack

        return encode_msgpack(row)
    if payload_format == "json5":
        from shovel_spark.functions.codecs import encode_json5

        return encode_json5(row)
    raise ValueError(f"unknown payload_format: {payload_format!r}")


#: where a sink write lands before it is moved into place (see write_sinks)
STAGE_DIR = "_sink_stage"
_IX = "__sink_ix"


def local_path(path: str, what: str, hint: str = "") -> str:
    """``path`` as a local filesystem path (a ``file://`` prefix is
    stripped). Any other URI scheme raises ValueError before anything is
    written: ``what`` lists, renames and deletes directories from the
    driver, which a path string on HDFS or an object store does not
    support."""
    if "://" in path and not path.startswith("file://"):
        raise ValueError(f"{what} is local-filesystem-only (got {path!r}){hint}")
    return path.removeprefix("file://")


def append_parquet(table_dir: str, rows, schema: T.StructType) -> None:
    """Append ``rows`` to the parquet table at ``table_dir`` as one new
    file, written from the driver: no Spark job, no Python worker. The
    file is written under a hidden temp name (``.part-<uuid>.parquet.tmp``,
    which readers skip) and renamed to ``part-<uuid>.parquet``, so a crash
    leaves the append either whole or invisible."""
    table_dir = local_path(table_dir, "append_parquet")
    os.makedirs(table_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp, path = os.path.join(table_dir, f".{name}.tmp"), os.path.join(table_dir, name)
    pq.write_table(arrow_table(rows, schema), tmp)
    os.rename(tmp, path)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 256,
    partition_cols: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite a LOCAL parquet directory into ~``target_file_mb`` files —
    the small-file compaction every long-running sink needs (each
    micro-batch / resumed bucket / concurrent writer leaves its own files;
    a sink accumulating millions of KB-scale files throttles every later
    scan on file-open overhead and listing pressure).

    Sizing: file count comes from the directory's actual on-disk bytes
    (not row counts — compression ratios vary), and ``maxRecordsPerFile``
    (bytes-per-row estimated from the same footer-level metadata) rolls
    files at the target size INSIDE each written task too — so a
    partitioned layout (one write task per partition value) still honors
    the target for oversized partition values, at parallelism = number of
    partition values.

    Swap semantics (documented, not glossed): the swap is two directory
    renames — old data aside to ``<path>__precompact``, new data into
    place. Each rename is atomic, the pair is not: a crash in the
    microseconds between them leaves the sink momentarily absent — which
    is why the NEXT call self-heals (restores ``__precompact`` before
    doing anything else) and the old data is never deleted until the new
    directory is in place. This implementation is deliberately
    local-filesystem-only (driver-side listing + os.rename) and REFUSES
    remote URIs: on HDFS/object stores compaction belongs to the table
    format (Iceberg rewrite_data_files commits it as one snapshot; see
    io/catalog.py) — a path-string port of this function would be neither
    atomic nor restartable there.

    Returns {"files_before", "files_after", "bytes"}.
    """
    path = local_path(
        path, "compact_parquet",
        "; on HDFS/object stores use the table format's compaction (Iceberg rewrite_data_files)",
    ).rstrip("/")
    tmp, old = path + "__compacting", path + "__precompact"

    # self-heal: a crash between the two renames of a previous run left
    # the data at __precompact and nothing at path — restore it first
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)

    def _parquet_files(p: str) -> list[str]:
        return glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)

    before = _parquet_files(path)
    if not before:
        raise ValueError(f"nothing to compact: no parquet files under {path!r}")
    total_bytes = sum(os.path.getsize(f) for f in before)
    target_bytes = target_file_mb * 1024 * 1024
    n_files = max(1, round(total_bytes / target_bytes))

    shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.parquet(path)
    n_rows = df.count()  # footer metadata only — no data scan
    bytes_per_row = max(1, total_bytes // max(n_rows, 1))
    max_records = max(1, target_bytes // bytes_per_row)
    if partition_cols:
        # one task per partition value keeps each directory's file count
        # minimal; maxRecordsPerFile rolls oversized values at the target
        writer = df.repartition(*partition_cols).write.partitionBy(*partition_cols)
    else:
        writer = df.repartition(n_files).write
    writer.option("maxRecordsPerFile", max_records).mode("overwrite").parquet(tmp)

    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(_parquet_files(path)),
        "bytes": total_bytes,
    }


def write_sinks(
    routed: DataFrame,
    out_dir: str,
    sinks: list[str],
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    output_cols: list[str] | None = None,
    fmt: str = "parquet",
    payload_format: str | None = None,
    leaf: str | None = None,
) -> dict[str, str]:
    """Write each sink's rows to ``{out_dir}/sink_{name}`` in ONE write
    job; returns the paths.

    Each row carries at most one ``sink`` (apply_routes' first-match
    dispatch); rows of no sink, or of one not in ``sinks``, go nowhere. For
    broadcast mode, explode the row's ``sinks`` array into ``sink`` first.

    The job writes ``{out_dir}/_sink_stage/``, partitioned by the sink's
    position in ``sinks`` and then by ``partition_cols`` (e.g.
    ``['bucket']`` or ``['dt']``); each sink's part is then moved into
    place from the driver:

    - ``mode='overwrite'`` replaces each partition the job wrote and keeps
      the others (dynamic partition overwrite); without ``partition_cols``
      it replaces the whole sink;
    - ``mode='append'`` adds the job's files to those already there.

    A sink without rows keeps what it holds; without ``partition_cols``, an
    overwrite (or a first write) gives it an empty table that still reads,
    at the cost of one more job.

    ``leaf`` (e.g. ``'run=<run_id>'``) writes each sink into
    ``{out_dir}/sink_{name}/{leaf}`` — the resumable runner's per-attempt
    layout, staged under ``_sink_stage/{leaf}``; it refuses
    ``partition_cols``.

    ``payload_format='json'|'msgpack'|'json5'`` adds a serialized
    ``payload`` column — the encoder-slot-at-the-sink analog (reference:
    src/encoders/*.js; shovel encodes content right before the output
    delivers it). Typed sinks (parquet) don't need it; wire-protocol sinks
    do.

    The frame is read once and not persisted here. Each write task leaves
    one file per sink and partition it holds rows for: a caller that wants
    one file per partition repartitions by ``partition_cols`` first.
    """
    if leaf is not None and partition_cols:
        raise ValueError("leaf and partition_cols exclude each other")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    if not sinks:
        return {}
    out_dir = local_path(out_dir, "write_sinks")
    parts = list(partition_cols or [])
    cols = list(output_cols) if output_cols else routed.columns
    cols += [c for c in parts if c not in cols]
    ix = F.array_position(F.array(*[F.lit(s) for s in sinks]), F.col("sink"))
    part = routed.select(*cols, ix.alias(_IX)).filter(F.col(_IX) > 0)
    if payload_format is not None:
        part = part.withColumn("payload", _payload(payload_format, cols))
    stage = os.path.join(out_dir, STAGE_DIR, leaf or uuid.uuid4().hex)
    # the stage holds this write only: pin STATIC overwrite
    part.write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy(
        _IX, *parts
    ).format(fmt).save(stage)
    paths: dict[str, str] = {}
    for i, name in enumerate(sinks, 1):
        path = os.path.join(out_dir, f"sink_{name}")
        path = paths[name] = os.path.join(path, leaf) if leaf else path
        src = os.path.join(stage, f"{_IX}={i}")
        if os.path.isdir(src):
            _move_partitions(src, path, len(parts), mode)
        elif parts:
            os.makedirs(path, exist_ok=True)
        elif mode == "overwrite" or not os.path.exists(path):
            part.limit(0).drop(_IX).write.mode("overwrite").format(fmt).save(path)
    shutil.rmtree(stage)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(stage))
    return paths


def _move_partitions(src: str, dst: str, depth: int, mode: str) -> None:
    """Move the partition directories ``depth`` levels below ``src`` (``src``
    itself at depth 0) to the same place below ``dst``: in place of the
    directory there (overwrite), or file by file into it (append)."""
    for s in glob.glob(os.path.join(glob.escape(src), *["*"] * depth)):
        d = os.path.normpath(os.path.join(dst, os.path.relpath(s, src)))
        if mode == "append":
            os.makedirs(d, exist_ok=True)
            for f in os.listdir(s):
                os.rename(os.path.join(s, f), os.path.join(d, f))
        else:
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(os.path.dirname(d), exist_ok=True)
            os.rename(s, d)


def write_jsonl_shards(
    df,
    path: str,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    num_buckets: int = 16,
    seed: int = 7,
    compression: str = "gzip",
    columns: list[str] | None = None,
) -> None:
    """Export training shards as JSONL text files: rows are packed into
    ~``budget``-token shards (operators/sampling.pack_shards — assignment
    deterministic in (ids, tokens, seed), never in partitioning) and each
    shard lands as its own ``shard_id=<n>`` directory of compressed JSONL —
    the artifact a training job actually consumes.

    One file per shard: the final repartition is BY the shard id, so a
    shard's rows are written together, then sorted within the partition by
    id — line order inside a shard file is therefore DETERMINISTIC for a
    given input, whatever the upstream partitioning (a hash repartition
    alone leaves mapper arrival order in the file). ``columns`` limits the
    JSON fields (default: every input column).
    """
    from pyspark.sql import functions as F

    from shovel_spark.operators.sampling import pack_shards

    cols = columns or df.columns
    sharded = pack_shards(
        df, token_col, budget, id_col=id_col, num_buckets=num_buckets, seed=seed
    )
    (
        sharded.select(
            F.col("shard_id"),
            F.col(id_col).alias("__sid"),
            F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value"),
        )
        .repartition("shard_id")
        .sortWithinPartitions("shard_id", "__sid")
        .drop("__sid")
        .write.mode("overwrite")
        # full export: pin STATIC so a re-export with fewer shards can't
        # leave stale shard_id directories for the training job to read
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard_id")
        .option("compression", compression)
        .text(path)
    )
