"""Multi-sink fan-out writer — the outputs-slot analog (SURVEY.md §2.6).

Shovel's ``pipeline`` output routes each message to one or many downstream
pipelines (reference: src/outputs/pipeline.js:18-30, fanout/broadcast modes);
its elasticsearch output renders a dynamic per-message index name
(reference: src/outputs/elasticsearch.js:203-210). The Spark-native shape:

  - persist the routed frame ONCE, then one filtered write per sink — N sinks
    cost one source scan + N cheap filtered passes over cached batches, not
    N scans of a 100 TB table;
  - dynamic index name ≙ partitioned table writes (partition columns carry
    what the name template carried: date, bucket);
  - per-doc error isolation ≙ the dead_letter sink receiving rejected rows;
  - a resumable attempt writes every sink in one job into its own
    ``run=<run_id>`` leaf per sink (``write_sinks(..., leaf=...)``).

Format is parquet by default; ``format='iceberg'`` plugs in transparently
when an Iceberg catalog is configured (the sandbox has no Iceberg runtime
jar — the write path is identical apart from ``writeTo``).
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


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


#: where a per-attempt write lands before its renames (see _write_leaves)
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


def _write_leaves(
    routed: DataFrame,
    out_dir: str,
    sinks: list[str],
    leaf: str,
    output_cols: list[str] | None,
    fmt: str,
    payload_format: str | None,
) -> dict[str, str]:
    """Every sink in ONE write job: rows go out partitioned by their sink's
    position in ``sinks`` into ``{out_dir}/_sink_stage/{leaf}/``, then each
    sink's directory is renamed to ``{out_dir}/sink_{name}/{leaf}``. The
    frame is read once, not once per sink, and each write task leaves one
    file per sink it holds rows for. A sink with no rows gets an empty
    leaf, as a fan-out write would leave it. The renames make this
    local-filesystem-only, like the ledger's leaf cleanup."""
    out_dir = local_path(out_dir, "write_sinks(leaf=...)")
    cols = list(output_cols) if output_cols else routed.columns
    ix = F.array_position(F.array(*[F.lit(s) for s in sinks]), F.col("sink"))
    part = routed.select(*cols, ix.alias(_IX)).filter(F.col(_IX) > 0)
    if payload_format is not None:
        part = part.withColumn("payload", _payload(payload_format, cols))
    stage = os.path.join(out_dir, STAGE_DIR, leaf)
    # the stage holds this attempt only: pin STATIC overwrite
    part.write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy(
        _IX
    ).format(fmt).save(stage)
    paths: dict[str, str] = {}
    for i, name in enumerate(sinks, 1):
        path = paths[name] = os.path.join(out_dir, f"sink_{name}", leaf)
        src = os.path.join(stage, f"{_IX}={i}")
        if os.path.isdir(src):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            os.rename(src, path)
        else:
            part.limit(0).drop(_IX).write.mode("overwrite").format(fmt).save(path)
    shutil.rmtree(stage)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(stage))
    return paths


def _fanout_write(
    routed: DataFrame,
    out_dir: str,
    sinks: list[str],
    sink_filter: Callable[[str], Column],
    partition_cols: list[str] | None,
    mode: str,
    output_cols: list[str] | None,
    fmt: str,
    payload_format: str | None,
    drop_cols: tuple[str, ...] = (),
    max_workers: int | None = None,
) -> dict[str, str]:
    """Shared persist-once machinery behind both dispatch modes: cache the
    routed frame, run one filtered write job per sink concurrently (disjoint
    paths — Spark's scheduler interleaves jobs from separate threads)."""
    if not sinks:
        return {}
    caller_persisted = routed.storageLevel != StorageLevel.NONE
    if partition_cols and not caller_persisted:
        # align data partitions with the write's directory partitions BEFORE
        # caching: without this, every (task × partition-dir × sink) triple
        # emits its own tiny file — measured 16× slower end-to-end at 2M rows
        # (~27k files); one shuffle here serves every sink's write
        routed = routed.repartition(*partition_cols)
    if not caller_persisted:
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
    paths: dict[str, str] = {}

    def _write_one(name: str) -> tuple[str, str]:
        path = os.path.join(out_dir, f"sink_{name}")
        part = routed.filter(sink_filter(name))
        keep = list(output_cols) if output_cols else [
            c for c in part.columns if c not in drop_cols
        ]
        for c in partition_cols or []:
            if c not in keep:
                keep.append(c)
        part = part.select(*[c for c in keep if c not in drop_cols])
        if payload_format is not None:
            part = part.withColumn("payload", _payload(payload_format, part.columns))
        writer = part.write.mode(mode)
        if partition_cols:
            if mode == "overwrite":
                # pinned per-write: a partitioned overwrite replaces only
                # the partitions it writes; Spark's default (static) would
                # delete every other partition of the sink
                writer = writer.option("partitionOverwriteMode", "dynamic")
            writer = writer.partitionBy(*partition_cols)
        writer.format(fmt).save(path)
        return name, path

    try:
        from concurrent.futures import ThreadPoolExecutor

        # concurrent write jobs against one cached frame: each job is a cheap
        # filtered pass over in-memory batches, so a few in flight keeps the
        # scheduler busy without N sinks' worth of simultaneous output
        # committers; callers with many small sinks raise max_workers
        workers = max_workers if max_workers is not None else min(4, len(sinks))
        with ThreadPoolExecutor(max_workers=max(1, min(workers, len(sinks)))) as pool:
            for name, path in pool.map(_write_one, sinks):
                paths[name] = path
    finally:
        if not caller_persisted:
            routed.unpersist()
    return paths


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
    import glob

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
    max_workers: int | None = None,
    leaf: str | None = None,
) -> dict[str, str]:
    """Write each sink's rows to ``{out_dir}/sink_{name}``; returns paths.

    Fanout mode: each row carries exactly one ``sink`` (apply_routes'
    first-match dispatch) and is written once.

    ``partition_cols`` (e.g. ``['bucket']`` or ``['dt']``) makes the write
    dynamic-partition-overwrite-able: an overwrite replaces only the
    partitions it writes.

    ``leaf`` (e.g. ``'run=<run_id>'``) writes each sink into its own
    subdirectory ``{out_dir}/sink_{name}/{leaf}`` — the resumable runner's
    per-attempt layout, one directory per attempt whatever its buckets —
    in one write job for all sinks (:func:`_write_leaves`). It refuses
    ``partition_cols``; ``mode`` and ``max_workers`` do not apply.

    ``payload_format='json'|'msgpack'|'json5'`` adds a serialized
    ``payload`` column — the encoder-slot-at-the-sink analog (reference:
    src/encoders/*.js; shovel encodes content right before the output
    delivers it). Typed sinks (parquet/iceberg) don't need it;
    wire-protocol sinks do.

    A caller-managed cache is respected: persisting is idempotent but an
    unconditional unpersist here would evict the caller's copy too.
    """
    if leaf is not None:
        if partition_cols:
            raise ValueError("leaf and partition_cols exclude each other")
        return _write_leaves(routed, out_dir, sinks, leaf, output_cols, fmt, payload_format)
    return _fanout_write(
        routed, out_dir, sinks, lambda name: F.col("sink") == name,
        partition_cols, mode, output_cols, fmt, payload_format,
        max_workers=max_workers,
    )


def write_sinks_broadcast(
    routed: DataFrame,
    out_dir: str,
    sinks: list[str],
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    output_cols: list[str] | None = None,
    fmt: str = "parquet",
    payload_format: str | None = None,
    sinks_col: str = "sinks",
    max_workers: int | None = None,
) -> dict[str, str]:
    """Broadcast-mode fan-out writer: the row's ``sinks: array<string>``
    (apply_routes_broadcast) names EVERY sink that receives it — a row
    matching k sinks is written k times, once per sink directory. Same
    persist-once contract, format and encoder options as write_sinks."""
    return _fanout_write(
        routed, out_dir, sinks,
        lambda name: F.array_contains(F.col(sinks_col), name),
        partition_cols, mode, output_cols, fmt, payload_format,
        drop_cols=(sinks_col,), max_workers=max_workers,
    )


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
