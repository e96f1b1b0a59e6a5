"""The engine's planner: job config → one lazy DataFrame chain → sinks.

Shovel wires six node slots from YAML at startup (reference:
src/core/processor.js:65-84); here the same declarative config compiles to

    read pages → parse (uuid, domain, text) → broadcast enrich (lang map,
    domain rules) → route (status, sink) → bucket → one sink write + metrics

which Catalyst fuses into scan + one codegen stage + two broadcast joins —
predicate pushdown, column pruning (the count-only paths never read ``html``)
and join planning are free (SURVEY.md §4).

Resume protocol (``run_resumable``, ``replay_dead_letters``; details in
ledger.py): each call reads the ledger once and deletes the leaves of
attempts that never committed, skips done buckets, writes the rest into
per-attempt leaves — ``sink_<name>/run=<run_id>/`` (``bucket`` a data
column; every sink in one write job) and one small
``metrics_by_bucket/run=<run_id>/`` file — and commits them with one ledger
append. Nothing is overwritten, so no call depends on the session's
partition-overwrite mode. The skip is a filter on ``bucket``: on the
computed hash, which Catalyst places directly above the scan, or — when
``pages`` carries its own ``bucket``, as a bucketed ingest does — on that
column, which prunes done buckets' partitions at the scan. ``run_once``
keeps the ``bucket``-partitioned layout.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from shovel_spark import ledger as L
from shovel_spark.functions.parse import parse_pages
from shovel_spark.io.sinks import STAGE_DIR, append_parquet, local_path, write_sinks
from shovel_spark.operators.aggregate import sink_metrics
from shovel_spark.operators.enrich import apply_domain_rules, normalize_lang
from shovel_spark.operators.route import SinkRule, apply_routes, default_sink_rules

#: Columns each sink table carries (html dropped post-parse: at 10^12 rows the
#: binary column dominates bytes; sinks store extracted fields only). The
#: resumable paths also store ``bucket`` as a data column (SINK_COLS).
OUTPUT_COLS = [
    "uuid",
    "url",
    "warc_ts",
    "domain",
    "lang_norm",
    "text",
    "title",
    "status",
    "sink",
    "error",
]
SINK_COLS = OUTPUT_COLS + ["bucket"]

_ENV_RE = re.compile(r"\$\{(\w+)(?::([^}]*))?\}")


def substitute_env(value: str) -> str:
    """``${VAR:default}`` substitution, mirroring the reference's config
    loader (reference: src/core/pipeline_config.js:42-54)."""
    return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), m.group(2) or ""), value)


@dataclass
class JobConfig:
    name: str = "pages"
    input_path: str | None = None  # parquet dir or None (caller passes a DF)
    out_dir: str = "/tmp/shovel_spark_out"
    parser_impl: str = "native"  # 'native' (JVM regexp) | 'pandas' (Arrow UDF)
    lang_default: str = "und"  # unmapped-lang fallthrough (config lang_default)
    n_buckets: int = 64
    sink_rules: list[SinkRule] = field(default_factory=default_sink_rules)
    sinks: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if not self.sinks:
            self.sinks = [r.name for r in self.sink_rules] + ["dead_letter"]


def build_routed(
    pages: DataFrame,
    lang_map: DataFrame,
    domain_rules: DataFrame,
    cfg: JobConfig,
) -> DataFrame:
    """The full lazy chain, no action triggered. A ``bucket`` column of
    ``pages`` is carried through as the rows' bucket; without one, the
    bucket is computed from the url (``ledger.with_bucket``)."""
    df = parse_pages(pages, impl=cfg.parser_impl)
    df = normalize_lang(df, lang_map, default=cfg.lang_default)
    df = apply_domain_rules(df, domain_rules)
    df = apply_routes(df, cfg.sink_rules)
    # every dead-lettered row must carry WHY (per-doc error isolation,
    # reference: src/outputs/elasticsearch.js:156-165): parse failures keep
    # the parser's message, rule-deny rejects get a synthetic reason
    df = df.withColumn("text", F.col("parsed.text")).withColumn(
        "title", F.col("parsed.title")
    ).withColumn(
        "error",
        F.coalesce(
            F.col("parsed.error"),
            F.when(F.col("rule_action") == "deny", F.concat(F.lit("domain_rule:deny:"), F.col("domain"))),
        ),
    )
    if "bucket" in pages.columns:
        return df.select(*OUTPUT_COLS, "lang", F.col("bucket").cast("int"))
    return L.with_bucket(df.select(*OUTPUT_COLS, "lang"), n_buckets=cfg.n_buckets)


def run_once(
    spark: SparkSession,
    pages: DataFrame,
    lang_map: DataFrame,
    domain_rules: DataFrame,
    cfg: JobConfig,
) -> DataFrame:
    """Single-shot run (no ledger): write all sinks, return metrics DF."""
    routed = build_routed(pages, lang_map, domain_rules, cfg)
    # one persist shared by ALL consumers (sinks + metrics + dimension
    # counts) — otherwise each output re-runs the full parse chain. Whole
    # buckets per task: the sink write leaves one file per (sink, bucket)
    routed = routed.repartition("bucket").persist()
    try:
        write_sinks(routed, cfg.out_dir, cfg.sinks, partition_cols=["bucket"], output_cols=OUTPUT_COLS)
        metrics = sink_metrics(routed, pipeline=cfg.name)
        metrics.coalesce(1).write.mode("overwrite").parquet(os.path.join(cfg.out_dir, "metrics"))
        write_dimension_counts(routed, cfg.out_dir)
    finally:
        routed.unpersist()
    return spark.read.parquet(os.path.join(cfg.out_dir, "metrics"))


def write_dimension_counts(routed: DataFrame, out_dir: str) -> None:
    """Driver-mandated per-domain / per-lang aggregates (BASELINE.json
    north_star), salted: hot domains carry ~35% of rows, so the two-phase
    aggregate bounds any single reducer at 1/K of the hot key."""
    from shovel_spark.operators.aggregate import salted_count

    salted_count(routed, "domain", out_col="n").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "per_domain_counts")
    )
    salted_count(routed, "lang_norm", out_col="n").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "per_lang_counts")
    )


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    lang_map: DataFrame,
    domain_rules: DataFrame,
    cfg: JobConfig,
    run_id: str | None = None,
    max_buckets: int | None = None,
    lineage: str = "",
    throttle: bool = False,
    monitor: bool = True,
) -> dict:
    """Resumable run over logical buckets (see ledger.py for the protocol).

    ``max_buckets`` processes only the first K pending buckets. By default
    that models a CRASH mid-run (the test suite's kill simulation,
    FIXTURES.md §4): attempt rows are recorded for every pending bucket —
    the run intended them all — so the unprocessed ones correctly count as
    redeliveries when a resume re-attempts them. Pass ``throttle=True``
    when max_buckets is deliberate pacing instead (process K buckets per
    invocation): attempts are then recorded only for the buckets actually
    taken, and later invocations accrue no phantom nacks.

    ``monitor`` (default on) records live per-stage progress samples to
    ``{out_dir}/progress`` while the run executes — the batch analog of
    the reference's mid-run metrics endpoint (observability.py).

    One call at a time per ``cfg.out_dir``, runs and replays alike: a call
    deletes the leaves of every attempt that has not committed, a running
    one's included (ledger.py).

    ``pages`` may carry its own ``bucket`` column — a bucketed ingest
    (:func:`ingest_bucketed`) read back with ``spark.read.parquet``. Each
    row's bucket is then taken from it (:func:`build_routed`), and the
    pending filter on it prunes done buckets' partitions at the scan. A row
    whose bucket is outside ``range(cfg.n_buckets)`` (an ingest made with
    another bucket count) fails the call with a ValueError before its
    ledger append: nothing is committed.
    Returns {run_id, processed_buckets, skipped_buckets}.
    """
    from shovel_spark.observability import ProgressMonitor

    run_id = run_id or L.new_run_id()
    run_leaf = L.leaf(run_id)  # rejects an id a reader cannot list safely
    out_dir, done = _open_out_dir(spark, cfg.out_dir)
    ledger_dir = os.path.join(out_dir, "ledger")

    # the delivery record: every bucket this run intends to process gets an
    # 'attempt' row BEFORE any work — attempts without a 'done' ack make
    # the resume's re-attempt count as nacked = attempts - 1 in
    # metrics_from_ledger (broker-redelivery semantics)
    candidates = sorted(set(range(cfg.n_buckets)) - done)
    taken = candidates[:max_buckets] if max_buckets is not None else candidates
    L.append_attempts(spark, ledger_dir, run_id, taken if throttle else candidates)
    result = {"run_id": run_id, "processed_buckets": taken, "skipped_buckets": sorted(done)}
    t0 = time.time()
    if not taken:
        return {**result, "elapsed_sec": 0.0}

    bucket = F.col("bucket")
    if "bucket" in pages.columns:
        # on the source column, the filter prunes at the scan. It skips
        # only this run's other buckets, so a row of a bucket outside
        # range(n_buckets) is read and refused below, before the commit
        skip = sorted(set(range(cfg.n_buckets)) - set(taken))
        if skip:
            pages = pages.filter(bucket.isNull() | ~bucket.isin(skip))
        pending = build_routed(pages, lang_map, domain_rules, cfg)
    else:
        pending = build_routed(pages, lang_map, domain_rules, cfg)
        if max_buckets is not None:
            pending = pending.filter(bucket.isin(taken))
        elif done:
            pending = pending.filter(~bucket.isin(sorted(done)))

    # one write job fills the cache and writes every sink's run=<run_id>
    # leaf; one groupBy collect over the cache yields both the
    # metrics_by_bucket leaf and the ledger's per-bucket counts
    pending = pending.persist(StorageLevel.MEMORY_AND_DISK)
    mon = ProgressMonitor(spark, out_dir) if monitor else contextlib.nullcontext()
    try:
        with mon:
            write_sinks(pending, out_dir, cfg.sinks, output_cols=SINK_COLS, leaf=run_leaf)
            metrics = pending.groupBy("bucket", "sink", "status").agg(F.count("*").alias("n")).collect()
            _write_bucket_metrics(out_dir, run_id, metrics)
    finally:
        pending.unpersist()
    # a processed bucket that held ZERO rows still completed — ack it with
    # zero counts, or it stays pending forever (a throttled caller would
    # re-select it every invocation and never progress past it)
    counts = {b: {"bucket": b, "in_rows": 0, "acked": 0, "ignored": 0, "rejected": 0} for b in taken}
    for r in metrics:
        c = counts.get(r["bucket"])
        if c is None:
            raise ValueError(
                f"pages carries rows of bucket {r['bucket']}, outside this run's "
                f"range({cfg.n_buckets}): a source bucket column must come from "
                f"ingest_bucketed(..., n_buckets={cfg.n_buckets}); nothing was committed"
            )
        c["in_rows"] += r["n"]
        if r["status"] in c:
            c[r["status"]] += r["n"]
    # the commit point
    L.append_ledger(spark, ledger_dir, run_id, list(counts.values()), lineage or f"pages->{cfg.out_dir}")
    return {**result, "elapsed_sec": time.time() - t0}


def _open_out_dir(spark: SparkSession, out_dir: str) -> tuple[str, set[int]]:
    """Check the output directory, read the ledger once, settle a replay's
    dead-letter swap and delete every uncommitted ``run=`` leaf; returns
    (the directory as a local path, the done buckets).

    Refused before anything is written: a remote URI (the leaves are
    listed, renamed and deleted from the driver), and a table that holds
    the ``bucket=`` partitions of ``run_once`` or of an earlier version —
    a reader cannot mix them with ``run=`` leaves."""
    out_dir = local_path(out_dir, "the resumable runner")
    tables = [os.path.join(out_dir, "metrics_by_bucket")] + [
        os.path.join(out_dir, d)
        for d in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
        if d.startswith("sink_") and "__" not in d
    ]
    for table in tables:
        legacy = [d for d in (os.listdir(table) if os.path.isdir(table) else [])
                  if d.startswith("bucket=")]
        if legacy:
            raise ValueError(
                f"{table} holds bucket-partitioned output ({legacy[0]}) from run_once or "
                "an earlier version; resumable runs write run=<id> leaves, which a reader "
                "cannot mix with it. Use a new out_dir, or rerun the CLI with --fresh."
            )
    done, committed = L.read_commits(spark, os.path.join(out_dir, "ledger"))
    _settle_dead_letter_swap(os.path.join(out_dir, "sink_dead_letter"), committed)
    L.drop_unacked(tables + [os.path.join(out_dir, STAGE_DIR)], committed)
    return out_dir, done


#: ``metrics_by_bucket`` rows: the row count of each (bucket, sink, status)
#: an attempt wrote; a replay's leaf holds signed deltas
BUCKET_METRICS_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("sink", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("n", T.LongType()),
])


def _write_bucket_metrics(out_dir: str, run_id: str, rows) -> None:
    """One small file in ``metrics_by_bucket/run=<run_id>/``, written from
    the driver: its rows (positional, in BUCKET_METRICS_SCHEMA order) are
    already there, and a Spark write of them would cost a job. Until the
    ledger commits the leaf, the next call deletes it with the rest of the
    attempt."""
    append_parquet(os.path.join(out_dir, "metrics_by_bucket", L.leaf(run_id)),
                   rows, BUCKET_METRICS_SCHEMA)


def sink_metrics_from_buckets(spark: SparkSession, out_dir: str, pipeline: str = "pages") -> DataFrame:
    """Per-sink metrics rows (METRICS_SCHEMA shape) summed over every
    ``metrics_by_bucket`` file: each committed run's counts plus each
    replay's signed deltas. Files are read wherever they sit, so a table
    written with ``partitionBy("bucket")`` reads the same."""
    m = (
        spark.read.schema(BUCKET_METRICS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(out_dir, "metrics_by_bucket"))
    )
    per = (
        m.filter(F.col("sink").isNotNull())
        .groupBy("sink")
        .agg(
            F.sum("n").alias("in_rows"),
            F.sum(F.when(F.col("status") == "acked", F.col("n")).otherwise(0)).alias("acked"),
            F.lit(0).cast("long").alias("nacked"),
            F.sum(F.when(F.col("status") == "ignored", F.col("n")).otherwise(0)).alias("ignored"),
            F.sum(F.when(F.col("status") == "rejected", F.col("n")).otherwise(0)).alias("rejected"),
        )
        .withColumn("pipeline", F.lit(pipeline))
    )
    cols = ["pipeline", "sink", "in_rows", "acked", "nacked", "ignored", "rejected"]
    return per.select(*cols)


def ingest_bucketed(pages: DataFrame, path: str, n_buckets: int = 64, key: str = "url") -> None:
    """Materialize the input partitioned by its stable bucket — the scan-level
    resume optimization: ``run_resumable`` over ``spark.read.parquet(path)``
    (with the same ``n_buckets``) PRUNES done buckets at the parquet scan
    (PartitionFilters), so skipped work costs zero I/O instead of
    read-then-filter. At 10^12 rows that's the difference between
    re-scanning 100 TB and scanning only the pending fraction."""
    # full rebuild: pin STATIC overwrite (a re-ingest over fewer rows must
    # not leave stale bucket partitions under a globally-dynamic session)
    L.with_bucket(pages, key=key, n_buckets=n_buckets).write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("bucket").parquet(path)


def metrics_from_ledger(spark: SparkSession, out_dir: str, pipeline: str = "pages") -> DataFrame:
    """Pipeline totals reconstructed from the ledger (the reference's
    cross-worker metric aggregation analog, src/core/aggregated_metrics.js:100-132).

    ``nacked`` is derived, per acked bucket, as (attempt rows - 1): a bucket
    re-run after a crash was delivered more than once before its ack — the
    batch form of a broker redelivery count (src/core/master.js:183-185)."""
    led_all = spark.read.parquet(os.path.join(out_dir, "ledger"))
    led = led_all.filter(F.col("status") == "done")
    # Last writer wins per bucket (a re-run replaces the bucket's output).
    # max_by(completed_at) makes "last" deterministic — F.last() in a groupBy
    # has no row-order guarantee across parquet files.
    attempts = (
        led_all.filter(F.col("status") == "attempt")
        .groupBy("bucket")
        .agg(F.count("*").alias("__attempts"))
    )
    latest = (
        led.groupBy("bucket")
        .agg(
            F.max_by("in_rows", "completed_at").alias("in_rows"),
            F.max_by("acked", "completed_at").alias("acked"),
            F.max_by("ignored", "completed_at").alias("ignored"),
            F.max_by("rejected", "completed_at").alias("rejected"),
        )
        # pre-attempt-row ledgers have no attempt records -> nacked 0
        .join(attempts, "bucket", "left")
        .withColumn(
            "nacked",
            F.greatest(F.coalesce(F.col("__attempts"), F.lit(1)) - 1, F.lit(0)),
        )
    )
    return latest.agg(
        F.lit(pipeline).alias("pipeline"),
        F.lit(None).cast("string").alias("sink"),
        F.sum("in_rows").alias("in_rows"),
        F.sum("acked").alias("acked"),
        F.sum("nacked").alias("nacked"),
        F.sum("ignored").alias("ignored"),
        F.sum("rejected").alias("rejected"),
    )


def run_history(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-run ledger digest, newest first: (run_id, attempted, completed,
    in_rows, acked, ignored, rejected, started_at, finished_at) — the batch
    analog of the reference's per-worker end-of-run report lines
    (src/core/master.js:183-185), reconstructed from the attempt/done
    records so an operator can see every invocation's footprint (what a
    resume picked up, what a throttled run took, what a crash left behind).
    Replays commit with a 'replay' row and are not runs: they are left out.
    """
    led = spark.read.parquet(os.path.join(out_dir, "ledger")).filter(F.col("status") != "replay")
    return (
        led.groupBy("run_id")
        .agg(
            F.sum(F.when(F.col("status") == "attempt", 1).otherwise(0)).alias("attempted"),
            F.sum(F.when(F.col("status") == "done", 1).otherwise(0)).alias("completed"),
            F.sum(F.when(F.col("status") == "done", F.col("in_rows")).otherwise(0)).alias("in_rows"),
            F.sum(F.when(F.col("status") == "done", F.col("acked")).otherwise(0)).alias("acked"),
            F.sum(F.when(F.col("status") == "done", F.col("ignored")).otherwise(0)).alias("ignored"),
            F.sum(F.when(F.col("status") == "done", F.col("rejected")).otherwise(0)).alias("rejected"),
            F.min("completed_at").alias("started_at"),
            F.max("completed_at").alias("finished_at"),
        )
        .orderBy(F.desc("started_at"))
    )


#: non-string sink column types (everything else in SINK_COLS is string)
_SINK_COL_TYPES = {"warc_ts": "timestamp", "bucket": "int"}

#: dead-letter sink schema — DERIVED from SINK_COLS so the two can't drift
#: apart. Reads use it EXPLICITLY so the table reads the same whatever its
#: leaves hold, an emptied one (all rows replayed) included.
DEAD_LETTER_SCHEMA = ", ".join(f"{c} {_SINK_COL_TYPES.get(c, 'string')}" for c in SINK_COLS)


def read_dead_letters(spark: SparkSession, out_dir: str) -> DataFrame:
    """The dead-letter table with its explicit schema (safe when empty)."""
    return (
        spark.read.schema(DEAD_LETTER_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(out_dir, "sink_dead_letter"))
    )


def replay_dead_letters(
    spark: SparkSession,
    pages: DataFrame,
    lang_map: DataFrame,
    domain_rules: DataFrame,
    cfg: JobConfig,
) -> dict:
    """Redeliver dead-lettered documents through a (presumably fixed)
    pipeline config — the batch form of shovel's nack → requeue retry
    (reference: src/inputs/amqp.js:101-112 requeues nacked deliveries;
    src/outputs/elasticsearch.js:156-165 dead-letters per-doc failures).

    A dead-letter row keeps WHY it failed but not the raw ``html`` (sinks
    store extracted fields, never source bytes — the scale rule), so the
    retry semi-joins the ORIGINAL pages table by url: only dead-lettered
    docs are re-parsed/re-routed — O(dead letters), not O(corpus), and
    the semi-join pushes into the pages scan. A url that appears several
    times in ``pages`` (re-crawl) retries its LATEST snapshot only
    (keep-latest upsert), so previously-delivered duplicates are never
    re-appended. Dead letters whose url is ABSENT from ``pages`` are NOT
    retried and stay in the dead-letter table (reported as
    ``unmatched`` — replaying against a partial snapshot must not lose
    them).

    Merge semantics, committed as one attempt (see ledger.py):

    - newly-successful rows append to their sinks as a new leaf
      ``sink_<name>/run=<replay_id>/`` through the sink writer;
      rows that now route to IGNORED leave the set without joining a sink;
    - ``metrics_by_bucket`` gains one leaf of signed deltas: every matched
      dead-letter ROW leaves (dead_letter, rejected) and each retried URL
      re-enters at its new (sink, status), so the summed metrics stay
      equal to the table contents;
    - the still-failing remainder (plus unmatched rows) is written to
      ``sink_dead_letter__replay_tmp/run=<replay_id>/``;
    - one ledger row with ``status='replay'`` commits all three, and only
      then does the remainder replace the dead-letter table by rename swap.

    A crash before the replay row leaves only uncommitted leaves, which the
    next run or replay deletes: the dead-letter table is untouched, so the
    next replay recovers each row exactly once. A crash after it leaves a
    swap that the next call rolls forward. A second replay under the same
    config retries the remainder, recovers nothing, appends nothing —
    observable no-op. Like a run, a replay must not overlap another call
    on the same ``cfg.out_dir`` (ledger.py).

    Returns {retried, recovered, ignored, still_dead, unmatched,
    per_sink}. Units: retried/recovered/ignored/still_dead count RETRIED
    URLS (one per url after the keep-latest dedupe); unmatched counts
    dead-letter ROWS left untouched. Read the table back with
    :func:`read_dead_letters` (explicit schema, safe when emptied).
    """
    from shovel_spark.operators.merge import upsert_latest

    replay_id = L.new_run_id()
    out_dir, _done = _open_out_dir(spark, cfg.out_dir)
    dl_path = os.path.join(out_dir, "sink_dead_letter")
    dl = read_dead_letters(spark, out_dir).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dl_urls = dl.select("url").where(F.col("url").isNotNull()).distinct()
        matched = pages.join(dl_urls, "url", "left_semi")
        # latest snapshot per url; ties broken by content hash (total
        # order). Checkpointed: it feeds the routed chain AND the
        # dead-letter joins below.
        retry_pages = upsert_latest(
            matched.limit(0), matched, key="url", ts_col="warc_ts",
            tiebreak=F.xxhash64("html"),
        ).localCheckpoint(eager=False)
        # Joined against the RETRY urls (O(dead letters)) — a pages-wide
        # distinct would re-scan the whole corpus. One pass counts, per
        # bucket, the dl rows that LEAVE the table (every matched row: a
        # url dead-lettered twice removes two rows though it retries once)
        # and those that stay: NULL-url rows never match anything, nor do
        # urls missing from this pages snapshot.
        retry_urls = retry_pages.select("url", F.lit(True).alias("__matched"))
        per_bucket = (
            dl.join(retry_urls, "url", "left")
            .groupBy("bucket", F.col("__matched").isNotNull().alias("matched"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        n_unmatched = sum(r["n"] for r in per_bucket if not r["matched"])
        minus = [(r["bucket"], "dead_letter", "rejected", -r["n"]) for r in per_bucket if r["matched"]]
        unmatched = dl.join(retry_urls, "url", "left_anti")
        routed = build_routed(retry_pages, lang_map, domain_rules, cfg).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            # ONE aggregation over the cached frame yields every counter
            # and the metrics delta's re-entering rows
            plus = routed.groupBy("bucket", "sink", "status").agg(F.count("*").alias("n")).collect()
            n_retried = sum(r["n"] for r in plus)
            n_still = sum(r["n"] for r in plus if r["status"] == "rejected")
            per_sink: dict = {}
            for r in plus:
                if r["status"] != "rejected" and r["sink"] is not None:
                    per_sink[r["sink"]] = per_sink.get(r["sink"], 0) + r["n"]
            n_recovered = n_retried - n_still
            n_ignored = n_recovered - sum(per_sink.values())
            if per_sink:
                write_sinks(
                    routed.filter((F.col("status") != "rejected") & F.col("sink").isNotNull()),
                    out_dir, sorted(per_sink), output_cols=SINK_COLS,
                    leaf=L.leaf(replay_id),
                )
            _write_bucket_metrics(out_dir, replay_id, minus + plus)
            remainder = routed.filter(F.col("status") == "rejected").select(*SINK_COLS)
            remainder.unionByName(unmatched.select(*SINK_COLS)).write.mode("overwrite").parquet(
                os.path.join(dl_path + "__replay_tmp", L.leaf(replay_id))
            )
        finally:
            routed.unpersist()
    finally:
        dl.unpersist()
    L.append_ledger(
        spark, os.path.join(out_dir, "ledger"), replay_id,
        [{"bucket": -1, "in_rows": n_retried, "acked": n_recovered - n_ignored,
          "ignored": n_ignored, "rejected": n_still}],
        f"replay->{cfg.out_dir}", status="replay",
    )
    _settle_dead_letter_swap(dl_path, {replay_id})
    return {
        "retried": n_retried,
        "recovered": n_recovered,
        "ignored": n_ignored,
        "still_dead": n_still,
        "unmatched": n_unmatched,
        "per_sink": per_sink,
    }


def _settle_dead_letter_swap(dl_path: str, committed: set[str]) -> None:
    """Finish or drop a replay's swap of the dead-letter table. The
    remainder waits at ``__replay_tmp/run=<replay_id>``; once that id is
    committed it replaces the table, which steps aside to ``__replay_old``
    until the rename is done. Every step is safe to redo, so a swap cut
    at any point rolls forward on the next call; a remainder whose replay
    never committed is deleted."""
    old, tmp = dl_path + "__replay_old", dl_path + "__replay_tmp"
    ids = L.leaf_ids(tmp)
    if ids and ids <= committed:
        if os.path.exists(dl_path):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(dl_path, old)
        os.rename(tmp, dl_path)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
