"""The engine workloads: the CLI path (``run_resumable`` then
``metrics_from_ledger``), a crash-and-resume, and a dead-letter replay.

Untraced, each workload times its operations from outside, around the public
calls. After each operation, outside its timed region, the benchmark reads
back what the operation wrote; the comparison with the reference waits until
the session has stopped (:func:`judge`), so the reference never runs during
set-up or measurement. Traced, the same calls run inside spans, together
with a prefix ladder over the parse → enrich → route → exchange layers and a
re-enactment of ``run_resumable``'s steps through the layers' public
functions, so each layer gets its own time.
"""

from __future__ import annotations

import itertools
import shutil
import time
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from shovel_spark import ledger as L
from shovel_spark.functions.parse import parse_pages
from shovel_spark.io.sinks import write_sinks
from shovel_spark.operators.enrich import apply_domain_rules, normalize_lang
from shovel_spark.operators.route import apply_routes
from shovel_spark.pipeline import (
    OUTPUT_COLS,
    JobConfig,
    build_routed,
    metrics_from_ledger,
    replay_dead_letters,
    run_resumable,
    sink_metrics_from_buckets,
)
from shovel_spark.synth import default_domain_rules, default_lang_map

import checks
from inputs import RELAXED_DOMAIN
from spans import Tracer, attribute, read_status_store

#: pages per input. A CLI-path call costs ~4.5 s whatever its size (~22
#: jobs, ~450 files) plus ~8 us a page; at 200,000 pages the per-page part
#: is about a quarter of the call (README.md, "Input size"). The resume and
#: replay run at a quarter of that size to fit the run budget.
PAGES = {"ingest_small": 200_000, "resume_replay": 50_000}
#: timed repetitions per run, at least; more while the timed operations
#: add up to less than ``--seconds``. The whole run must stay near a minute
#: (see README.md, "Run budget").
MIN_REPETITIONS = {"ingest_small": 2, "resume_replay": 2}
#: buckets the prepared crash completes before the resume takes over
CRASH_AFTER_BUCKETS = 32


#: The comparison of an operation's output with the reference: takes the
#: reference summaries by config name, returns the problems found.
Judge = Callable[[Mapping[str, dict]], list[str]]


@dataclass
class Op:
    """One timed operation, the comparison still to make with the reference,
    and the problems found."""

    name: str
    seconds: float
    problems: list[str] = field(default_factory=list)
    check_s: float = 0.0
    judge: Judge | None = None


def judge(ops: list[Op], ref: Mapping[str, dict]) -> None:
    """Compare every operation's output with the reference."""
    for op in ops:
        if op.judge is not None:
            try:
                op.problems += op.judge(ref)
            except Exception as e:  # noqa: BLE001 — a failed check is counted, not fatal
                op.problems.append(f"check: {type(e).__name__}: {e}")
            op.judge = None


class Engine:
    """Drives one workload against one input inside one scratch directory."""

    def __init__(self, spark, pages: Path, work: Path):
        self.spark = spark
        self.jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        self.pages = pages
        self.work = work
        self._serial = itertools.count()
        self._crashed: Path | None = None

    # -- configuration and state ------------------------------------------

    def config(self, out_dir: Path):
        return JobConfig(input_path=str(self.pages), out_dir=str(out_dir))

    def tables(self):
        """The lang map and domain rules, built as the CLI builds them."""
        return default_lang_map(self.spark), default_domain_rules(self.spark)

    def relaxed_rules(self):
        return default_domain_rules(self.spark).withColumn(
            "action", F.when(F.col("domain") == RELAXED_DOMAIN, "allow").otherwise(F.col("action"))
        )

    def fresh_dir(self, tag: str) -> Path:
        """A new output directory; earlier ones of this run go."""
        for old in self.work.glob("out-*"):
            shutil.rmtree(old, ignore_errors=True)
        return self.work / f"out-{tag}-{next(self._serial)}"

    def prepare(self, workload: str, tag: str):
        """A fresh out dir; for ``resume_replay``, a copy of a run that
        crashed after ``CRASH_AFTER_BUCKETS`` buckets (made once)."""
        out = self.fresh_dir(tag)
        if workload == "resume_replay":
            if self._crashed is None:
                self._crashed = self.work / "crashed"
                self.cli_path(self.config(self._crashed), max_buckets=CRASH_AFTER_BUCKETS)
            shutil.copytree(self._crashed, out)
        return self.config(out)

    # -- the operations ---------------------------------------------------

    def cli_path(self, cfg, **kw):
        """What ``shovel_spark.cli`` does once its session exists."""
        pages = self.spark.read.parquet(cfg.input_path)
        result = run_resumable(self.spark, pages, *self.tables(), cfg,
                               lineage=f"parquet:{cfg.input_path}", **kw)
        totals = metrics_from_ledger(self.spark, cfg.out_dir, pipeline=cfg.name).first()
        return result, totals

    def replay(self, cfg) -> dict:
        pages = self.spark.read.parquet(cfg.input_path)
        return replay_dead_letters(self.spark, pages, default_lang_map(self.spark),
                                   self.relaxed_rules(), cfg)

    # -- output checks (never inside a timed region) -----------------------
    # Each reads the outputs now and returns the comparison to make later.

    def sink_metrics_rows(self, cfg) -> list[dict]:
        return [r.asDict() for r in sink_metrics_from_buckets(self.spark, cfg.out_dir).collect()]

    def check_run(self, cfg, totals, nacked: int) -> Judge:
        got = checks.read_sinks(Path(cfg.out_dir))
        metrics, totals = self.sink_metrics_rows(cfg), totals.asDict()
        return lambda ref: (
            checks.check_sinks(got, ref["strict"])
            + checks.check_ledger_totals(totals, ref["strict"], nacked)
            + checks.check_sink_metrics(metrics, got["sinks"])
        )

    def check_replay(self, cfg, result: dict) -> Judge:
        got = checks.read_sinks(Path(cfg.out_dir))
        metrics = self.sink_metrics_rows(cfg)
        return lambda ref: (
            checks.check_replay(result, ref)
            + checks.check_sinks(got, ref["relaxed"])
            + checks.check_sink_metrics(metrics, got["sinks"])
        )

    def expected_nacked(self, workload: str, cfg) -> int:
        # every bucket holds rows at these sizes, so each bucket the crash
        # left pending is delivered twice before its ack
        return cfg.n_buckets - CRASH_AFTER_BUCKETS if workload == "resume_replay" else 0

    def sink_bytes(self, cfg) -> int:
        return checks.tree_bytes(checks.sink_dirs(Path(cfg.out_dir)).values())

    # -- one repetition ----------------------------------------------------

    def timed(self, name: str, call, check) -> Op:
        """Time ``call()`` alone, then read its output with ``check(result)``."""
        t0 = time.perf_counter()
        try:
            result = call()
            op = Op(name, time.perf_counter() - t0)
            op.judge = check(result)
            op.check_s = time.perf_counter() - t0 - op.seconds
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            op = Op(name, time.perf_counter() - t0, [f"{type(e).__name__}: {e}"])
        return op

    def repetition(self, workload: str, tag: str) -> tuple[float, list[Op], int]:
        """(prepare seconds, timed ops, sink bytes) of one repetition."""
        t0 = time.perf_counter()
        cfg = self.prepare(workload, tag)
        prep_s = time.perf_counter() - t0
        nacked = self.expected_nacked(workload, cfg)
        ops = [self.timed("cli_path", lambda: self.cli_path(cfg),
                          lambda r: self.check_run(cfg, r[1], nacked))]
        if workload == "resume_replay":
            ops.append(self.timed("replay", lambda: self.replay(cfg),
                                  lambda r: self.check_replay(cfg, r)))
        return prep_s, ops, self.sink_bytes(cfg)

    def warm_up(self, workload: str) -> None:
        """Absorb the JVM's cold start before timing with one untimed
        CLI-path call: on this engine the first call of a process takes
        about twice as long as the next. ``resume_replay``'s crashed
        template, which ``prepare`` makes, is that call."""
        cfg = self.prepare(workload, "warm")
        if workload == "ingest_small":
            self.cli_path(cfg)

    def measure(self, workload: str, seconds: float) -> dict:
        """``MIN_REPETITIONS`` repetitions, and more until the timed
        operations add up to ``seconds``."""
        preps, ops, rep_s, sink_bytes = [], [], [], []
        while sum(rep_s) < seconds or len(preps) < MIN_REPETITIONS[workload]:
            prep_s, rep_ops, nbytes = self.repetition(workload, f"rep{len(preps)}")
            preps.append(prep_s)
            ops.extend(rep_ops)
            rep_s.append(sum(o.seconds for o in rep_ops))
            sink_bytes.append(nbytes)
        return {"prepare_s": preps, "ops": ops, "repetition_s": rep_s, "sink_bytes": sink_bytes,
                "peak_rss": _proc_status(self.jvm_pid, "VmHWM")}

    # -- the traced run ----------------------------------------------------

    def traced(self, workload: str, tracer: Tracer) -> tuple[dict, list[Op]]:
        """Per-layer metrics of one workload; every op is output-checked."""
        m: dict[str, float] = {}
        ops: list[Op] = []
        with tracer.span("ladder") as lad:
            counts = self.ladder(tracer)
        m.update(counts)
        ops.append(Op("ladder", lad.seconds, judge=lambda ref: checks.check_route_counts(
            {s: counts[f"operators.route.{s}_rows"] for s in ("acked", "ignored", "rejected")},
            ref["strict"])))

        # The four states below are prepared alike; the two references (A, B)
        # run just before the traced call (C), near it on the JIT's warm-up
        # curve. Each overhead is one pair of calls, so it resolves only
        # differences larger than the call-to-call drift (README.md).
        # A: the untraced reference for the tracing overhead
        cfg_a = self.prepare(workload, "untraced")
        t0 = time.perf_counter()
        _r, totals = self.cli_path(cfg_a)
        untraced_s = time.perf_counter() - t0
        ops.append(Op("cli_path", untraced_s,
                      judge=self.check_run(cfg_a, totals, self.expected_nacked(workload, cfg_a))))

        # B: the same call with the progress monitor off
        cfg_b = self.prepare(workload, "no_monitor")
        with tracer.span("pipeline.run_no_monitor") as nomon:
            run_resumable(self.spark, self.spark.read.parquet(cfg_b.input_path),
                          *self.tables(), cfg_b, lineage=f"parquet:{cfg_b.input_path}",
                          monitor=False)
        ops.append(Op("cli_path_no_monitor", nomon.seconds,
                      judge=self.check_run(cfg_b, self.cli_totals(cfg_b),
                                           self.expected_nacked(workload, cfg_b))))

        # C: the traced CLI path, its readback and a replay
        cfg_c = self.prepare(workload, "traced")
        with tracer.span("cli_path") as cli:
            with tracer.span("pipeline.run") as run:
                pages = self.spark.read.parquet(cfg_c.input_path)
                result = run_resumable(self.spark, pages, *self.tables(), cfg_c,
                                       lineage=f"parquet:{cfg_c.input_path}")
            with tracer.span("operators.aggregate.ledger_totals"):
                totals = metrics_from_ledger(self.spark, cfg_c.out_dir, pipeline=cfg_c.name).first()
        ops.append(Op("cli_path", cli.seconds,
                      judge=self.check_run(cfg_c, totals, self.expected_nacked(workload, cfg_c))))
        with tracer.span("operators.aggregate.readback") as readback:
            self.sink_metrics_rows(cfg_c)
            metrics_from_ledger(self.spark, cfg_c.out_dir, pipeline=cfg_c.name).collect()
        out_c = Path(cfg_c.out_dir)
        mb_files = len(list((out_c / "metrics_by_bucket").rglob("*.parquet")))
        progress_rows = sum(pq.ParquetFile(f).metadata.num_rows
                            for f in (out_c / "progress").glob("*.parquet"))
        pending_rows = _ledger_rows(out_c / "ledger", result["run_id"])
        with tracer.span("pipeline.replay") as rp:
            replayed = self.replay(cfg_c)
        ops.append(Op("replay", rp.seconds, judge=self.check_replay(cfg_c, replayed)))

        # D: run_resumable's steps one by one, through the public functions
        cfg_d = self.prepare(workload, "isolated")
        with tracer.span("isolated"):
            iso = self.isolated_layers(cfg_d, tracer)
        ops.append(Op("isolated", tracer.last("isolated").seconds,
                      judge=self.check_run(cfg_d, self.cli_totals(cfg_d),
                                           self.expected_nacked(workload, cfg_d))))

        t0 = time.perf_counter()
        att = attribute(tracer, *read_status_store(self.spark))
        bookkeeping_s = time.perf_counter() - t0

        def layer(name: str):
            return att.under(tracer, tracer.last(name))

        run_jobs, run_stages = layer("pipeline.run")
        m.update(self.ladder_times(tracer, att))
        m["pipeline.run_s"] = run.seconds
        m["pipeline.jobs"] = len(run_jobs)
        m["pipeline.stages"] = len(run_stages)
        m["pipeline.tasks"] = sum(s.tasks for s in run_stages)
        m["pipeline.task_cpu_s"] = sum(s.cpu_s for s in run_stages)
        m["pipeline.gc_s"] = sum(s.gc_s for s in run_stages)
        m["pipeline.metrics_by_bucket_files"] = mb_files
        iso_s = sum(iso[k] for k in ("ledger.read_done_s", "ledger.append_attempts_s",
                                     "pipeline.materialize_s", "io.sinks.s",
                                     "pipeline.bucket_metrics_s", "ledger.append_s"))
        m.update(iso)
        sinks_jobs, sinks_stages = layer("io.sinks")
        m["io.sinks.jobs"] = len(sinks_jobs)
        m["io.sinks.tasks"] = sum(s.tasks for s in sinks_stages)
        m["pipeline.residual_s"] = run.seconds - iso_s
        m["trace.coverage"] = iso_s / run.seconds
        m["pipeline.resume.pending_buckets"] = len(result["processed_buckets"])
        m["pipeline.resume.scan_rows_per_pending_row"] = (
            sum(s.input_rows for s in run_stages) / max(1, pending_rows)
        )
        m["pipeline.resume.jobs"] = len(run_jobs)
        m["pipeline.replay.s"] = rp.seconds
        m["pipeline.replay.jobs"] = len(layer("pipeline.replay")[0])
        for k in ("retried", "recovered", "unmatched"):
            m[f"pipeline.replay.{k}"] = replayed[k]
        m["operators.aggregate.readback_s"] = readback.seconds
        m["observability.monitor_overhead_s"] = run.seconds - nomon.seconds
        m["observability.progress_rows"] = progress_rows
        m["trace.cli_path_s"] = cli.seconds
        m["trace.overhead_ratio"] = cli.seconds / untraced_s
        m["trace.bookkeeping_s"] = bookkeeping_s
        m["session.peak_rss_gb"] = _proc_status(self.jvm_pid, "VmHWM") / 1e9
        return m, ops

    def cli_totals(self, cfg):
        return metrics_from_ledger(self.spark, cfg.out_dir, pipeline=cfg.name).first()

    def ladder(self, tracer: Tracer) -> dict:
        """Materialize each layer prefix with a ``noop`` write of all columns."""
        cfg = self.config(self.work / "ladder")
        lm, dr = self.tables()
        pages = self.spark.read.parquet(cfg.input_path)
        parsed = parse_pages(pages, impl=cfg.parser_impl)
        enriched = apply_domain_rules(normalize_lang(parsed, lm, default=cfg.lang_default), dr)
        routed = apply_routes(enriched, cfg.sink_rules)
        exchanged = build_routed(pages, lm, dr, cfg).repartition("bucket")
        for name, df in zip(LADDER_NAMES, (pages, parsed, enriched, routed, exchanged)):
            with tracer.span(f"ladder.{name}"):
                df.write.format("noop").mode("overwrite").save()
        mapped = [r.lang_raw for r in lm.collect()]
        c = routed.agg(
            F.sum((~F.col("parsed.ok")).cast("int")).alias("error"),
            F.sum((~F.coalesce(F.col("lang").isin(mapped), F.lit(False))).cast("int")).alias("lang"),
            F.sum(F.coalesce(F.col("rule_action") == "deny", F.lit(False)).cast("int")).alias("deny"),
            *[F.sum((F.col("status") == s).cast("int")).alias(s)
              for s in ("acked", "ignored", "rejected")],
        ).first()
        return {
            "functions.parse.error_rows": c["error"],
            "operators.enrich.lang_default_rows": c["lang"],
            "operators.enrich.deny_rows": c["deny"],
            "operators.route.acked_rows": c["acked"],
            "operators.route.ignored_rows": c["ignored"],
            "operators.route.rejected_rows": c["rejected"],
        }

    def ladder_times(self, tracer: Tracer, att) -> dict:
        out = {}
        prev_s = prev_cpu = 0.0
        for name in LADDER_NAMES:
            sp = tracer.last(f"ladder.{name}")
            _jobs, stages = att.under(tracer, sp)
            cpu = sum(s.cpu_s for s in stages)
            out[f"{name}.s"] = sp.seconds - prev_s
            out[f"{name}.task_cpu_s"] = cpu - prev_cpu
            prev_s, prev_cpu = sp.seconds, cpu
            if name == "pipeline.exchange":
                out["pipeline.exchange.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in stages)
                out["pipeline.exchange.spill_bytes"] = sum(s.spill_bytes for s in stages)
        return out

    def isolated_layers(self, cfg, tracer: Tracer) -> dict:
        """``run_resumable``'s steps, each timed alone. Mirrors the program's
        sequence; if that sequence changes, ``trace.coverage`` shows it."""
        spark, out = self.spark, Path(cfg.out_dir)
        ledger_dir = str(out / "ledger")
        run_id = L.new_run_id()
        with tracer.span("ledger.read_done") as s_read:
            done = L.read_done_buckets(spark, ledger_dir)
        candidates = sorted(set(range(cfg.n_buckets)) - done)
        with tracer.span("ledger.append_attempts") as s_att:
            L.append_attempts(spark, ledger_dir, run_id, candidates)
        with tracer.span("pipeline.materialize") as s_mat:
            pages = spark.read.parquet(cfg.input_path)
            routed = build_routed(pages, *self.tables(), cfg)
            if done:
                routed = routed.filter(~F.col("bucket").isin(sorted(done)))
            pending = routed.repartition("bucket").persist(StorageLevel.MEMORY_AND_DISK)
            n_routed = pending.count()
        before = _files(out)
        try:
            with tracer.span("io.sinks") as s_sinks:
                write_sinks(pending, cfg.out_dir, cfg.sinks, partition_cols=["bucket"],
                            output_cols=OUTPUT_COLS)
            written = [f for f in _files(out) - before
                       if f.relative_to(out).parts[0].startswith("sink_")]
            with tracer.span("pipeline.bucket_metrics") as s_bm:
                (
                    pending.groupBy("bucket", "sink", "status").agg(F.count("*").alias("n"))
                    .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket").parquet(str(out / "metrics_by_bucket"))
                )
                counts = pending.groupBy("bucket").agg(
                    F.count("*").alias("in_rows"),
                    *[F.sum((F.col("status") == s).cast("int")).alias(s)
                      for s in ("acked", "ignored", "rejected")],
                ).collect()
        finally:
            pending.unpersist()
        with tracer.span("ledger.append") as s_app:
            L.append_ledger(spark, ledger_dir, run_id, [r.asDict() for r in counts],
                            f"parquet:{cfg.input_path}")
        sink_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in written if f.suffix == ".parquet")
        return {
            "ledger.read_done_s": s_read.seconds,
            "ledger.append_attempts_s": s_att.seconds,
            "ledger.append_s": s_app.seconds,
            "ledger.files": len(list((out / "ledger").glob("*.parquet"))),
            "pipeline.materialize_s": s_mat.seconds,
            "pipeline.bucket_metrics_s": s_bm.seconds,
            "io.sinks.s": s_sinks.seconds,
            "io.sinks.files": sum(1 for f in written if f.suffix == ".parquet"),
            "io.sinks.bytes": sum(f.stat().st_size for f in written),
            "io.sinks.rows_written_per_routed_row": sink_rows / max(1, n_routed),
        }


LADDER_NAMES = ["scan", "functions.parse", "operators.enrich", "operators.route", "pipeline.exchange"]


def _proc_status(pid: int, key: str) -> int:
    """A ``kB`` field of /proc/<pid>/status, in bytes."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1]) * 1024
    raise KeyError(key)


def _files(root: Path) -> set[Path]:
    return {f for f in root.rglob("*") if f.is_file()}


def _ledger_rows(ledger: Path, run_id: str) -> int:
    """Rows the run's 'done' ledger records say it processed."""
    total = 0
    for f in ledger.glob("*.parquet"):
        t = pq.ParquetFile(f).read(columns=["run_id", "status", "in_rows"]).to_pylist()
        total += sum(r["in_rows"] for r in t if r["run_id"] == run_id and r["status"] == "done")
    return total
