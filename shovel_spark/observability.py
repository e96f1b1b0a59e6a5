"""Mid-run observability: the batch twin of shovel's live metrics endpoint.

The reference serves per-node counters over HTTP while the pipeline runs and
aggregates them across workers (reference: src/core/master.js:104-129 starts
the Prometheus endpoint; src/core/aggregated_metrics.js:100-132 merges
per-worker counter snapshots). A batch job's lifetime is one Spark
application, so the analog is: while a run executes, sample the scheduler's
own progress state (``SparkContext.statusTracker`` — public API, no JVM
listener plumbing) on a daemon thread, and persist the samples as a small
parquet next to the run's other metrics tables. An operator can tail that
table (or call :meth:`ProgressMonitor.snapshot` in-process) to answer "is it
moving, which stage, how far along" — exactly what the reference's endpoint
answers — and post-hoc it records how each stage's task curve progressed.

Scale shape: samples are per-(tick, active stage) — bounded by run length /
interval, never by data size. Each monitored call appends one small
``progress/part-<uuid>.parquet`` file, written from the driver with pyarrow
and renamed into place (``io.sinks.append_parquet``, as the ledger appends
are): recording the samples costs no Spark job.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from shovel_spark.io.sinks import append_parquet

PROGRESS_SCHEMA = T.StructType([
    T.StructField("ts_ms", T.LongType()),
    T.StructField("stage_id", T.IntegerType()),
    T.StructField("attempt", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("num_tasks", T.IntegerType()),
    T.StructField("active_tasks", T.IntegerType()),
    T.StructField("complete_tasks", T.IntegerType()),
    T.StructField("failed_tasks", T.IntegerType()),
])


def _sample(status_tracker, now_ms: int) -> list[tuple]:
    rows = []
    for sid in status_tracker.getActiveStageIds():
        info = status_tracker.getStageInfo(sid)
        if info is None:
            continue
        rows.append(
            (
                now_ms,
                int(info.stageId),
                int(info.currentAttemptId),
                str(info.name)[:200],
                int(info.numTasks),
                int(info.numActiveTasks),
                int(info.numCompletedTasks),
                int(info.numFailedTasks),
            )
        )
    return rows


class ProgressMonitor:
    """Context manager: poll stage progress while the body runs, write the
    samples to ``{out_dir}/progress`` on exit. ``out_dir`` is a local
    path: the samples are written from the driver.

    >>> with ProgressMonitor(spark, cfg.out_dir):
    ...     run_resumable(...)

    A final summary row (stage_id = -1, name = 'run', num_tasks = number of
    samples, complete_tasks = elapsed ms) is always appended, so the table
    is never empty (empty partitioned parquet can't be schema-inferred) and
    the run's wall time is recorded even for runs too fast to sample."""

    def __init__(self, spark: SparkSession, out_dir: str, interval_sec: float = 0.25):
        self.spark = spark
        self.path = os.path.join(out_dir, "progress")
        self.interval = interval_sec
        self._rows: list[tuple] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0 = 0.0

    def _loop(self) -> None:
        st = self.spark.sparkContext.statusTracker()
        while not self._stop.is_set():
            try:
                self._rows.extend(_sample(st, int(time.time() * 1000)))
            except Exception:  # noqa: BLE001 — a torn-down context must not kill the run
                return
            self._stop.wait(self.interval)

    def snapshot(self) -> list[tuple]:
        """Live view of the samples collected so far (the in-process analog
        of scraping the reference's metrics endpoint mid-run)."""
        return list(self._rows)

    def __enter__(self) -> "ProgressMonitor":
        self._t0 = time.time()
        self._thread = threading.Thread(target=self._loop, daemon=True, name="progress-monitor")
        self._thread.start()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        elapsed_ms = int((time.time() - self._t0) * 1000)
        rows = self._rows + [
            (int(time.time() * 1000), -1, 0, "run", len(self._rows), 0, elapsed_ms, 0)
        ]
        # append: successive runs against the same out_dir (crash + resume)
        # accumulate their progress history, like the run-history ledger
        try:
            append_parquet(self.path, rows, PROGRESS_SCHEMA)
        except Exception:  # noqa: BLE001
            # when the monitored body itself raised (dead context,
            # unwritable out_dir), a failing progress write must not MASK
            # that original exception — swallow ours and let theirs
            # propagate. A write failure after a SUCCESSFUL body still
            # raises: the caller asked for a progress record.
            if exc_type is None:
                raise


def read_progress(spark: SparkSession, out_dir: str) -> DataFrame:
    """The recorded progress table for a run directory."""
    return spark.read.schema(PROGRESS_SCHEMA).parquet(os.path.join(out_dir, "progress"))
