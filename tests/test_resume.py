"""Kill/resume: no reprocessing, no double-routing (SURVEY.md §5 item 3).

Simulates a crash by running only K of B buckets (max_buckets), then
resuming; the final sink tables and ledger must equal a single-shot run.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from shovel_spark.io.sinks import STAGE_DIR
from shovel_spark.pipeline import JobConfig, metrics_from_ledger, run_resumable
from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

N = 2500
SEED = 13
B = 8


def _inputs(spark):
    return synth_pages(spark, N, seed=SEED), default_lang_map(spark), default_domain_rules(spark)


def _sink_urls(spark, out_dir, sink):
    path = os.path.join(out_dir, f"sink_{sink}")
    return {r["url"] for r in spark.read.parquet(path).select("url").collect()}


def test_resume_equals_single_run(spark, tmp_path):
    pages, lm, dr = _inputs(spark)

    golden_cfg = JobConfig(out_dir=str(tmp_path / "golden"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, golden_cfg)

    cfg = JobConfig(out_dir=str(tmp_path / "resumed"), n_buckets=B)
    r1 = run_resumable(spark, pages, lm, dr, cfg, max_buckets=3)  # "crash" after 3
    assert len(r1["processed_buckets"]) == 3
    r2 = run_resumable(spark, pages, lm, dr, cfg)  # resume
    assert r2["skipped_buckets"] == r1["processed_buckets"]  # no reprocessing
    assert set(r1["processed_buckets"]).isdisjoint(r2["processed_buckets"])
    assert sorted(r1["processed_buckets"] + r2["processed_buckets"]) == list(range(B))

    for sink in cfg.sinks:
        g = _sink_urls(spark, golden_cfg.out_dir, sink)
        got = _sink_urls(spark, cfg.out_dir, sink)
        assert got == g, f"sink {sink} diverged after resume"

    led = spark.read.parquet(os.path.join(cfg.out_dir, "ledger"))
    per_bucket = led.filter(F.col("status") == "done").groupBy("bucket").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)  # each bucket done exactly once
    assert len(per_bucket) == B

    m = metrics_from_ledger(spark, cfg.out_dir).first()
    gm = metrics_from_ledger(spark, golden_cfg.out_dir).first()
    assert m["in_rows"] == gm["in_rows"] == N
    assert (m["acked"], m["ignored"], m["rejected"]) == (gm["acked"], gm["ignored"], gm["rejected"])
    # broker-redelivery analog: the B-3 buckets killed before their ack were
    # re-attempted by the resume -> one nack each; a clean run nacks nothing
    assert m["nacked"] == B - 3
    assert gm["nacked"] == 0


def test_rerun_of_unacked_bucket_overwrites_not_appends(spark, tmp_path):
    """Crash between sink write and ledger append: the re-run must replace the
    bucket's output (the un-acked leaves are deleted), not double it."""
    pages, lm, dr = _inputs(spark)
    cfg = JobConfig(out_dir=str(tmp_path / "o"), n_buckets=B)

    # First pass writes bucket 0-2 outputs; wipe the ledger to simulate dying
    # before the ack (ledger append) happened.
    run_resumable(spark, pages, lm, dr, cfg, max_buckets=3)
    import shutil

    shutil.rmtree(os.path.join(cfg.out_dir, "ledger"))

    run_resumable(spark, pages, lm, dr, cfg)  # reruns everything

    golden_cfg = JobConfig(out_dir=str(tmp_path / "g"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, golden_cfg)
    for sink in cfg.sinks:
        assert _sink_urls(spark, cfg.out_dir, sink) == _sink_urls(spark, golden_cfg.out_dir, sink)
    # row *multiset* check: no duplicated urls from double-routing
    df = spark.read.parquet(os.path.join(cfg.out_dir, "sink_english"))
    assert df.count() == df.select("url").distinct().count()


def test_dimension_counts_written_and_salted_equal(spark, tmp_path):
    """north_star-mandated per-domain/per-lang salted counts as pipeline
    outputs; must equal naive groupBy."""
    import os

    from shovel_spark.pipeline import JobConfig, build_routed, run_once

    pages, lm, dr = _inputs(spark)
    cfg = JobConfig(out_dir=str(tmp_path / "dims"), n_buckets=B)
    run_once(spark, pages, lm, dr, cfg)
    routed = build_routed(pages, lm, dr, cfg)
    for dim in ("domain", "lang_norm"):
        table = "per_domain_counts" if dim == "domain" else "per_lang_counts"
        got = {
            r[dim]: r["n"]
            for r in spark.read.parquet(os.path.join(cfg.out_dir, table)).collect()
        }
        want = {r[dim]: r["count"] for r in routed.groupBy(dim).count().collect()}
        assert got == want


def test_per_sink_metrics_survive_resume(spark, tmp_path):
    """metrics_by_bucket is committed with the sinks, one leaf per attempt:
    after crash+resume, per-sink totals equal a single-shot run's."""
    from shovel_spark.pipeline import JobConfig, run_resumable, sink_metrics_from_buckets

    pages, lm, dr = _inputs(spark)
    golden_cfg = JobConfig(out_dir=str(tmp_path / "g2"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, golden_cfg)
    cfg = JobConfig(out_dir=str(tmp_path / "r2"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, cfg, max_buckets=4)
    run_resumable(spark, pages, lm, dr, cfg)

    def rows(out_dir):
        return {
            (r["sink"], r["in_rows"], r["acked"], r["ignored"], r["rejected"])
            for r in sink_metrics_from_buckets(spark, out_dir).collect()
        }

    got, want = rows(cfg.out_dir), rows(golden_cfg.out_dir)
    assert got == want
    assert len(got) >= 3


def _traced_call(spark, monkeypatch, call):
    """Run ``call()``; return (its result, the physical plans of the sink
    writes it executed, the analyzed plan of the frame it handed to
    write_sinks)."""
    from shovel_spark import pipeline

    frames, real = [], pipeline.write_sinks

    def spy(df, *args, **kwargs):
        frames.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_sinks", spy)
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():  # the retained ones: the UI keeps only the latest
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    result = call()
    monkeypatch.undo()
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() > seen and e.description().startswith("save")]
    return result, plans, _plan_text(frames[0])


def _plan_text(df):
    """The analyzed plan with expression and plan ids stripped."""
    return re.sub(r"(#|plan_id=)\d+", "", df._jdf.queryExecution().analyzed().toString())


def test_bucketed_resume_prunes_at_scan(spark, tmp_path, monkeypatch):
    """Scan-level resume: ``run_resumable`` over a bucket-partitioned ingest
    eliminates done buckets by parquet partition pruning (PartitionFilters
    in the plan the resume executes), not a post-read filter — zero I/O
    for completed work. An unbucketed source keeps its plan: the filter on
    the computed hash, above an unpruned scan."""
    from shovel_spark.pipeline import build_routed, ingest_bucketed

    pages, lm, dr = _inputs(spark)
    ingest, plain = str(tmp_path / "ingest"), str(tmp_path / "pages")
    ingest_bucketed(pages, ingest, n_buckets=B)
    pages.write.parquet(plain)  # the CLI's source

    filters, pending = {}, {}
    for tag, path in (("bucketed", ingest), ("plain", plain)):
        source = spark.read.parquet(path)
        cfg = JobConfig(out_dir=str(tmp_path / tag), n_buckets=B)
        r1 = run_resumable(spark, source, lm, dr, cfg, max_buckets=3)
        r2, plans, pending[tag] = _traced_call(
            spark, monkeypatch, lambda: run_resumable(spark, source, lm, dr, cfg))
        assert r2["skipped_buckets"] == r1["processed_buckets"]
        assert len(plans) == 1  # one write job for every sink
        scan = re.search(r"\(\d+\) Scan parquet.*?\n\n", plans[0], re.S).group(0)
        filters[tag] = re.findall(r"PartitionFilters: \[(.+)\]", scan)
    done = r1["processed_buckets"]

    [bucketed] = filters["bucketed"]
    assert "bucket" in bucketed and f"IN ({','.join(map(str, done))})" in bucketed
    assert filters["plain"] == []
    want = build_routed(spark.read.parquet(plain), lm, dr, cfg).filter(~F.col("bucket").isin(done))
    assert pending["plain"] == _plan_text(want)

    # equality with the plain (unbucketed) path
    for sink in cfg.sinks:
        assert (_sink_urls(spark, str(tmp_path / "bucketed"), sink)
                == _sink_urls(spark, str(tmp_path / "plain"), sink))


def test_bucketed_ingest_of_another_bucket_count_commits_nothing(spark, tmp_path):
    """A bucketed ingest made with 2B buckets, run with B: the crash call
    and the resume both read rows of buckets outside range(B) and fail with
    a ValueError before their ledger append, so no bucket is committed with
    part of its rows. The same out dir then completes from the plain pages
    exactly like an uninterrupted run."""
    from shovel_spark.ledger import read_done_buckets
    from shovel_spark.pipeline import ingest_bucketed, sink_metrics_from_buckets

    pages, lm, dr = _inputs(spark)
    ingest = str(tmp_path / "ingest")
    ingest_bucketed(pages, ingest, n_buckets=2 * B)
    cfg = JobConfig(out_dir=str(tmp_path / "out"), n_buckets=B)
    for kw in ({"max_buckets": 3}, {}):
        with pytest.raises(ValueError, match=rf"outside this run's range\({B}\)"):
            run_resumable(spark, spark.read.parquet(ingest), lm, dr, cfg, **kw)
        assert read_done_buckets(spark, os.path.join(cfg.out_dir, "ledger")) == set()

    run_resumable(spark, pages, lm, dr, cfg)
    golden = JobConfig(out_dir=str(tmp_path / "golden"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, golden)
    assert _unacked_leaves(spark, cfg.out_dir) == []
    assert _sink_url_sets(spark, cfg.out_dir) == _sink_url_sets(spark, golden.out_dir)
    got, want = (metrics_from_ledger(spark, c.out_dir).first() for c in (cfg, golden))
    assert got.in_rows == want.in_rows == N
    assert (got.acked, got.ignored, got.rejected) == (want.acked, want.ignored, want.rejected)
    assert ({tuple(r) for r in sink_metrics_from_buckets(spark, cfg.out_dir).collect()}
            == {tuple(r) for r in sink_metrics_from_buckets(spark, golden.out_dir).collect()})
    _assert_metrics_match_sinks(spark, cfg.out_dir)


def test_throttle_pacing_progresses_past_empty_buckets(spark, tmp_path):
    """throttle=True paces K buckets per invocation without phantom nacks,
    and empty buckets are acked with zero counts — a zero-row bucket must
    not be re-selected forever (livelock)."""
    pages, lm, dr = _inputs(spark)
    few = pages.limit(40)  # 16 buckets, ~some guaranteed empty
    cfg = JobConfig(out_dir=str(tmp_path / "t"), n_buckets=16)
    seen = set()
    for i in range(4):
        r = run_resumable(spark, few, lm, dr, cfg, max_buckets=4, throttle=True)
        got = set(r["processed_buckets"])
        assert got, f"invocation {i} made no progress"
        assert got.isdisjoint(seen)
        seen |= got
    assert seen == set(range(16))  # all buckets done in exactly 16/4 rounds
    m = metrics_from_ledger(spark, cfg.out_dir).first()
    assert m["nacked"] == 0 and m["in_rows"] == 40


def test_run_history_reports_each_invocation(spark, tmp_path):
    """run_history: one row per run_id; the kill run shows attempted > 
    completed, the resume completes the rest, totals reconcile."""
    from shovel_spark.pipeline import run_history

    pages, lm, dr = _inputs(spark)
    cfg = JobConfig(out_dir=str(tmp_path / "h"), n_buckets=B)
    r1 = run_resumable(spark, pages, lm, dr, cfg, max_buckets=3)
    r2 = run_resumable(spark, pages, lm, dr, cfg)
    hist = {r["run_id"]: r for r in run_history(spark, cfg.out_dir).collect()}
    h1, h2 = hist[r1["run_id"]], hist[r2["run_id"]]
    assert h1["attempted"] == B and h1["completed"] == 3  # crash semantics
    assert h2["attempted"] == B - 3 and h2["completed"] == B - 3
    assert h1["in_rows"] + h2["in_rows"] == N


def test_progress_monitor_records_stage_samples(spark, tmp_path):
    """Mid-run observability (reference: src/core/master.js:104-129 live
    metrics endpoint): run_resumable samples scheduler progress while the
    job runs and persists it to {out_dir}/progress. Crash + resume appends
    (one 'run' summary row per invocation); samples reference real stages."""
    from shovel_spark.observability import read_progress
    from shovel_spark.pipeline import JobConfig, run_resumable
    from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

    out = str(tmp_path / "obs_out")
    pages = synth_pages(spark, 30_000, seed=11)
    lm, dr = default_lang_map(spark), default_domain_rules(spark)
    cfg = JobConfig(out_dir=out, n_buckets=8)
    run_resumable(spark, pages, lm, dr, cfg, max_buckets=3)   # crash
    run_resumable(spark, pages, lm, dr, cfg)                  # resume
    prog = read_progress(spark, out)
    rows = prog.collect()
    summaries = [r for r in rows if r.stage_id == -1]
    assert len(summaries) == 2  # one per invocation
    assert all(r.name == "run" and r.complete_tasks >= 0 for r in summaries)
    samples = [r for r in rows if r.stage_id >= 0]
    # 30k rows through parse+route+write is slow enough to catch stages
    assert samples, "no stage samples recorded"
    assert all(0 <= r.complete_tasks <= r.num_tasks for r in samples)
    assert all(r.ts_ms > 0 and r.name for r in samples)

    # monitor=False writes nothing new
    import shutil
    shutil.rmtree(out)
    run_resumable(spark, pages, lm, dr, cfg, monitor=False)
    import os as _os
    assert not _os.path.exists(_os.path.join(out, "progress"))


def test_resume_survives_default_static_overwrite_session(spark, tmp_path):
    """Crash + resume must not depend on the session-level overwrite conf
    (Spark's default is static, under which a partitioned overwrite deletes
    every partition it does not write). Simulate the vanilla session by
    unsetting the conf."""
    from shovel_spark.pipeline import JobConfig, metrics_from_ledger, run_resumable
    from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(conf_key, None)
    spark.conf.unset(conf_key)
    try:
        assert spark.conf.get(conf_key).lower() == "static"
        out = str(tmp_path / "vanilla_out")
        pages = synth_pages(spark, 12_000, seed=31)
        lm, dr = default_lang_map(spark), default_domain_rules(spark)
        cfg = JobConfig(out_dir=out, n_buckets=8)
        run_resumable(spark, pages, lm, dr, cfg, max_buckets=3)   # crash
        run_resumable(spark, pages, lm, dr, cfg)                  # resume
        m = metrics_from_ledger(spark, out).first()
        assert m.in_rows == 12_000
        assert m.acked + m.ignored + m.rejected == m.in_rows
        # resumed sinks keep the crash-era buckets: no dup urls, full rows
        import os as _os

        from pyspark.sql import functions as F

        total = 0
        for d in _os.listdir(out):
            if d.startswith("sink_"):
                sdf = spark.read.parquet(_os.path.join(out, d))
                assert sdf.count() == sdf.select("url").distinct().count(), d
                total += sdf.count()
        # ignored rows are dropped by routing, never written to a sink
        assert total == 12_000 - m.ignored
        # per-bucket metrics kept all 8 buckets, not just the resumed ones
        mb = spark.read.parquet(_os.path.join(out, "metrics_by_bucket"))
        assert mb.select("bucket").distinct().count() == 8
        assert mb.agg(F.sum("n")).first()[0] == 12_000
    finally:
        if saved is not None:
            spark.conf.set(conf_key, saved)


def test_replay_dead_letters_redelivers_fixed_config(spark, tmp_path):
    """Dead-letter replay (shovel's nack -> requeue redelivery, batch
    form): after relaxing the domain deny-list, previously rule-denied
    docs recover into their sinks; parse failures stay dead. A second
    replay under the same config is a no-op."""
    from pyspark.sql import functions as F

    from shovel_spark.pipeline import (
        JobConfig,
        replay_dead_letters,
        run_resumable,
    )
    from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

    out = str(tmp_path / "replay_out")
    pages = synth_pages(spark, 15_000, seed=41)
    lm, dr = default_lang_map(spark), default_domain_rules(spark)
    cfg = JobConfig(out_dir=out, n_buckets=8)
    run_resumable(spark, pages, lm, dr, cfg)

    dl0 = spark.read.parquet(f"{out}/sink_dead_letter")
    n_dead0 = dl0.count()
    n_rule_denied = dl0.filter(F.col("error").startswith("domain_rule:deny")).count()
    assert n_dead0 > 0 and 0 < n_rule_denied < n_dead0
    sink_counts0 = {}
    import os as _os
    for d in _os.listdir(out):
        if d.startswith("sink_") and d != "sink_dead_letter":
            sink_counts0[d] = spark.read.parquet(_os.path.join(out, d)).count()

    # "fix" the config: allow everything previously denied
    allow_all = dr.withColumn("action", F.lit("allow"))
    res = replay_dead_letters(spark, pages, lm, allow_all, cfg)
    assert res["retried"] == n_dead0
    assert res["recovered"] == n_rule_denied
    assert res["still_dead"] == n_dead0 - n_rule_denied
    # some recovered rows route to IGNORED (processed fine, no sink)
    assert sum(res["per_sink"].values()) + res["ignored"] == n_rule_denied

    dl1 = spark.read.parquet(f"{out}/sink_dead_letter")
    assert dl1.count() == n_dead0 - n_rule_denied
    assert dl1.filter(F.col("error").startswith("domain_rule:deny")).count() == 0
    gained = 0
    for d, before in sink_counts0.items():
        sdf = spark.read.parquet(_os.path.join(out, d))
        assert sdf.count() == sdf.select("uuid").distinct().count(), d  # no dups
        gained += sdf.count() - before
    assert gained == sum(res["per_sink"].values())

    # idempotent-by-outcome: same config again recovers nothing
    res2 = replay_dead_letters(spark, pages, lm, allow_all, cfg)
    assert res2["recovered"] == 0 and res2["retried"] == res["still_dead"]
    assert spark.read.parquet(f"{out}/sink_dead_letter").count() == res["still_dead"]


def test_replay_preserves_unmatched_and_dedupes_recrawled_urls(spark, tmp_path):
    """Round-5 review hardening: (a) dead letters whose url is absent
    from the supplied pages snapshot are NOT lost — they stay dead and
    are reported as unmatched; (b) a url that appears twice in pages
    (re-crawl) retries its latest snapshot ONCE — previously-delivered
    rows are not re-appended; (c) metrics_by_bucket is updated to match
    the post-replay sink contents."""
    from pyspark.sql import functions as F

    from shovel_spark.pipeline import (
        JobConfig,
        read_dead_letters,
        replay_dead_letters,
        run_resumable,
        sink_metrics_from_buckets,
    )
    from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

    out = str(tmp_path / "replay2_out")
    pages = synth_pages(spark, 8_000, seed=57)
    lm, dr = default_lang_map(spark), default_domain_rules(spark)
    cfg = JobConfig(out_dir=out, n_buckets=8)
    run_resumable(spark, pages, lm, dr, cfg)
    n_dead0 = read_dead_letters(spark, out).count()
    dead_urls = [r.url for r in read_dead_letters(spark, out).select("url").collect()]
    import os as _os0
    before_sink_rows = sum(
        spark.read.parquet(_os0.path.join(out, d)).count()
        for d in _os0.listdir(out)
        if d.startswith("sink_") and d != "sink_dead_letter"
    )

    # partial snapshot: drop half the dead urls from pages; duplicate the
    # rest (re-crawl rows, 1s later — the retry must pick ONE per url)
    keep = set(dead_urls[: len(dead_urls) // 2])
    partial = pages.filter(
        ~F.col("url").isin([u for u in dead_urls if u not in keep])
    )
    recrawl = partial.join(
        spark.createDataFrame([(u,) for u in keep], "url string"), "url", "left_semi"
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 SECOND"))
    snapshot = partial.unionByName(recrawl)

    allow_all = dr.withColumn("action", F.lit("allow"))
    res = replay_dead_letters(spark, snapshot, lm, allow_all, cfg)
    assert res["unmatched"] == n_dead0 - len(keep)
    assert res["retried"] == len(keep)  # one retry per url despite dup rows
    dl = read_dead_letters(spark, out)
    assert dl.count() == res["unmatched"] + res["still_dead"]
    # no sink holds duplicate uuids after the replay, and the total rows
    # appended across sinks equal the recovered-with-a-sink count
    import os as _os
    total_after = 0
    for d in _os.listdir(out):
        if d.startswith("sink_") and d != "sink_dead_letter":
            sdf = spark.read.parquet(_os.path.join(out, d))
            assert sdf.count() == sdf.select("uuid").distinct().count(), d
            total_after += sdf.count()
    assert total_after == before_sink_rows + res["recovered"] - res["ignored"]
    # metrics_by_bucket agrees with the actual sink row counts
    m = {r["sink"]: r["in_rows"] - r["ignored"] for r in
         sink_metrics_from_buckets(spark, out).collect()}
    for d in _os.listdir(out):
        if d.startswith("sink_") and d != "sink_dead_letter":
            name = d[len("sink_"):]
            got = spark.read.parquet(_os.path.join(out, d)).count()
            assert m.get(name, 0) == got, (name, m.get(name), got)


# -- the per-attempt layout: crash windows against an uninterrupted run ------


def test_run_ids_read_back_as_strings():
    """A run=<id> leaf is typed by partition discovery; an id in numeric
    exponent form stalls it, so ids must start with a letter."""
    from shovel_spark import ledger

    assert all(ledger.new_run_id()[0].isalpha() for _ in range(100))
    with pytest.raises(ValueError, match="start with a letter"):
        ledger.leaf("123e45678901")


def _sink_frames(spark, out_dir):
    """{sink name: DataFrame} of every sink table under ``out_dir``."""
    from shovel_spark.pipeline import read_dead_letters

    return {
        d[len("sink_"):]: (
            read_dead_letters(spark, out_dir) if d == "sink_dead_letter"
            else spark.read.parquet(os.path.join(out_dir, d))
        )
        for d in sorted(os.listdir(out_dir))
        if d.startswith("sink_") and "__" not in d
    }


def _assert_metrics_match_sinks(spark, out_dir):
    """sink_metrics_from_buckets equals the sink contents, and no sink
    holds a uuid twice."""
    from shovel_spark.pipeline import sink_metrics_from_buckets

    counts = {}
    for name, df in _sink_frames(spark, out_dir).items():
        n = df.count()
        assert n == df.select("uuid").distinct().count(), name
        if n:
            counts[name] = n
    metrics = {r["sink"]: r["in_rows"] for r in sink_metrics_from_buckets(spark, out_dir).collect()
               if r["in_rows"]}
    assert metrics == counts


def _sink_url_sets(spark, out_dir):
    return {name: {r.url for r in df.select("url").collect()}
            for name, df in _sink_frames(spark, out_dir).items()}


def _unacked_leaves(spark, out_dir):
    """``run=`` leaves whose run id has no done or replay ledger row."""
    led = spark.read.parquet(os.path.join(out_dir, "ledger"))
    committed = {r.run_id for r in led.filter(F.col("status").isin("done", "replay")).collect()}
    tables = [os.path.join(out_dir, d) for d in os.listdir(out_dir)
              if d.startswith("sink_") or d in ("metrics_by_bucket", STAGE_DIR)]
    return [os.path.join(t, n) for t in tables for n in os.listdir(t)
            if n.startswith("run=") and n[len("run="):] not in committed]


def _fail_once(monkeypatch, status):
    """Make the next ledger append of ``status`` rows raise, as a crash
    just before that commit would."""
    from shovel_spark import ledger

    real, calls = ledger.append_ledger, []

    def flaky(*args, **kw):
        if kw.get("status", "done") == status and not calls:
            calls.append(1)
            raise RuntimeError("crash before the ledger append")
        return real(*args, **kw)

    monkeypatch.setattr(ledger, "append_ledger", flaky)


def test_crash_before_ledger_append_then_resume(spark, tmp_path, monkeypatch):
    """A run dies after its sink and metrics writes but before its ack: the
    resume deletes the un-acked leaves and redoes their buckets, so the
    sinks and metrics equal an uninterrupted run's."""
    pages, lm, dr = _inputs(spark)
    golden = JobConfig(out_dir=str(tmp_path / "golden"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, golden)

    cfg = JobConfig(out_dir=str(tmp_path / "crashed"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, cfg, max_buckets=3)
    _fail_once(monkeypatch, "done")
    with pytest.raises(RuntimeError, match="crash before the ledger append"):
        run_resumable(spark, pages, lm, dr, cfg)
    assert len(_unacked_leaves(spark, cfg.out_dir)) == len(cfg.sinks) + 1  # sinks + metrics
    r = run_resumable(spark, pages, lm, dr, cfg)
    assert len(r["processed_buckets"]) == B - 3

    assert _unacked_leaves(spark, cfg.out_dir) == []
    assert _sink_url_sets(spark, cfg.out_dir) == _sink_url_sets(spark, golden.out_dir)
    _assert_metrics_match_sinks(spark, cfg.out_dir)
    m = metrics_from_ledger(spark, cfg.out_dir).first()
    gm = metrics_from_ledger(spark, golden.out_dir).first()
    assert (m["in_rows"], m["acked"], m["ignored"], m["rejected"]) == (
        gm["in_rows"], gm["acked"], gm["ignored"], gm["rejected"])
    # the B-3 pending buckets were delivered three times before their ack
    assert m["nacked"] == 2 * (B - 3)


def test_crash_between_sink_renames_then_resume(spark, tmp_path, monkeypatch):
    """A run dies between the renames that move its one-job sink write out
    of the staging directory: some sinks' leaves are in place, the rest
    are still staged. The resume deletes both, and its sinks and metrics
    equal an uninterrupted run's."""
    pages, lm, dr = _inputs(spark)
    golden = JobConfig(out_dir=str(tmp_path / "golden"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, golden)

    cfg = JobConfig(out_dir=str(tmp_path / "crashed"), n_buckets=B)
    real, renames = os.rename, []

    def flaky(src, dst):
        if STAGE_DIR in str(src):
            renames.append(src)
            if len(renames) == 3:
                raise RuntimeError("crash between the sink renames")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(RuntimeError, match="crash between the sink renames"):
        run_resumable(spark, pages, lm, dr, cfg)
    monkeypatch.undo()
    left = _unacked_leaves(spark, cfg.out_dir)
    assert len([p for p in left if STAGE_DIR in p]) == 1
    assert len(left) == 3  # two renamed sink leaves + the staged rest
    run_resumable(spark, pages, lm, dr, cfg)

    assert _unacked_leaves(spark, cfg.out_dir) == []
    assert _sink_url_sets(spark, cfg.out_dir) == _sink_url_sets(spark, golden.out_dir)
    _assert_metrics_match_sinks(spark, cfg.out_dir)


def test_replay_crash_before_commit_recovers_each_row_once(spark, tmp_path, monkeypatch):
    """A replay dies after writing its recovered rows, metrics delta and
    remainder, but before its 'replay' ledger row: the dead-letter table is
    untouched, and the next replay recovers each row exactly once — the
    same outcome as one uninterrupted replay."""
    from shovel_spark.pipeline import read_dead_letters, replay_dead_letters

    pages, lm, dr = _inputs(spark)
    allow_all = dr.withColumn("action", F.lit("allow"))
    outs = {}
    for tag in ("golden", "crashed"):
        cfg = JobConfig(out_dir=str(tmp_path / tag), n_buckets=B)
        run_resumable(spark, pages, lm, dr, cfg)
        outs[tag] = cfg
    dead0 = read_dead_letters(spark, outs["crashed"].out_dir).count()

    want = replay_dead_letters(spark, pages, lm, allow_all, outs["golden"])
    assert want["recovered"] > 0
    _fail_once(monkeypatch, "replay")
    with pytest.raises(RuntimeError, match="crash before the ledger append"):
        replay_dead_letters(spark, pages, lm, allow_all, outs["crashed"])
    assert read_dead_letters(spark, outs["crashed"].out_dir).count() == dead0
    got = replay_dead_letters(spark, pages, lm, allow_all, outs["crashed"])
    assert got == want

    crashed = outs["crashed"].out_dir
    assert _unacked_leaves(spark, crashed) == []
    assert not any("__replay" in d for d in os.listdir(crashed))
    assert _sink_url_sets(spark, crashed) == _sink_url_sets(spark, outs["golden"].out_dir)
    _assert_metrics_match_sinks(spark, crashed)


def test_replay_that_empties_dead_letters(spark, tmp_path):
    """Every dead letter recovers: the emptied table still reads through
    read_dead_letters, and a run after it writes into the same layout."""
    from shovel_spark.pipeline import read_dead_letters, replay_dead_letters

    pages, lm, dr = _inputs(spark)
    probe = JobConfig(out_dir=str(tmp_path / "probe"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, probe)
    # keep only pages whose dead-lettering is a rule deny (parse failures
    # stay dead under any rules)
    parse_failed = read_dead_letters(spark, probe.out_dir).filter(
        ~F.col("error").startswith("domain_rule:deny")).select("url")
    clean = pages.join(parse_failed, "url", "left_anti")

    cfg = JobConfig(out_dir=str(tmp_path / "o"), n_buckets=B)
    run_resumable(spark, clean, lm, dr, cfg, max_buckets=4)
    res = replay_dead_letters(spark, clean, lm, dr.withColumn("action", F.lit("allow")), cfg)
    assert res["retried"] == res["recovered"] > 0 and res["still_dead"] == 0
    assert read_dead_letters(spark, cfg.out_dir).count() == 0
    _assert_metrics_match_sinks(spark, cfg.out_dir)
    run_resumable(spark, clean, lm, dr, cfg)  # the rest, after the replay
    assert read_dead_letters(spark, cfg.out_dir).count() > 0
    _assert_metrics_match_sinks(spark, cfg.out_dir)


def test_bucketed_run_then_replay_metrics_match_sinks(spark, tmp_path):
    """A run over a bucketed ingest commits metrics_by_bucket like one over
    plain pages, so sink_metrics_from_buckets holds after the run and after
    a replay."""
    from shovel_spark.pipeline import ingest_bucketed, replay_dead_letters

    pages, lm, dr = _inputs(spark)
    ingest = str(tmp_path / "ingest")
    ingest_bucketed(pages, ingest, n_buckets=B)
    cfg = JobConfig(out_dir=str(tmp_path / "out"), n_buckets=B)
    run_resumable(spark, spark.read.parquet(ingest), lm, dr, cfg, max_buckets=3)
    run_resumable(spark, spark.read.parquet(ingest), lm, dr, cfg)
    _assert_metrics_match_sinks(spark, cfg.out_dir)
    res = replay_dead_letters(spark, pages, lm, dr.withColumn("action", F.lit("allow")), cfg)
    assert res["recovered"] > 0
    _assert_metrics_match_sinks(spark, cfg.out_dir)


def test_replay_crash_mid_swap_rolls_forward(spark, tmp_path, monkeypatch):
    """A replay dies between the two renames of its dead-letter swap, after
    its 'replay' ledger row: the table is briefly absent, and the next call
    finishes the swap instead of restoring the old table."""
    from shovel_spark.pipeline import read_dead_letters, replay_dead_letters

    pages, lm, dr = _inputs(spark)
    allow_all = dr.withColumn("action", F.lit("allow"))
    outs = {}
    for tag in ("golden", "crashed"):
        outs[tag] = JobConfig(out_dir=str(tmp_path / tag), n_buckets=B)
        run_resumable(spark, pages, lm, dr, outs[tag])
    replay_dead_letters(spark, pages, lm, allow_all, outs["golden"])

    real_rename, calls = os.rename, []

    def flaky(src, dst):
        if src.endswith("__replay_tmp") and not calls:
            calls.append(1)
            raise OSError("crash between the swap's renames")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky)
    crashed = outs["crashed"].out_dir
    with pytest.raises(OSError, match="crash between the swap's renames"):
        replay_dead_letters(spark, pages, lm, allow_all, outs["crashed"])
    assert not os.path.exists(os.path.join(crashed, "sink_dead_letter"))
    assert run_resumable(spark, pages, lm, dr, outs["crashed"])["processed_buckets"] == []

    assert not any("__replay" in d for d in os.listdir(crashed))
    assert (read_dead_letters(spark, crashed).count()
            == read_dead_letters(spark, outs["golden"].out_dir).count())
    assert _sink_url_sets(spark, crashed) == _sink_url_sets(spark, outs["golden"].out_dir)
    _assert_metrics_match_sinks(spark, crashed)


def test_out_dir_refusals_write_nothing(spark, tmp_path):
    """The resumable paths refuse, before writing anything, an out dir they
    cannot manage with driver-side renames (a remote URI) and one whose
    sinks hold the bucket-partitioned layout (run_once, earlier versions);
    a file:// URI is a local path."""
    from shovel_spark.pipeline import replay_dead_letters, run_once

    pages, lm, dr = _inputs(spark)
    with pytest.raises(ValueError, match="local-filesystem-only"):
        run_resumable(spark, pages, lm, dr, JobConfig(out_dir="s3a://bucket/out", n_buckets=B))

    legacy = JobConfig(out_dir=str(tmp_path / "legacy"), n_buckets=B)
    run_once(spark, pages, lm, dr, legacy)
    before = sorted(os.listdir(legacy.out_dir))
    for call in (run_resumable, replay_dead_letters):
        with pytest.raises(ValueError, match="bucket-partitioned output .* --fresh"):
            call(spark, pages, lm, dr, legacy)
    assert sorted(os.listdir(legacy.out_dir)) == before  # no ledger, no leaves

    local = tmp_path / "local"
    run_resumable(spark, pages, lm, dr, JobConfig(out_dir=f"file://{local}", n_buckets=B),
                  max_buckets=1)
    assert (local / "metrics_by_bucket").is_dir() and _unacked_leaves(spark, str(local)) == []


def test_torn_driver_append_is_ignored_by_every_reader(spark, tmp_path, monkeypatch):
    """A crash inside a driver-side append, after its hidden temp file is
    written but before the rename, leaves ``.part-<uuid>.parquet.tmp``.
    Every reader skips such files — in the ledger, in ``progress`` and in
    a metrics leaf — so the run reads as if the append never started, and
    the resume redoes the buckets whose ``done`` append was torn."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from shovel_spark import ledger
    from shovel_spark.observability import read_progress
    from shovel_spark.pipeline import run_history, sink_metrics_from_buckets

    pages, lm, dr = _inputs(spark)
    golden = JobConfig(out_dir=str(tmp_path / "golden"), n_buckets=B)
    run_resumable(spark, pages, lm, dr, golden)

    cfg = JobConfig(out_dir=str(tmp_path / "torn"), n_buckets=B)
    out = cfg.out_dir
    run_resumable(spark, pages, lm, dr, cfg, max_buckets=3)
    real_rename = os.rename

    def torn(src, dst):
        if (os.path.dirname(src) == os.path.join(out, "ledger") and src.endswith(".tmp")
                and pq.read_table(src).column("status")[0].as_py() == "done"):
            raise OSError("crash before the rename")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", torn)
    with pytest.raises(OSError, match="crash before the rename"):
        run_resumable(spark, pages, lm, dr, cfg)
    monkeypatch.setattr(os, "rename", real_rename)
    assert len(glob.glob(os.path.join(out, "ledger", ".part-*.parquet.tmp"))) == 1
    done, _ = ledger.read_commits(spark, os.path.join(out, "ledger"))
    assert len(done) == 3
    assert len(run_resumable(spark, pages, lm, dr, cfg)["processed_buckets"]) == B - 3

    # a readable copy of a real file under a temp name would change every
    # total below if a reader took it in
    for table in ("progress", os.path.join("metrics_by_bucket", "*")):
        src = sorted(glob.glob(os.path.join(out, table, "part-*.parquet")))[0]
        shutil.copy(src, os.path.join(os.path.dirname(src), "." + os.path.basename(src) + ".tmp"))

    assert len(ledger.read_commits(spark, os.path.join(out, "ledger"))[0]) == B
    m = metrics_from_ledger(spark, out).first()
    gm = metrics_from_ledger(spark, golden.out_dir).first()
    assert (m["in_rows"], m["acked"], m["ignored"], m["rejected"]) == (
        gm["in_rows"], gm["acked"], gm["ignored"], gm["rejected"])
    hist = run_history(spark, out).collect()
    assert sorted((h["attempted"], h["completed"]) for h in hist) == [(B - 3, 0), (B - 3, B - 3), (B, 3)]
    assert read_progress(spark, out).filter(F.col("stage_id") == -1).count() == 3
    assert sink_metrics_from_buckets(spark, out).orderBy("sink").collect() == (
        sink_metrics_from_buckets(spark, golden.out_dir).orderBy("sink").collect())
    _assert_metrics_match_sinks(spark, out)


def test_ledger_mixing_spark_and_driver_written_files(spark, tmp_path):
    """A ledger that an earlier version appended with Spark writes (INT96
    ``completed_at``) and this version appends from the driver reads as
    one table, and the latest ``done`` row of a bucket wins whichever
    writer wrote it."""
    import time

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from shovel_spark import ledger
    from shovel_spark.pipeline import run_history
    from shovel_spark.schema import LEDGER_SCHEMA

    led = str(tmp_path / "mixed" / "ledger")

    def spark_append(run_id, status, bucket, n):
        rows = [(run_id, bucket, status, n, n, 0, 0, 0, "old", None)]
        (spark.createDataFrame(rows, LEDGER_SCHEMA)
         .withColumn("completed_at", F.current_timestamp())
         .write.mode("append").parquet(led))
        time.sleep(0.01)

    spark_append("rold", "attempt", 0, 0)
    spark_append("rold", "attempt", 1, 0)
    spark_append("rold", "done", 0, 10)
    spark_append("rold", "done", 1, 10)
    ledger.append_attempts(spark, led, "rnew", [1])
    ledger.append_ledger(spark, led, "rnew", [
        {"bucket": 1, "in_rows": 20, "acked": 20, "ignored": 0, "rejected": 0}], "new")
    time.sleep(0.01)
    spark_append("rlate", "done", 0, 30)

    def ts_type(f):
        meta = pq.ParquetFile(f).metadata
        return meta.schema.column(meta.schema.names.index("completed_at")).physical_type

    files = [os.path.join(led, f) for f in os.listdir(led) if f.endswith(".parquet")]
    assert sorted({ts_type(f) for f in files}) == ["INT64", "INT96"]
    assert spark.read.parquet(led).schema["completed_at"].dataType == T.TimestampType()
    assert ledger.read_commits(spark, led) == ({0, 1}, {"rold", "rnew", "rlate"})
    m = metrics_from_ledger(spark, str(tmp_path / "mixed")).first()
    assert (m["in_rows"], m["acked"], m["nacked"]) == (50, 50, 1)
    hist = {h["run_id"]: h for h in run_history(spark, str(tmp_path / "mixed")).collect()}
    assert {k: (h["attempted"], h["completed"], h["in_rows"]) for k, h in hist.items()} == {
        "rold": (2, 2, 20), "rnew": (1, 1, 20), "rlate": (0, 1, 30)}
