"""Plan-shape regression tests: the optimizations the engine's scale story
depends on must be visible in the physical plan (SURVEY.md §4) — if a code
change silently drops a broadcast or pushdown, these fail."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from shovel_spark.pipeline import JobConfig, build_routed
from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def routed_plan(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "p")
    synth_pages(spark, 200, seed=2).write.parquet(path)
    pages = spark.read.parquet(path)
    routed = build_routed(pages, default_lang_map(spark), default_domain_rules(spark), JobConfig())
    return _plan(routed.groupBy("status", "sink").count())


def test_lookups_are_broadcast_joins(routed_plan):
    tree = routed_plan[: routed_plan.index("(1) ")]  # plan tree, before node details
    assert tree.count("BroadcastHashJoin") == 2  # lang map + domain rules
    assert "SortMergeJoin" not in routed_plan
    # the lookups are deduplicated on the driver: no shuffle builds either
    # broadcast side
    lines = tree.splitlines()

    def col(line):
        return len(line) - len(line.lstrip(" :+-"))

    builds = [i for i, line in enumerate(lines) if "BroadcastExchange" in line]
    assert len(builds) == 2
    for i in builds:
        below = itertools.takewhile(lambda line: col(line) > col(lines[i]), lines[i + 1:])
        assert not [line for line in below if "Exchange" in line], tree


def test_count_plan_prunes_text_and_warc_ts(routed_plan):
    # count-only aggregation must not read unused source columns
    scan = routed_plan[routed_plan.index("(1) Scan parquet") :]
    read_schema = scan[: scan.index("\n\n")]
    assert "html" in read_schema  # needed for parse-ok routing
    assert "warc_ts" not in read_schema
    assert "text:" not in read_schema.replace("ReadSchema", "")


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "pages")
    synth_pages(spark, 200, seed=2).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("lang") == "en").select("url")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "ReadSchema: struct<url:string,lang:string>" in plan


def test_whole_stage_codegen_covers_route_chain(spark, tmp_path):
    # codegen spans only show in the AQE final plan, after execution
    path = str(tmp_path / "pages")
    synth_pages(spark, 200, seed=2).write.parquet(path)
    pages = spark.read.parquet(path)
    df = build_routed(
        pages, default_lang_map(spark), default_domain_rules(spark), JobConfig()
    ).groupBy("status", "sink").count()
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # '*(N)' prefixes mark WholeStageCodegen spans in the executed plan
    assert "*(" in final
    # the route/parse projection itself is inside a codegen span
    assert "Project [CASE WHEN" in final and "*(" in final.split("Project [CASE WHEN")[0].rsplit("+-", 1)[-1]


def test_partial_aggregation_before_shuffle(routed_plan):
    # map-side combine: HashAggregate below the Exchange
    ex = routed_plan.index("Exchange")
    assert "HashAggregate" in routed_plan[ex:]
    assert "HashAggregate" in routed_plan[:ex]


def test_no_cartesian_product_in_any_contract_query(spark):
    """Global plan-quality gate: no contract query may plan a
    CartesianProduct (the O(n*m) shuffle-everything join). The only
    BroadcastNestedLoopJoins allowed are the intentional broadcast
    crossJoins against config-sized sides (a 4-row band table, a 1-row
    query vector, k centroids, a 50-row hard-negative query batch with a
    label-mismatch predicate, the bigram LM's 1-row vocabulary-size
    aggregate, the count-min sketch's 1-row derived total, DSIR's 1-row
    corpus-total aggregates, margin mining's intentional in-fence cross
    of the two broadcastable vector sets) — the correct plan for those
    shapes."""
    import __spark_entry__ as e

    bnlj_ok = {
        "docs_minhash_bands",
        "emb_cosine_topk",
        "emb_kmeans_cells",
        "emb_hard_negatives",
        "docs_bigram_lm_scores",
        "emb_semantic_dedup",
        "events_heavy_hitters_cm",
        "events_hll_users",
        "events_bloom_signup_filter",
        "docs_dedup_suite",
        "docs_dsir_sample",
        "emb_margin_mining",
        "docs_bm25_search",  # 1-row corpus stats (N, avgdl) broadcast
        "docs_phrase_mining",  # 1-row corpus token total broadcast
        "events_hll_sharded_union",  # 1-row merged estimate broadcast
        "events_value_qhist",  # 3-row quantile frame + 1-row total broadcast
        "events_type_drift",  # 1-row psi/js totals broadcast
        "events_value_drift_qhist",  # same 1-row totals broadcast shape
    }
    offenders = {}
    for name, fn in e.queries().items():
        plan = fn(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_funnel_and_cohort_plans_are_window_free(spark):
    """The event-analytics pair must compile to joins + aggregations, never
    a window over the raw event stream (a per-key window would sort every
    hot user's full history in one task)."""
    from datetime import datetime as dt

    from shovel_spark.operators.aggregate import cohort_retention
    from shovel_spark.operators.windows import funnel_times

    rows = [(i % 5, t, dt(2024, 1, 1 + i % 9)) for i, t in
            enumerate(["signup", "view", "click", "purchase"] * 10)]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    for out in (
        funnel_times(df, ["view", "click", "purchase"], ["user_id"]),
        cohort_retention(df),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan
