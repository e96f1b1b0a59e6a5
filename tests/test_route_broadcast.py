"""Broadcast-mode routing: a row reaches every matching sink
(reference: src/outputs/pipeline.js:18-30, mode=broadcast vs fanout)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shovel_spark.functions.parse import parse_pages
from shovel_spark.operators.enrich import apply_domain_rules, normalize_lang
from shovel_spark.operators.route import (
    SinkRule,
    apply_routes,
    apply_routes_broadcast,
    default_sink_rules,
)
from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages


@pytest.fixture(scope="module")
def enriched(spark):
    df = parse_pages(synth_pages(spark, 2000, seed=17))
    df = normalize_lang(df, default_lang_map(spark))
    return apply_domain_rules(df, default_domain_rules(spark)).persist()


def test_broadcast_superset_of_fanout(enriched):
    rules = default_sink_rules()
    fan = apply_routes(enriched, rules).select("url", "sink").filter(F.col("sink").isNotNull())
    bc = apply_routes_broadcast(enriched, rules).select("url", F.explode("sinks").alias("sink"))
    fan_set = {(r.url, r.sink) for r in fan.collect()}
    bc_set = {(r.url, r.sink) for r in bc.collect()}
    assert fan_set <= bc_set  # first-match is always among the matches
    assert len(bc_set) > len(fan_set)  # hot-domain english rows match 2 sinks


def test_broadcast_multi_sink_rows(enriched):
    rules = default_sink_rules()
    bc = apply_routes_broadcast(enriched, rules)
    multi = bc.filter(F.size("sinks") > 1)
    rows = multi.select("lang_norm", "rule_sink", "sinks").limit(5).collect()
    assert rows
    for r in rows:  # e.g. rule_sink=hot AND lang en → [hot, english]
        assert len(set(r.sinks)) == len(r.sinks)


def test_broadcast_status_taxonomy(enriched):
    rules = default_sink_rules()
    fan = apply_routes(enriched, rules).groupBy("status").count().collect()
    bc = apply_routes_broadcast(enriched, rules).groupBy("status").count().collect()
    # delivery counts are per-message, identical in both modes
    assert {(r["status"], r["count"]) for r in fan} == {(r["status"], r["count"]) for r in bc}


def test_broadcast_rejected_only_dead_letter(enriched):
    bc = apply_routes_broadcast(enriched, default_sink_rules())
    rej = bc.filter(F.col("status") == "rejected").select("sinks").distinct().collect()
    assert [list(r.sinks) for r in rej] == [["dead_letter"]]


def test_write_sinks_broadcast_row_in_every_matching_dir(spark, tmp_path):
    """Broadcast mode through the one writer: exploding the row's ``sinks``
    into ``sink`` lands a row matching k sink predicates in all k sink
    directories (reference: src/outputs/pipeline.js mode=broadcast)."""
    from shovel_spark.io.sinks import write_sinks

    df = spark.createDataFrame(
        [("u1", ["a", "b"]), ("u2", ["b"]), ("u3", [])],
        "url string, sinks array<string>",
    )
    per_sink = df.select("url", F.explode("sinks").alias("sink"))
    paths = write_sinks(per_sink, str(tmp_path / "bc"), ["a", "b"], output_cols=["url"])
    a = {r.url for r in spark.read.parquet(paths["a"]).collect()}
    b = {r.url for r in spark.read.parquet(paths["b"]).collect()}
    assert a == {"u1"} and b == {"u1", "u2"}
