"""End-to-end: Spark pipeline counts + routed-row sets == pure-Python oracle.

This is BASELINE.md's "per-sink aggregate count equality" and "routed-row set
equality" gate: the oracle independently replays shovel's taxonomy
(reference: src/core/processor.js:120-144) over the same rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shovel_spark.operators.aggregate import sink_metrics
from shovel_spark.oracle import run_oracle
from shovel_spark.pipeline import JobConfig, build_routed
from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

N = 3000
SEED = 11


@pytest.fixture(scope="module")
def routed(spark):
    cfg = JobConfig(n_buckets=16)
    df = build_routed(
        synth_pages(spark, N, seed=SEED),
        default_lang_map(spark),
        default_domain_rules(spark),
        cfg,
    )
    df.persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def oracle(spark):
    rows = [r.asDict() for r in synth_pages(spark, N, seed=SEED).collect()]
    lang_map = {r.lang_raw: r.lang_norm for r in default_lang_map(spark).collect()}
    dom = {r.domain: (r.action, r.sink) for r in default_domain_rules(spark).collect()}
    sink_rules = [
        ("hot", "rule_sink", "hot"),
        ("commerce", "rule_sink", "commerce"),
        ("knowledge", "rule_sink", "knowledge"),
        ("media", "rule_sink", "media"),
        ("english", "lang_norm", "en"),
        ("intl", "lang_norm", frozenset({"fr", "de", "es", "zh", "ja"})),
    ]
    return run_oracle(rows, lang_map, dom, sink_rules)


def test_status_counts_match_oracle(routed, oracle):
    got = {r["status"]: r["count"] for r in routed.groupBy("status").count().collect()}
    assert got["acked"] == oracle.counts["acked"]
    assert got["rejected"] == oracle.counts["rejected"]
    assert got.get("ignored", 0) == oracle.counts["ignored"]
    assert sum(got.values()) == oracle.counts["in"] == N


def test_per_sink_counts_match_oracle(routed, oracle):
    got = {
        r["sink"]: r["count"]
        for r in routed.filter(F.col("sink").isNotNull()).groupBy("sink").count().collect()
    }
    want = dict(oracle.sink_counts)
    want["dead_letter"] = oracle.counts["rejected"]
    assert got == {k: v for k, v in want.items() if v}


def test_routed_row_sets_match_oracle(routed, oracle):
    for sink, urls in oracle.sink_rows.items():
        got = {r["url"] for r in routed.filter(F.col("sink") == sink).select("url").collect()}
        assert got == urls, f"row set mismatch for sink {sink}"


def test_extracted_text_matches_oracle(routed, oracle):
    rows = routed.filter(F.col("status") != "rejected").select("url", "text").collect()
    mismatches = [r.url for r in rows if oracle.texts.get(r.url) != r.text]
    assert not mismatches


def test_metrics_shape_and_totals(routed, oracle):
    m = sink_metrics(routed).collect()
    total = next(r for r in m if r["sink"] is None)
    assert total["in_rows"] == N
    assert total["acked"] == oracle.counts["acked"]
    assert total["rejected"] == oracle.counts["rejected"]
    assert total["ignored"] == oracle.counts["ignored"]
    assert total["nacked"] == 0
    per = {r["sink"]: r for r in m if r["sink"] is not None}
    assert per["dead_letter"]["rejected"] == oracle.counts["rejected"]
    for sink, n in oracle.sink_counts.items():
        if sink == "dead_letter":
            continue  # dead-letter rows are rejected, not acked
        assert per[sink]["acked"] == n


def test_lookup_duplicate_and_null_keys(spark, oracle):
    """A lookup keeps the first row of a key listed twice and never
    matches a NULL key: routing over maps that carry both equals the
    oracle over the clean maps, with no fact row multiplied."""
    from shovel_spark.operators.enrich import apply_domain_rules, translate
    from shovel_spark.session import local_rows_df

    lm = default_lang_map(spark).collect() + [("en", "xx"), (None, "nul")]
    dr = default_domain_rules(spark).collect() + [
        ("news.example.com", "deny", None), (None, "deny", None),
    ]
    routed = build_routed(
        synth_pages(spark, N, seed=SEED),
        local_rows_df(spark, lm, "lang_raw string, lang_norm string"),
        local_rows_df(spark, dr, "domain string, action string, sink string"),
        JobConfig(n_buckets=16),
    )
    sinks = {
        r["sink"]: r["count"]
        for r in routed.filter(F.col("sink").isNotNull()).groupBy("sink").count().collect()
    }
    want = dict(oracle.sink_counts)
    want["dead_letter"] = oracle.counts["rejected"]
    assert sinks == {k: v for k, v in want.items() if v}
    statuses = {r["status"]: r["count"] for r in routed.groupBy("status").count().collect()}
    assert statuses == {s: oracle.counts[s] for s in ("acked", "ignored", "rejected") if oracle.counts[s]}
    assert sum(statuses.values()) == N

    df = local_rows_df(spark, [(1, "a"), (2, None), (3, "b")], "id int, k string")
    mapping = local_rows_df(spark, [("a", "1"), ("a", "2"), (None, "n")], "k string, v string")
    out = translate(df, "k", mapping, "k", "v", "v", default="d").orderBy("id").collect()
    assert [(r.id, r.v) for r in out] == [(1, "1"), (2, "d"), (3, "d")]
    rules = local_rows_df(
        spark, [("x.com", "deny", None), ("x.com", "allow", "hot"), (None, "deny", None)],
        "domain string, action string, sink string",
    )
    doms = local_rows_df(spark, [(1, "x.com"), (2, None)], "id int, domain string")
    out = apply_domain_rules(doms, rules).orderBy("id").collect()
    assert [(r.id, r.rule_action, r.rule_sink) for r in out] == [(1, "deny", None), (2, None, None)]


def test_sink_payload_encoding(spark, routed, tmp_path):
    """Encoder-at-sink (reference: src/encoders/json.js): payload column
    round-trips through from_json."""
    import json

    from shovel_spark.io.sinks import write_sinks
    from shovel_spark.pipeline import OUTPUT_COLS

    paths = write_sinks(
        routed, str(tmp_path / "enc"), ["english"],
        partition_cols=["bucket"], output_cols=OUTPUT_COLS, payload_format="json",
    )
    row = spark.read.parquet(paths["english"]).first()
    decoded = json.loads(row.payload)
    assert decoded["url"] == row.url
    assert decoded["status"] == "acked"


def test_sink_payload_encoding_msgpack(spark, routed, tmp_path):
    """Encoder-at-sink, msgpack flavor (reference: src/encoders/msgpack.js):
    the sink's payload bytes unpack back to the row's fields."""
    from shovel_spark.functions.wire import msgpack_unpackb
    from shovel_spark.io.sinks import write_sinks
    from shovel_spark.pipeline import OUTPUT_COLS

    paths = write_sinks(
        routed, str(tmp_path / "encmp"), ["english"],
        partition_cols=["bucket"], output_cols=OUTPUT_COLS, payload_format="msgpack",
    )
    row = spark.read.parquet(paths["english"]).first()
    decoded = msgpack_unpackb(bytes(row.payload))
    assert decoded["url"] == row.url
    assert decoded["status"] == "acked"


def test_write_sinks_wide_fanout(spark, tmp_path):
    """12-sink fan-out: every sink directory lands with exactly its own rows
    (no cross-sink leakage out of the one write job)."""
    from pyspark.sql import functions as F

    from shovel_spark.io.sinks import write_sinks

    sinks = [f"s{i:02d}" for i in range(12)]
    df = spark.range(1200).select(
        F.col("id"), F.concat(F.lit("s"), F.lpad((F.col("id") % 12).cast("string"), 2, "0")).alias("sink")
    )
    paths = write_sinks(df, str(tmp_path / "wide"), sinks)
    assert set(paths) == set(sinks)
    for name in sinks:
        got = spark.read.parquet(paths[name])
        rows = got.select("id").collect()
        assert len(rows) == 100
        assert all(r.id % 12 == int(name[1:]) for r in rows)


def test_write_sinks_one_job_in_every_mode(spark, tmp_path):
    """Every write_sinks call is ONE write job, whatever its mode. A
    partitioned overwrite replaces only the partitions it writes and keeps
    the others; an append keeps the rows already there; a plain overwrite
    replaces the sink. Sink "a" holds the even ids, "b" the odd ones."""
    import os

    from shovel_spark.io.sinks import STAGE_DIR, write_sinks

    st = spark.sparkContext.statusTracker()

    def write(ids, out, **kw):
        df = spark.createDataFrame([(i, i % 4, "ab"[i % 2]) for i in ids], "id long, bucket int, sink string")
        before = len(st.getJobIdsForGroup(None))
        paths = write_sinks(df, str(tmp_path / out), ["a", "b"], **kw)
        assert len(st.getJobIdsForGroup(None)) - before == 1, kw
        assert not os.path.exists(tmp_path / out / STAGE_DIR)
        return {n: sorted(r.id for r in spark.read.parquet(p).select("id").collect())
                for n, p in paths.items()}

    def split(ids):
        return {n: sorted(i for i in ids if "ab"[i % 2] == n) for n in "ab"}

    write(range(40), "part", partition_cols=["bucket"])
    new = [i for i in range(100, 120) if i % 4 < 2]  # buckets 0 and 1 only
    kept = [i for i in range(40) if i % 4 >= 2]
    assert write(new, "part", partition_cols=["bucket"]) == split(kept + new)
    assert write(range(200, 204), "part", partition_cols=["bucket"], mode="append") == split(
        kept + new + list(range(200, 204)))
    assert sorted(os.listdir(tmp_path / "part" / "sink_a")) == ["bucket=0", "bucket=2"]

    write(range(10), "append", mode="append")
    assert write(range(10, 20), "append", mode="append") == split(range(20))
    write(range(10), "plain")
    assert write(range(50, 60), "plain") == split(range(50, 60))
    assert write(range(10), "leaf", leaf="run=r1") == split(range(10))


def test_write_sinks_leaf_one_job(spark, tmp_path):
    """``leaf=`` writes every sink in one job into ``sink_<name>/<leaf>``:
    each leaf holds exactly its sink's rows with ``sink`` kept as a column,
    rows of unlisted or null sinks go nowhere, a sink without rows gets an
    empty leaf that still reads, and the staging directory is gone."""
    import os

    from shovel_spark.io.sinks import STAGE_DIR, write_sinks

    df = spark.range(300).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "a").when(F.col("id") % 3 == 1, "b").alias("sink"),
    )
    out = str(tmp_path / "leaf")
    st = spark.sparkContext.statusTracker()
    jobs_before = len(st.getJobIdsForGroup(None))
    paths = write_sinks(df, out, ["a", "b", "empty"], leaf="run=r1", payload_format="json")
    assert len(st.getJobIdsForGroup(None)) - jobs_before == 2  # the write + the empty leaf
    assert paths == {s: os.path.join(out, f"sink_{s}", "run=r1") for s in ("a", "b", "empty")}
    for name, mod in (("a", 0), ("b", 1)):
        rows = spark.read.parquet(paths[name]).collect()
        assert len(rows) == 100
        assert all(r.id % 3 == mod and r.sink == name and f'"id":{r.id}' in r.payload for r in rows)
    empty = spark.read.parquet(paths["empty"])
    assert empty.count() == 0 and empty.columns == ["id", "sink", "payload"]
    assert not os.path.exists(os.path.join(out, STAGE_DIR))
    with pytest.raises(ValueError):
        write_sinks(df, out, ["a"], leaf="run=r2", partition_cols=["id"])


def test_jsonl_file_input_through_decoder_slot(spark, tmp_path):
    """File input + decoder slot end-to-end (reference: file input feeding
    the json decoder): JSON-lines on disk → spark.read.text → decode_json →
    the SAME build_routed chain, counts matching a direct-parquet run."""
    import base64

    from shovel_spark.functions.codecs import decode_json
    from shovel_spark.pipeline import JobConfig, build_routed
    from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

    pages = synth_pages(spark, 500, seed=7)
    jsonl = pages.select(
        F.to_json(
            F.struct("url", "warc_ts", F.base64("html").alias("html_b64"), "text", "lang")
        ).alias("value")
    )
    path = str(tmp_path / "pages.jsonl")
    jsonl.coalesce(1).write.mode("overwrite").text(path)

    schema = "url string, warc_ts timestamp, html_b64 string, text string, lang string"
    decoded = (
        spark.read.text(path)
        .withColumn("r", decode_json(F.col("value"), schema))
        .select("r.*")
        .withColumn("html", F.unbase64("html_b64"))
        .drop("html_b64")
    )
    cfg = JobConfig(n_buckets=8)
    lm, dr = default_lang_map(spark), default_domain_rules(spark)
    via_file = build_routed(decoded, lm, dr, cfg).groupBy("status").count().collect()
    direct = build_routed(pages, lm, dr, cfg).groupBy("status").count().collect()
    assert {(r.status, r["count"]) for r in via_file} == {
        (r.status, r["count"]) for r in direct
    }


def test_gzip_jsonl_input_through_decoder_slot(spark, tmp_path):
    """Compressed log intake (the shape real log shippers deliver:
    rotated .jsonl.gz): Spark's text source decompresses .gz transparently,
    and the SAME decode_json → build_routed chain produces counts identical
    to the uncompressed run. Note .gz files are not splittable — one task
    per file, so at scale the input should arrive as many files (it does:
    one per rotation), which is exactly how parallelism is preserved."""
    import gzip
    import os

    from shovel_spark.functions.codecs import decode_json
    from shovel_spark.pipeline import JobConfig, build_routed
    from shovel_spark.synth import default_domain_rules, default_lang_map, synth_pages

    pages = synth_pages(spark, 300, seed=11)
    rows = pages.select(
        F.to_json(
            F.struct("url", "warc_ts", F.base64("html").alias("html_b64"), "text", "lang")
        ).alias("value")
    ).collect()
    gz_dir = tmp_path / "gz"
    os.makedirs(gz_dir)
    # two files -> two input tasks (the rotation-preserves-parallelism shape)
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with gzip.open(gz_dir / f"pages_{i}.jsonl.gz", "wt") as f:
            f.write("\n".join(r.value for r in chunk) + "\n")

    schema = "url string, warc_ts timestamp, html_b64 string, text string, lang string"
    decoded = (
        spark.read.text(str(gz_dir))
        .withColumn("r", decode_json(F.col("value"), schema))
        .select("r.*")
        .withColumn("html", F.unbase64("html_b64"))
        .drop("html_b64")
    )
    cfg = JobConfig(n_buckets=8)
    lm, dr = default_lang_map(spark), default_domain_rules(spark)
    via_gz = build_routed(decoded, lm, dr, cfg).groupBy("status").count().collect()
    direct = build_routed(pages, lm, dr, cfg).groupBy("status").count().collect()
    assert {(r.status, r["count"]) for r in via_gz} == {
        (r.status, r["count"]) for r in direct
    }


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """64 tiny files compact to a handful; rows and values survive exactly;
    a partitioned layout stays partitioned."""
    from shovel_spark.io.sinks import compact_parquet

    path = str(tmp_path / "many")
    df = spark.range(50_000).select(
        F.col("id"), (F.col("id") % 4).alias("part"), (F.col("id") * 1.5).alias("v")
    )
    df.repartition(64).write.parquet(path)
    before_sum = spark.read.parquet(path).agg(F.sum("v")).first()[0]

    stats = compact_parquet(spark, path, target_file_mb=256)
    assert stats["files_before"] == 64
    assert stats["files_after"] < 8
    after = spark.read.parquet(path)
    assert after.count() == 50_000
    assert after.agg(F.sum("v")).first()[0] == before_sum

    # partitioned layout: compacted per partition directory
    ppath = str(tmp_path / "parts")
    df.repartition(32).write.partitionBy("part").parquet(ppath)
    stats = compact_parquet(spark, ppath, target_file_mb=256, partition_cols=["part"])
    assert stats["files_after"] < stats["files_before"]
    got = spark.read.parquet(ppath)
    assert got.count() == 50_000
    assert sorted(r.part for r in got.select("part").distinct().collect()) == [0, 1, 2, 3]


def test_compact_parquet_edges(spark, tmp_path):
    """Remote URIs are refused, an empty directory raises a clear error
    (not a Spark stack trace), and a crash between the two swap renames
    self-heals on the next call."""
    import os
    import pytest

    from shovel_spark.io.sinks import compact_parquet

    with pytest.raises(ValueError, match="local-filesystem-only"):
        compact_parquet(spark, "s3a://bucket/sink")

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_parquet(spark, str(empty))

    p = str(tmp_path / "heal")
    spark.range(5000).repartition(8).write.parquet(p)
    os.rename(p, p + "__precompact")  # the crash-between-renames state
    stats = compact_parquet(spark, p)  # must restore, then compact
    assert stats["files_before"] == 8
    assert spark.read.parquet(p).count() == 5000
    assert not os.path.exists(p + "__precompact")
