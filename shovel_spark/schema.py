"""Canonical schemas.

Shovel's Message is schema-free (reference: src/core/message.js:51-64); a
given pipeline YAML fixes its shape at config time, so the Spark-native
equivalent is a fixed StructType per pipeline (SURVEY.md §1.1). The envelope
fields map:

    uuid    -> sha2(url, 256)  (deterministic; cuid() is wall-clock+random)
    date    -> warc_ts         (event time from data, never now())
    source  -> html: binary    (raw undecoded payload)
    content -> parsed struct   (text/title/... extracted by the parse stage)
    headers -> typed columns   (status, sink, error)
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Primary input: Common-Crawl-style pages (BASELINE.json input_hint, exact).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

#: Output of the parse stage (decoder-slot analog, SURVEY.md §2.2).
PARSED_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

#: Broadcast enrichment lookups (util.translate analog, reference:
#: src/core/utils.js:74-76).
LANG_MAP_SCHEMA = T.StructType(
    [
        T.StructField("lang_raw", T.StringType(), False),
        T.StructField("lang_norm", T.StringType(), False),
    ]
)

DOMAIN_RULES_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("action", T.StringType(), False),  # allow | deny
        T.StructField("sink", T.StringType(), True),  # routing override
    ]
)

#: Checkpoint ledger row — the batch analog of shovel's LevelDB-persisted
#: queue with replay of unacked messages (reference: src/queues/batch.js:61-98).
LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),  # attempt / done / replay
        T.StructField("in_rows", T.LongType(), False),
        T.StructField("acked", T.LongType(), False),
        T.StructField("nacked", T.LongType(), False),
        T.StructField("ignored", T.LongType(), False),
        T.StructField("rejected", T.LongType(), False),
        T.StructField("lineage", T.StringType(), True),  # input path + filter
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)

#: End-of-run totals, mirroring the reference's shape
#: (reference: src/core/master.js:183-185 {workers,in,acked,nacked,...}).
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("pipeline", T.StringType(), False),
        T.StructField("sink", T.StringType(), True),  # null = pipeline total
        T.StructField("in_rows", T.LongType(), False),
        T.StructField("acked", T.LongType(), False),
        T.StructField("nacked", T.LongType(), False),
        T.StructField("ignored", T.LongType(), False),
        T.StructField("rejected", T.LongType(), False),
    ]
)

#: Routing status values (reference taxonomy: src/core/processor.js:120-144).
STATUS_ACKED = "acked"
STATUS_IGNORED = "ignored"
STATUS_REJECTED = "rejected"
DEAD_LETTER_SINK = "dead_letter"
