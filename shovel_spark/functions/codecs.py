"""Codec functions — decoder/encoder slot parity (SURVEY.md §2.2, §2.4).

Shovel's decoders turn ``source`` bytes into structured ``content`` and
encoders do the inverse (reference: src/decoders/*.js, src/encoders/*.js).
Spark-first: every codec that has a built-in stays JVM-side (from_json /
from_csv / unbase64 / ...); the binary wire formats with no built-in
(msgpack, json5, protobuf) are Arrow-batched pandas UDFs over the
pure-Python wire codecs in functions/wire.py — never row-at-a-time Python.

Schemas are fixed at plan time: shovel's "dynamic" decode is config-time
dynamism too (a given pipeline YAML fixes the shape of content).
"""

from __future__ import annotations

import json
import re

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- json (reference: src/decoders/json.js:1-15, src/encoders/json.js:13-35)

def decode_json(col: Column, schema) -> Column:
    """bytes/str → struct. Unparseable input → null struct (shovel's handler
    exception ≙ reject; the caller routes null to dead-letter)."""
    return F.from_json(col.cast("string"), schema)


def encode_json(col: Column) -> Column:
    return F.to_json(col)


def raw_prefilter(raw: Column, must_contain: list[str]) -> Column:
    """Sparser-style filter-before-parse (public technique: "Filter Before
    You Parse", VLDB 2018): a cheap raw-substring conjunction applied to
    the UNPARSED line, discarding most non-matching input before the
    expensive from_json.

    The filter must be an OVER-approximation of the real predicate (every
    line the predicate would keep MUST contain all the tokens — e.g.
    predicate ``lang = 'fr'`` with token ``'"lang":"fr"'`` when the
    producer's field order/spacing is fixed, or just ``'fr'`` when it is
    not); the exact predicate still runs after parsing, so false positives
    only cost a parse, never correctness. contains() compiles to a
    codegen'd UTF8String.contains — no regex engine, ~cost of a memchr
    scan vs a full JSON parse per line.
    """
    cond = F.lit(True)
    for token in must_contain:
        cond = cond & raw.contains(token)
    return cond


# --- csv (reference: src/decoders/csv.js:3-53, src/encoders/csv.js:3-53)

def decode_csv(col: Column, schema: str, **options: str) -> Column:
    """One line → struct; delimiter/quote/escape options mirror the
    reference's config surface (src/decoders/csv.js:6-31)."""
    opts = {"sep": options.get("delimiter", ","), **options}
    opts.pop("delimiter", None)
    return F.from_csv(col.cast("string"), schema, opts)


def encode_csv(col: Column, **options: str) -> Column:
    opts = {"sep": options.get("delimiter", ","), **options}
    opts.pop("delimiter", None)
    return F.to_csv(col, opts)


# --- base64 (reference: src/decoders/base64.js:1-15, src/encoders/base64.js)

def decode_base64(col: Column, encoding: str = "UTF-8") -> Column:
    """Base64 → text. Invalid byte sequences decode with U+FFFD replacement
    (binary→string cast semantics) rather than failing the task — Spark 4's
    F.decode(..., 'UTF-8') raises MALFORMED_CHARACTER_CODING on one bad
    payload, which would violate the per-row error-isolation contract
    (same Buffer.toString semantics as parse._decode_utf8)."""
    if encoding.upper().replace("-", "") == "UTF8":
        return F.unbase64(col).cast("string")
    return F.decode(F.unbase64(col), encoding)


def encode_base64(col: Column) -> Column:
    return F.base64(col.cast("binary"))


# --- xml (decoder-slot family member the reference lacks natively; payloads
# in the wild are XML often enough — sitemaps, RSS, SOAP — that the codec
# registry needs the pair. JVM-side from_xml/to_xml: whole-stage codegen,
# no Python, malformed input -> NULL struct like decode_json)

def decode_xml(col: Column, schema: str, **options: str) -> Column:
    """Parse an XML string into a typed struct (Spark 4 ``from_xml``).
    ``schema`` is a DDL string, e.g. ``"a INT, b STRING"``; unparseable
    input yields a NULL struct (per-row error isolation, same policy as
    the json decoder)."""
    return F.from_xml(col, schema, options or None)


def encode_xml(col: Column, **options: str) -> Column:
    """Render a struct as an XML string (``to_xml``); inverse of
    :func:`decode_xml` for matching schemas."""
    return F.to_xml(col, options or None)


# --- multiline (reference: src/decoders/multiline.js:1-18 — WIP/broken in
# the reference: it emits an empty message and never joins the stack; here
# the batch form is well-defined: group lines into blank-line-delimited
# blocks and emit one row per block)

def assemble_multiline(df, line_col: str = "line", order_col: str = "id", part_col: str | None = None):
    """Stack consecutive lines until a blank line; one output row per block.

    Batch equivalent of the accumulate-and-flush decoder: a running count of
    blank lines (window cumsum) is the block id — one shuffle, no Python.

    ``part_col`` (e.g. the source file) scopes the window: each partition
    key sorts independently and blocks never span keys — the scale-safe
    form (a log corpus has a natural file/host boundary, and blocks never
    cross it). With ``part_col=None`` the window is GLOBAL: one task sorts
    the entire input — correct, but only for small corpora; at scale always
    pass the boundary column.
    """
    from pyspark.sql import Window

    if part_col is not None:
        w = Window.partitionBy(part_col).orderBy(order_col)
        keys = [F.col(part_col), F.col("block_id")]
        out_keys = [part_col, "block_id"]
    else:
        w = Window.orderBy(order_col)
        keys = [F.col("block_id")]
        out_keys = ["block_id"]
    block = F.sum(F.when(F.col(line_col) == "", 1).otherwise(0)).over(w)
    # collect_list carries (order, line) and sorts inside the group:
    # groupBy gives NO intra-group order guarantee (single-partition test
    # runs hide that; a shuffled cluster run would scramble block lines)
    lines = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(line_col).alias("l")))
    )
    return (
        df.withColumn("block_id", block)
        .filter(F.col(line_col) != "")
        .groupBy(*keys)
        .agg(F.array_join(F.transform(lines, lambda s: s["l"]), "\n").alias("block"))
        .select(*out_keys, "block")
    )


# --- delimited stream decode: 1 payload → N records (reference:
# src/decoders/protobuf.js:111-141 keeps a cross-message remainder buffer and
# emits N messages per input; the batch equivalent is split + explode — the
# "remainder" problem disappears because a batch row is a complete payload)

def explode_delimited(df, payload_col: str, schema, delimiter: str = "\n", out_col: str = "record"):
    """Split a delimited payload column and decode each piece: the 1→N
    fan-out decode. Blank segments are dropped (framing artifacts); segments
    that fail to decode yield a null struct (dead-letter them downstream,
    per-record error isolation)."""
    pieces = F.explode(
        F.filter(F.split(F.col(payload_col).cast("string"), delimiter), lambda p: p != "")
    ).alias("__piece")
    return df.select("*", pieces).withColumn(
        out_col, F.from_json(F.col("__piece"), schema)
    ).drop("__piece")


# --- msgpack / json5 / protobuf (Arrow-batched pandas UDFs over the
# pure-Python wire codecs in functions/wire.py — the npm libraries the
# reference uses (msgpackr / json5 / protobufjs) have no in-sandbox Python
# twin, so the PUBLIC wire specs are implemented from scratch there)

def _as_struct_type(schema):
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(schema)
    return schema


def _records_to_frame(records, schema):
    # plain constructor, not from_records: an all-empty-dict batch must still
    # produce len(records) rows (one null row per failed decode)
    return pd.DataFrame(
        [r if isinstance(r, dict) else {} for r in records],
        columns=[f.name for f in schema.fields],
    )


def make_msgpack_decoder(schema):
    """Arrow-batched msgpack decoder (reference: src/decoders/msgpack.js).
    Per-record error isolation: an unpack failure yields an all-null row
    (dead-letter it downstream), never a task failure."""
    from pyspark.sql.functions import pandas_udf

    from shovel_spark.functions.wire import msgpack_unpackb

    schema = _as_struct_type(schema)

    @pandas_udf(schema)
    def decode_msgpack(col: pd.Series) -> pd.DataFrame:
        records = []
        for b in col:
            try:
                records.append(None if b is None else msgpack_unpackb(bytes(b)))
            except Exception:
                records.append(None)
        return _records_to_frame(records, schema)

    return decode_msgpack


def encode_msgpack(col: Column) -> Column:
    """struct → msgpack bytes (reference: src/encoders/msgpack.js:1-10).

    The struct crosses to Python as canonical JSON (to_json bridge) so the
    encoder is schema-agnostic; JSON-representable types map 1:1 onto
    msgpack's (the reference's message.content is JSON-shaped too)."""
    from pyspark.sql.functions import pandas_udf

    from shovel_spark.functions.wire import msgpack_packb

    @pandas_udf("binary")
    def _enc(js: pd.Series) -> pd.Series:
        return js.map(lambda s: None if s is None else msgpack_packb(json.loads(s)))

    return _enc(F.to_json(col))


def make_json5_decoder(schema):
    """json5 decoder (reference: src/decoders/json5.js) over the pure
    JSON5 parser in wire.py. Parse failure → all-null row."""
    from pyspark.sql.functions import pandas_udf

    from shovel_spark.functions.wire import json5_loads

    schema = _as_struct_type(schema)

    @pandas_udf(schema)
    def decode_json5(col: pd.Series) -> pd.DataFrame:
        records = []
        for s in col:
            try:
                records.append(None if s is None else json5_loads(s))
            except Exception:
                records.append(None)
        return _records_to_frame(records, schema)

    return decode_json5


def encode_json5(col: Column, pretty: bool = False) -> Column:
    """struct → JSON5 text (reference: src/encoders/json5.js:14-36;
    pretty=True matches JSON5.stringify(content, null, 3) incl. trailing
    commas). The reference's colorize option is terminal ANSI paint — a
    display concern, out of scope for a columnar engine."""
    from pyspark.sql.functions import pandas_udf

    from shovel_spark.functions.wire import json5_dumps

    indent = 3 if pretty else 0

    @pandas_udf("string")
    def _enc(js: pd.Series) -> pd.Series:
        return js.map(lambda s: None if s is None else json5_dumps(json.loads(s), indent=indent))

    return _enc(F.to_json(col))


def make_proto_decoder(spec, schema, delimited: bool = False):
    """Protobuf decoder (reference: src/decoders/protobuf.js:12-142) over
    the pure wire-format parser. ``spec`` is a wire.ProtoSpec (build one
    from a .proto file with wire.parse_proto — the reference's proto_path /
    class_name config surface, src/decoders/protobuf.js:20-43).

    delimited=False: binary → struct(schema). delimited=True: binary →
    array<struct> (the 1→N stream mode, src/decoders/protobuf.js:111-141);
    explode downstream. Decode failure → null element (dead-letter)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from shovel_spark.functions import wire

    schema = _as_struct_type(schema)
    fields = [f.name for f in schema.fields]
    spec_fields = list(spec.fields)

    if delimited:

        @pandas_udf(T.ArrayType(schema))
        def decode_proto_delim(col: pd.Series) -> pd.Series:
            sp = wire.ProtoSpec(spec_fields)

            def one(b):
                if b is None:
                    return None
                try:
                    recs = wire.proto_decode_delimited(bytes(b), sp)
                    return [{k: r.get(k) for k in fields} for r in recs]
                except Exception:
                    return None

            return col.map(one)

        return decode_proto_delim

    @pandas_udf(schema)
    def decode_proto(col: pd.Series) -> pd.DataFrame:
        sp = wire.ProtoSpec(spec_fields)
        records = []
        for b in col:
            try:
                records.append(None if b is None else wire.proto_decode(bytes(b), sp))
            except Exception:
                records.append(None)
        return _records_to_frame(records, schema)

    return decode_proto


def encode_protobuf(col: Column, spec, delimited: bool = False) -> Column:
    """struct → protobuf bytes (reference: src/encoders/protobuf.js:57-62).
    delimited=True varint-length-prefixes the message (encodeDelimited);
    pass an ARRAY of structs to concatenate N records into one payload,
    matching the reference's Buffer.concat of per-record frames."""
    from pyspark.sql.functions import pandas_udf

    from shovel_spark.functions import wire

    spec_fields = list(spec.fields)

    @pandas_udf("binary")
    def _enc(js: pd.Series) -> pd.Series:
        sp = wire.ProtoSpec(spec_fields)

        def one(s):
            if s is None:
                return None
            rec = json.loads(s)
            if delimited:
                recs = rec if isinstance(rec, list) else [rec]
                return wire.proto_encode_delimited(recs, sp)
            return wire.proto_encode(rec, sp)

        return js.map(one)

    return _enc(F.to_json(col))


def decode_proto_or_json(
    payload: Column, content_type: Column, spec, schema
) -> Column:
    """Per-row decoder pick by content-type — the reference's protobuf
    decoder accepts JSON-encoded payloads when the message's content-type
    says application/json (src/decoders/protobuf.js:96-105, test
    tests/decoders/protobuf.js 'decode: json').

    Cost note: Spark hoists pandas UDFs out of CASE WHEN into an
    unconditional ArrowEvalPython stage, so the wire decoder still RUNS on
    every row (its result is discarded for JSON rows — correctness is safe
    because decode failures yield nulls, never errors). For a hot path with
    a large JSON fraction, split the frame on the content-type predicate,
    decode each half with its own decoder, and union — this helper is the
    convenience form for mixed low-volume streams."""
    wire_decoder = make_proto_decoder(spec, schema)
    is_json = F.lower(F.trim(F.regexp_extract(content_type, r"^([^;]+)", 1))) == "application/json"
    return F.when(is_json, F.from_json(payload.cast("string"), _as_struct_type(schema))).otherwise(
        wire_decoder(payload.cast("binary"))
    )


def decode_proto_or_json_df(
    df,
    payload_col: str,
    content_type_col: str,
    spec,
    schema,
    out_col: str = "record",
):
    """DataFrame form of the mixed-content decode, for hot paths: SPLIT the
    frame on the content-type predicate, decode each half with only its own
    decoder, and union — JSON rows never enter the Arrow/Python stage (the
    Column form above cannot avoid it: Spark hoists pandas UDFs out of
    CASE WHEN and runs them unconditionally)."""
    # NULL content-type must take the wire path (the reference's default is
    # application/octet-stream), not vanish: a raw NULL predicate would drop
    # the row from BOTH filter halves
    is_json = F.coalesce(
        F.lower(F.trim(F.regexp_extract(F.col(content_type_col), r"^([^;]+)", 1)))
        == "application/json",
        F.lit(False),
    )
    struct_type = _as_struct_type(schema)
    wire_decoder = make_proto_decoder(spec, struct_type)
    json_half = df.filter(is_json).withColumn(
        out_col, F.from_json(F.col(payload_col).cast("string"), struct_type)
    )
    wire_half = df.filter(~is_json).withColumn(
        out_col, wire_decoder(F.col(payload_col).cast("binary"))
    )
    return json_half.unionByName(wire_half)


# --- content-type (reference: src/core/utils.js:69-72 parseContentType;
# default application/octet-stream, src/core/message.js:4)

def parse_content_type(col: Column) -> Column:
    """'text/html; charset=utf-8' → struct(mime, params map) — the header
    parse that picks decoders in the reference."""
    mime = F.lower(F.trim(F.regexp_extract(col, r"^([^;]+)", 1)))
    mime = F.when(mime == "", "application/octet-stream").otherwise(mime)
    return F.struct(
        mime.alias("mime"),
        F.map_from_entries(
            F.filter(
                F.transform(
                    F.slice(F.split(F.coalesce(col, F.lit("")), ";"), 2, 100),
                    lambda p: F.struct(
                        F.lower(F.trim(F.element_at(F.split(p, "="), 1))).alias("key"),
                        F.trim(F.element_at(F.split(p, "="), 2)).alias("value"),
                    ),
                ),
                lambda e: (e["key"] != "") & e["value"].isNotNull(),
            )
        ).alias("params"),
    )


# --- format / template (reference: src/encoders/format.js:1-15,
# renderTemplate src/core/utils.js:45-67)

#: date tokens supported by the reference's renderTemplate
#: (src/core/utils.js:49-64) → Spark date_format patterns.
_DATE_TOKENS = {
    "YYYY": "yyyy",
    "YY": "yy",
    "MM": "MM",
    "M": "M",
    "DD": "dd",
    "D": "d",
    "HH": "HH",
    "H": "H",
    "mm": "mm",
    "m": "m",
    "ss": "ss",
    "s": "s",
}

_PLACEHOLDER = re.compile(r"\{([A-Za-z_][\w.]*)\}")


def render_template(template: str, date_col: Column | str | None = None, **fields: Column) -> Column:
    """``'audit-{type}-{YYYY}-{MM}'`` → concat of lits, field cols, and
    date parts — compiled once at plan time, zero per-row interpretation.

    Mirrors renderTemplate's contract: ``{field}`` from the row, date tokens
    from the event date (UTC), e.g. the elasticsearch output's dynamic index
    name (reference: src/outputs/elasticsearch.js:203-210).
    """
    date_col = F.col(date_col) if isinstance(date_col, str) else date_col
    parts: list[Column] = []
    pos = 0
    for m in _PLACEHOLDER.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        token = m.group(1)
        if token in _DATE_TOKENS:
            if date_col is None:
                raise ValueError(f"template uses date token {{{token}}} but no date_col given")
            parts.append(F.date_format(date_col, _DATE_TOKENS[token]))
        elif token == "T":
            parts.append(F.unix_millis(date_col).cast("string"))
        elif token == "DATE_ISO":
            parts.append(F.date_format(date_col, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
        elif token in fields:
            parts.append(fields[token].cast("string"))
        else:
            parts.append(F.col(token).cast("string"))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit("")
