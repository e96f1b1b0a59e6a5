"""Enrichment — the pipeline-slot analog (SURVEY.md §2.3).

Shovel exposes ``util.translate(value, dict, defaultValue)`` to user pipeline
code (reference: src/core/utils.js:74-76) — a dictionary lookup. The
Spark-native equivalent is a broadcast hash join against a tiny dim table
with ``coalesce`` for the default: no shuffle of the fact side, safe at any
fact-table scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from shovel_spark.session import local_rows_df


def _lookup(mapping: DataFrame, *cols: Column) -> DataFrame:
    """The broadcast side of a lookup: ``mapping`` projected to ``cols``
    (key first), deduplicated on the driver — the first row per key wins,
    and NULL keys are dropped, since an equi-join never matches them. A
    mapping is config-sized, never data-sized, so collecting it is cheap,
    and the rows go back as a local relation: no shuffle and no Python
    worker build the broadcast."""
    m = mapping.select(*cols)
    first: dict = {}
    for r in m.collect():
        if r[0] is not None:
            first.setdefault(r[0], r)
    return F.broadcast(local_rows_df(mapping.sparkSession, list(first.values()), m.schema))


def translate(
    df: DataFrame,
    key_col: str,
    mapping: DataFrame,
    map_key: str,
    map_value: str,
    out_col: str,
    default: Column | str | None = None,
) -> DataFrame:
    """Broadcast-join dictionary lookup with default fall-through.

    Mirrors ``util.translate``'s semantics: missing key -> ``default``
    (reference: src/core/utils.js:74-76). A key listed twice maps to its
    first value, as a dict literal keeps one entry per key.
    """
    lkp = _lookup(mapping, F.col(map_key).alias("__k"), F.col(map_value).alias("__v"))
    joined = df.join(lkp, df[key_col] == lkp["__k"], "left")
    if default is None:
        value = F.col("__v")
    elif isinstance(default, Column):
        value = F.coalesce(F.col("__v"), default)
    else:
        value = F.coalesce(F.col("__v"), F.lit(default))
    return joined.withColumn(out_col, value).drop("__k", "__v")


def normalize_lang(
    df: DataFrame, lang_map: DataFrame, out_col: str = "lang_norm", default: str = "und"
) -> DataFrame:
    """lang raw -> normalized code, unknown/empty -> ``default`` ('und'
    unless the pipeline config sets lang_default; driver-mandated lang-map
    broadcast join, BASELINE.json north_star)."""
    return translate(df, "lang", lang_map, "lang_raw", "lang_norm", out_col, default=default)


def apply_domain_rules(df: DataFrame, rules: DataFrame) -> DataFrame:
    """Attach ``rule_action`` / ``rule_sink`` from the domain allow/deny list.

    Deny ≙ shovel reject (reference: src/core/processor.js:140-144);
    unlisted domain ≙ default-allow (null action coalesced downstream); a
    domain listed twice keeps its first rule.
    """
    lkp = _lookup(
        rules,
        F.col("domain").alias("__d"),
        F.col("action").alias("rule_action"),
        F.col("sink").alias("rule_sink"),
    )
    return df.join(lkp, df["domain"] == lkp["__d"], "left").drop("__d")
