"""The normalize stage — the reference's mapper pipeline, re-expressed as one
declarative ``select`` of vectorized column expressions.

Reference parity: the per-row camelCase→snake_case / hex→dec / lowercase
mapper chain (block_mapper.py:36-88, transaction_mapper.py:29-60,
receipt_log_mapper.py:30-80 — SURVEY.md §2.2 P1-P12) becomes a single
projection that Catalyst pushes into the scan: column pruning and predicate
pushdown are free, and every expression below stays inside whole-stage
codegen, the exact uint256 decode included: ``hex_to_dec_native`` builds it
from JVM ``conv`` and decimal arithmetic, with no Python worker.

Per-row invariant (BASELINE.json input_hint): ``sha256 = sha2(content, 256)``
computed on the *raw* content — the replay-equality oracle checks this
column bit-for-bit.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ethereum_etl_spark.functions.hex import hex_to_dec_native
from ethereum_etl_spark.functions.text import clean_content, token_count, zero_pad

# embedded uint256 payload, e.g. " value=0x<64 hex chars>" (datagen emits one
# per row; real logs carry them in event data words)
_HEX_VALUE_RE = r"value=0x([0-9a-fA-F]+)"


def normalize_changes(changes: DataFrame, with_decimal_value: bool = True) -> DataFrame:
    """Change-log batch → normalized, typed, invariant-carrying rows.

    Output columns (additive superset of the input — schema-evolution safe):
      seq, repo, path, commit, lang, content (sanitized),
      sha256          — per-row invariant on raw content
      content_size    — bytes of sanitized content
      n_tokens        — whitespace token count
      value_hex       — embedded uint256 hex payload (canonical string truth)
      value_dec       — exact Decimal(38,0) decode of value_hex (JVM-native)
      day_bucket      — seq // 86400 analog of round_timestamp_to_date
      part_label      — zero-padded partition label (reference zfill(8),
                        export_knowledge_graph_needed_common.py:68-69)
    """
    cols, value_dec = _projection(
        changes.sparkSession.sparkContext, "op" in changes.columns
    )
    out = changes.select(*cols)
    if with_decimal_value:
        out = out.withColumn("value_dec", value_dec)
    return out


# SparkContext -> {has_op: (projection, value_dec)}. Every F.* call is a few
# Py4J round trips; a micro-batch loop plans this projection once per cycle,
# so the Column objects are built once and reused by every batch.
_PROJECTIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _projection(sc, has_op: bool) -> tuple[list[Column], Column]:
    built = _PROJECTIONS.setdefault(sc, {})
    if has_op not in built:
        value_hex = F.regexp_extract(F.col("content"), _HEX_VALUE_RE, 1)
        passthrough = [F.col("op")] if has_op else []
        built[has_op] = ([
            *passthrough,
            F.col("seq"),
            F.lower(F.col("repo")).alias("repo"),
            F.col("path"),
            F.lower(F.col("commit")).alias("commit"),
            F.col("lang"),
            clean_content(F.col("content")).alias("content"),
            F.sha2(F.col("content"), 256).alias("sha256"),
            F.length(clean_content(F.col("content"))).cast("long").alias("content_size"),
            token_count(F.col("content")).alias("n_tokens"),
            F.when(value_hex != "", F.concat(F.lit("0x"), F.lower(value_hex))).alias("value_hex"),
            (F.col("seq") / 86400).cast("long").alias("day_bucket"),
            zero_pad(F.col("seq") - (F.col("seq") % 1000), 8).alias("part_label"),
        ], hex_to_dec_native(F.col("value_hex")))
    return built[has_op]
