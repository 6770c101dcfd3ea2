"""Binding schemas (BASELINE.json:15 input_hint; SURVEY.md §1.2–1.3).

Always passed explicitly — never inferred — so the span-sequence
invariant and the DuckDB oracle schema checks are stable.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# input: interleaved text + media documents (input_hint, binding)
DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# detected mention rows (SURVEY.md §1.1 "Mention set")
MENTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        T.StructField("span_offset", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("mention_type", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("detector", T.StringType(), False),  # regex|gazetteer|crf
        T.StructField("score", T.DoubleType(), False),
    ]
)

# output triples (SURVEY.md §1.3)
TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("subj_type", T.StringType(), False),
        T.StructField("obj_type", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
    ]
)

# event log rows (the events.parquet layout): the landing-zone input of
# streaming sessionization and rollup
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

GOLDEN_MENTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("mention_type", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
    ]
)

GOLDEN_TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("subj_type", T.StringType(), False),
        T.StructField("obj_type", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
    ]
)

DICT_SCHEMA = T.StructType(
    [
        T.StructField("surface", T.StringType(), False),
        T.StructField("norm_key", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("prior", T.DoubleType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs_in", T.LongType(), False),
        T.StructField("mentions", T.LongType(), False),
        T.StructField("triples_out", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("input_snapshot", T.StringType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)
