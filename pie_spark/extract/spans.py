"""Span explode + filters (SURVEY.md §2.2 P1–P4).

``posexplode`` keeps the array position so the span-sequence invariant
(BASELINE.json:15) stays checkable, and so mention offsets can be
mapped back into the document. All ops are native Catalyst expressions:
the filters and the narrow projection are pushed below the Arrow/UDF
stage so media payload columns never cross into Python (P3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_spans(docs: DataFrame) -> DataFrame:
    """P1: one row per span, order-preserving.

    Output: (doc_id, span_idx, kind, text, media_ref, offset).
    """
    return docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def text_spans(spans: DataFrame) -> DataFrame:
    """P2+P3+P4: text spans only, non-empty, narrow projection for the
    Python stage (never ship media_ref into Arrow)."""
    return spans.filter(
        (F.col("kind") == "text")
        & F.col("text").isNotNull()
        & (F.length("text") > 0)
    ).select("doc_id", "span_idx", "offset", "text")


def media_spans(spans: DataFrame) -> DataFrame:
    """Media spans pass through for (doc, HAS_MEDIA, media_ref) triples."""
    return spans.filter(F.col("kind") != "text").select(
        "doc_id", "span_idx", "offset", "kind", "media_ref"
    )


def media_refs(docs: DataFrame) -> DataFrame:
    """(doc_id, media_ref) only — the exact input HAS_MEDIA triples need.

    Uses plain ``explode`` (not ``posexplode``) and drops the position:
    the media branch needs no span index. The parquet ReadSchema is NOT
    pruned — ``explain()`` still lists the whole ``spans`` struct
    including ``spans.text``, because nested schema pruning does not
    reach through the array explode; the text payload is dropped right
    after the Generate. Row multiset equals
    ``media_spans(explode_spans(docs)).select("doc_id", "media_ref")``.
    """
    return (
        docs.select("doc_id", F.explode("spans").alias("span"))
        .filter(F.col("span.kind") != "text")
        .select("doc_id", F.col("span.media_ref").alias("media_ref"))
    )
