"""G3 + J4/J6/J7/W4: knowledge-graph triple materialization
(SURVEY.md §2.8 G3; BASELINE.json:6 — "materializes (subj, pred, obj)
triples such as (person, HAS_EMAIL, email) and (doc, MENTIONS,
entity)").

Predicates:
  * (doc,    MENTIONS,   canonical_entity)   — spec-cited
  * (person, HAS_EMAIL,  email)              — spec-cited
  * (person, HAS_SSN / HAS_PHONE / HAS_ADDRESS, value) — inferred from
    the spec's PII list (names, emails, SSNs, addresses [+phone])
  * (doc,    HAS_MEDIA,  media_ref)          — inferred from the
    interleaved text+media document model

Precision guard: subjects come only from *linked* persons (dictionary-
confirmed) and PII objects only from the regex detectors — tagger
generalization (capitalized unknown names) can never fabricate a
triple (SURVEY.md §2.4 design note).

W4 pairing rule: each PII mention attaches to the nearest *preceding*
linked PERSON in the same document by global char offset
(span.offset + start), via ``last(..., ignorenulls)`` over an
offset-ordered window — one shuffle on doc_id, no self-join, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pie_spark.canon.salting import salted_join


def media_triples(media_spans: DataFrame) -> DataFrame:
    return media_spans.select(
        F.col("doc_id").alias("subj"),
        F.lit("HAS_MEDIA").alias("pred"),
        F.col("media_ref").alias("obj"),
        F.lit("DOC").alias("subj_type"),
        F.lit("MEDIA").alias("obj_type"),
        "doc_id",
        F.lit(1.0).alias("confidence"),
    )


def _with_canon(
    linked: DataFrame,
    key_map: DataFrame,
    hot: list[str] | None = None,
    salt_k: int = 1,
) -> DataFrame:
    """J4: attach canonical entity ids to linked person mentions.

    ``hot=None`` broadcasts the (small, dictionary-derived) canonical
    map. When the dictionary is too large to broadcast — the 10^12-doc
    design point can carry billion-key dictionaries — the caller passes
    the same ``hot`` list J1 linking got and the join runs shuffle-side
    with explicit hot-key salting (J6), spread by mention_id.
    """
    dim = key_map.select("norm_key", "canon_entity_id")
    return salted_join(linked, dim, "norm_key", "mention_id", hot, salt_k)


def mention_triples(linked_canon: DataFrame) -> DataFrame:
    """(doc, MENTIONS, canonical_entity), confidence = best link score.

    Emitted per-mention WITHOUT its own groupBy: A5's final dedup
    aggregates max(confidence) over (subj, pred, obj, doc_id), which
    subsumes the per-(doc, entity) max — one corpus shuffle saved."""
    return linked_canon.select(
        F.col("doc_id").alias("subj"),
        F.lit("MENTIONS").alias("pred"),
        F.col("canon_entity_id").alias("obj"),
        F.lit("DOC").alias("subj_type"),
        F.lit("PERSON").alias("obj_type"),
        "doc_id",
        F.col("link_score").alias("confidence"),
    )


def pii_pair_triples(
    linked_canon: DataFrame,
    merged_mentions: DataFrame,
    pii_types: tuple[str, ...] = ("EMAIL", "SSN", "PHONE", "ADDRESS"),
) -> DataFrame:
    """J7/W4: (person, HAS_<type>, value) by nearest-preceding pairing."""
    persons = linked_canon.select(
        "doc_id",
        (F.col("span_offset") + F.col("start")).alias("global_off"),
        F.col("canon_entity_id").alias("person"),
        F.col("link_score"),
        F.lit(None).cast("string").alias("pii_type"),
        F.lit(None).cast("string").alias("pii_value"),
    )
    piis = merged_mentions.filter(
        (F.col("detector") == "regex") & F.col("mention_type").isin(list(pii_types))
    ).select(
        "doc_id",
        (F.col("span_offset") + F.col("start")).alias("global_off"),
        F.lit(None).cast("string").alias("person"),
        F.lit(None).cast("double").alias("link_score"),
        F.col("mention_type").alias("pii_type"),
        F.col("surface").alias("pii_value"),
    )
    # persons sort before PII at equal offsets (impossible by
    # construction, but the total order keeps it deterministic anyway)
    events = persons.unionByName(piis)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("global_off", F.asc_nulls_last("person"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    paired = events.withColumn(
        "prev_person", F.last("person", ignorenulls=True).over(w)
    ).withColumn(
        "prev_score", F.last("link_score", ignorenulls=True).over(w)
    )
    return paired.filter(
        F.col("pii_type").isNotNull() & F.col("prev_person").isNotNull()
    ).select(
        F.col("prev_person").alias("subj"),
        F.concat(F.lit("HAS_"), F.col("pii_type")).alias("pred"),
        F.col("pii_value").alias("obj"),
        F.lit("PERSON").alias("subj_type"),
        F.col("pii_type").alias("obj_type"),
        "doc_id",
        F.col("prev_score").alias("confidence"),
    )


def all_triples(
    media_df: DataFrame | None,
    linked_canon: DataFrame,
    merged_mentions: DataFrame,
    pii_types: tuple[str, ...] = ("EMAIL", "SSN", "PHONE", "ADDRESS"),
) -> DataFrame:
    """G3: union of every predicate family + A5 dedup on
    (subj, pred, obj, doc_id) with a deterministic confidence (max)."""
    parts = [
        mention_triples(linked_canon),
        pii_pair_triples(linked_canon, merged_mentions, pii_types),
    ]
    if media_df is not None:
        parts.append(media_triples(media_df))
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    # r07: subj_type/obj_type are FUNCTIONS of pred (MENTIONS → DOC/
    # PERSON, HAS_MEDIA → DOC/MEDIA, HAS_<pii> → PERSON/<pii>), so they
    # are re-derived after the dedup instead of carried through it as
    # max(string) aggregates. With only the max(confidence) double
    # buffer left, the A5 dedup plans as a HashAggregate — the old
    # string buffers forced SortAggregate, i.e. a full sort of every
    # triple on both sides of the exchange (the same pathology the r03
    # passage-survivor audit fixed; now plan-pinned for triples too).
    # max() over the single-valued type columns equals the value, so
    # results are identical.
    deduped = unioned.groupBy("subj", "pred", "obj", "doc_id").agg(
        F.max("confidence").alias("confidence")
    )
    subj_type = F.when(
        F.col("pred").isin("MENTIONS", "HAS_MEDIA"), "DOC"
    ).otherwise("PERSON")
    obj_type = (
        F.when(F.col("pred") == "MENTIONS", "PERSON")
        .when(F.col("pred") == "HAS_MEDIA", "MEDIA")
        .otherwise(F.substring("pred", 5, 2_000_000))
    )
    return deduped.select(
        "subj", "pred", "obj", subj_type.alias("subj_type"),
        obj_type.alias("obj_type"), "doc_id", "confidence",
    )
