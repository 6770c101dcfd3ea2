"""J1/J2 + W1: entity linking against the broadcast dictionary
(BASELINE.json:6 — "entity linking scores candidate mentions against a
broadcast dictionary").

J1 is an explicit ``F.broadcast`` hash join on the normalized surface
key — the dictionary is the known-small side, so we never let the
planner consider a shuffle join for it — unless the run found the
dictionary too large to broadcast, when it is the salted shuffle join
(J6); both are :func:`pie_spark.canon.salting.salted_join`. Scoring
(J2) is pure native column arithmetic (exact-match + token-set Jaccard
+ popularity prior).

Top-1 per mention (W1) is a ``min_by`` aggregation keyed by the
total-order struct (-score, entity_id) — not a row_number window. The
struct-valued buffer rules out a hash aggregate, so the shipped plan is
a partial + final **SortAggregate** over a per-partition Sort on
(doc_id, span_idx, mention_id); the group key is a superset of the
merge's hash(doc_id) partitioning, so there is no Exchange between the
candidates and the election. Deterministic under any partitioning
(SURVEY.md §5.4): min of (-score asc, entity_id asc) ≡ (score desc,
entity_id asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pie_spark.canon.salting import salted_join
from pie_spark.extract.normalize import norm_key

W_EXACT, W_JACCARD, W_PRIOR = 0.4, 0.3, 0.3


def link_mentions(
    mentions: DataFrame,
    dict_df: DataFrame,
    hot: list[str] | None = None,
    salt_k: int = 1,
) -> DataFrame:
    """Link PERSON mentions to dictionary entities.

    Returns mention rows + (entity_id, entity_type, link_score) for the
    best candidate; mentions with no dictionary candidate are dropped
    (they contribute no MENTIONS/HAS_* triples — G3 trusts linked
    persons only).

    ``hot=None`` broadcasts the dictionary. A list is the
    oversized-dictionary path (VERDICT r03 next#8): J1 becomes a salted
    shuffle join (J6) — ``hot`` norm_keys spread ``salt_k`` ways with
    mention_id as the spread column; AQE skew-join remains the backstop
    for keys A4 missed.
    """
    m = mentions.filter(F.col("mention_type") == "PERSON").withColumn(
        "norm_key", norm_key("surface")
    )
    d = dict_df.select(
        F.col("norm_key"),
        F.col("surface").alias("dict_surface"),
        "entity_id",
        "entity_type",
        "prior",
    )
    cand = salted_join(m, d, "norm_key", "mention_id", hot, salt_k)

    m_toks = F.split(F.lower("surface"), " ")
    d_toks = F.split(F.lower("dict_surface"), " ")
    jaccard = F.size(F.array_intersect(m_toks, d_toks)) / F.size(
        F.array_union(m_toks, d_toks)
    )
    exact = (F.col("surface") == F.col("dict_surface")).cast("double")
    scored = cand.withColumn(
        "link_score",
        W_EXACT * exact + W_JACCARD * jaccard + W_PRIOR * F.col("prior"),
    )

    out_cols = [c for c in scored.columns if c not in ("dict_surface", "prior")]
    order_key = F.struct(
        (-F.col("link_score")).alias("neg_score"), F.col("entity_id").alias("eid")
    )
    # group key: (doc_id, span_idx, mention_id) ≡ mention_id (the id is a
    # hash of doc_id/span_idx/offsets), but the superset key lets Spark
    # satisfy the clustering from the upstream hash(doc_id) partitioning
    # (merge's shuffle) — the whole linking stage runs exchange-free.
    return (
        scored.groupBy("doc_id", "span_idx", "mention_id")
        .agg(F.min_by(F.struct(*out_cols), order_key).alias("best"))
        .select("best.*")
    )
