"""A1/A2/A4: mention-surface statistics (SURVEY.md §2.6).

Native hash aggregations — Spark performs partial (map-side) + final
aggregation automatically, so hot surfaces do not skew these ops even
at 10^12 docs. The top-k hot list (A4) is a driver collect bounded at
k rows; it picks the keys that the oversized-dictionary path salts in
J1 linking and J4 canonical attach. The pipeline's other driver
collects are bounded the same way: the dictionary-surface probe
(``pipeline.try_collect_surfaces``) and the CC edge collect
(``canon.cc.adaptive_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pie_spark.extract.normalize import norm_key


def surface_frequencies(mentions: DataFrame) -> DataFrame:
    """A1: counts per normalized person surface."""
    return (
        mentions.filter(F.col("mention_type") == "PERSON")
        .withColumn("norm_key", norm_key("surface"))
        .groupBy("norm_key")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def hot_keys(freqs: DataFrame, k: int) -> list[str]:
    """A4: top-k hottest norm_keys by mention count (deterministic
    tiebreak on the key). Bounded driver collect (k rows)."""
    rows = (
        freqs.orderBy(F.desc("freq"), F.asc("norm_key")).limit(k).collect()
    )
    return [r["norm_key"] for r in rows]
