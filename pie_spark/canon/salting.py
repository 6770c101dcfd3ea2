"""J6: explicit key salting for skewed joins / graphs (SURVEY.md §2.5 J6;
BASELINE.json:14 — "skew mitigation via key salting on hot entities").

Two tools:

* :func:`salted_join` — the dictionary-side equi-join of J1 linking and
  J4 canonical attach, broadcast or salted by one value per run.
  ``hot=None`` is the broadcast hash join (the dictionary fits the
  driver). A list is the shuffle join for a dictionary too large to
  broadcast: the fact side spreads each hot key over K salts
  (deterministically, by hashing a caller-chosen spread column — never
  ``rand()``, determinism rule §5.4); the dim side replicates hot keys
  ×K. Non-hot keys pay nothing (salt 0, no replication). AQE skew-join
  remains the backstop for joins, but AQE does NOT cover groupBy or
  iterated self-joins — this does.

* :func:`salt_edges` — CC-specific node splitting: a hot node v is
  split into K star-connected siblings ``v#<i>``; each incident edge
  re-targets a deterministic sibling. Component-preserving (the star
  keeps siblings connected to v), and since sibling ids extend the
  original string, the component-min label is never a synthetic node.
  Strip aux nodes (containing '#') from CC output afterwards — '#'
  cannot occur in norm_keys (alnum+space) or entity ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pie_spark.session import local_frame


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    spread_col: str,
    hot: list[str] | None,
    salt_k: int,
    how: str = "inner",
) -> DataFrame:
    if hot is None:
        return fact.join(F.broadcast(dim), key, how)
    if not hot or salt_k <= 1:
        return fact.join(dim, key, how)
    is_hot_f = F.col(key).isin(hot)
    fact2 = fact.withColumn(
        "_salt",
        F.when(is_hot_f, F.pmod(F.xxhash64(F.col(spread_col)), F.lit(salt_k)).cast("int"))
        .otherwise(F.lit(0)),
    )
    is_hot_d = F.col(key).isin(hot)
    dim2 = dim.withColumn(
        "_salts",
        F.when(is_hot_d, F.sequence(F.lit(0), F.lit(salt_k - 1))).otherwise(
            F.array(F.lit(0))
        ),
    ).withColumn("_salt", F.explode("_salts")).drop("_salts")
    return fact2.join(dim2, [key, "_salt"], how).drop("_salt")


def salt_edges(edges: DataFrame, hubs: list[str], salt_k: int) -> DataFrame:
    """Split hot nodes into K star-connected siblings (see module doc)."""
    if not hubs or salt_k <= 1:
        return edges
    sib = lambda node, spread: F.concat(  # noqa: E731
        node, F.lit("#"), F.pmod(F.xxhash64(spread), F.lit(salt_k)).cast("string")
    )
    retarget = edges.select(
        F.when(F.col("src").isin(hubs), sib(F.col("src"), F.col("dst")))
        .otherwise(F.col("src"))
        .alias("src"),
        F.when(F.col("dst").isin(hubs), sib(F.col("dst"), F.col("src")))
        .otherwise(F.col("dst"))
        .alias("dst"),
    )
    hot_df = local_frame(
        edges.sparkSession, T.StructType([T.StructField("node", T.StringType())]), [hubs]
    )
    star = hot_df.select(
        F.col("node").alias("src"),
        F.explode(F.sequence(F.lit(0), F.lit(salt_k - 1))).alias("i"),
    ).select("src", F.concat("src", F.lit("#"), F.col("i").cast("string")).alias("dst"))
    return retarget.union(star)


def strip_salted_nodes(labels: DataFrame) -> DataFrame:
    """Drop synthetic '#'-suffixed sibling nodes from CC output."""
    return labels.filter(~F.col("node").contains("#"))
