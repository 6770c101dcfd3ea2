"""The flagship batch pipeline (SURVEY.md §3.1; BASELINE.json north_star).

    docs → explode → [regex ∪ gazetteer ∪ CRF] (Arrow UDF stage)
         → merge/overlap-dedup → broadcast linking → CC canonicalization
         → triple materialization (MENTIONS / HAS_* / HAS_MEDIA)

Shuffle budget (what actually moves at 10^12 docs):
  * one shuffle on (doc_id, span_idx) for the merge windows — reused by
    both window passes;
  * one shuffle on doc_id for W4 pairing;
  * one shuffle for the A5 dedup groupBy;
  * CC iterations shuffle only the (tiny relative to corpus) dictionary
    graph, never the corpus;
  * linking and J4 canonical attachment are broadcast joins — zero
    corpus shuffle (salted shuffle-join fallback for huge dictionaries).

The detector stage is persisted before fan-out so the (expensive)
Python/Arrow stage runs exactly once even though three consumers read
it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from pie_spark.canon.canonical import key_canonical_map
from pie_spark.canon.cc import adaptive_components
from pie_spark.canon.edges import build_edges
from pie_spark.config import PipelineConfig
from pie_spark.extract.fused import fused_matches
from pie_spark.extract.gazetteer_shard import gazetteer_shard_matches
from pie_spark.extract.merge import merge_mentions
from pie_spark.extract.spans import explode_spans, media_refs, text_spans
from pie_spark.graph.triples import _with_canon, all_triples
from pie_spark.link.linker import link_mentions
from pie_spark.link.stats import hot_keys, surface_frequencies


def try_collect_surfaces(dict_df: DataFrame, max_surfaces: int) -> list[str] | None:
    """Distinct gazetteer surfaces for the in-UDF Aho-Corasick broadcast,
    or ``None`` when the dictionary is over the cap (→ the caller
    switches to the dictionary-shard gazetteer + non-broadcast linking).

    The dictionary is broadcast-small by spec, but an unbounded collect
    would OOM the driver on a pathological input — so the collect is ONE
    ``limit(N+1).toArrow()`` job (plain strings, not Row objects): an
    oversized dictionary ships one surface past the cap and never runs
    the distinct shuffle twice."""
    tbl = dict_df.select("surface").distinct().limit(max_surfaces + 1).toArrow()
    if tbl.num_rows > max_surfaces:
        return None
    return tbl.column("surface").to_pylist()


@dataclass
class PipelineResult:
    """The frames a pipeline run leaves persisted, plus the one
    dictionary-size decision of the run: ``dict_mode`` is "broadcast",
    or "shard_fallback" when the dictionary is over
    ``cfg.dict_max_surfaces`` (shard gazetteer, salted J1 and J4)."""

    merged_mentions: DataFrame
    linked: DataFrame
    triples: DataFrame
    dict_mode: str

    def unpersist(self) -> None:
        self.merged_mentions.unpersist()
        self.linked.unpersist()
        self.triples.unpersist()


def extract_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    docs: DataFrame,
    dict_df: DataFrame,
) -> tuple[DataFrame, str]:
    """Explode + all detectors + overlap-merge → ``(mentions,
    dict_mode)``. This is the checkpointable unit: its output is
    deterministic per doc, so a resumed run unions checkpointed mentions
    with fresh ones and gets a byte-identical downstream (SURVEY.md §5.1
    resume test).

    Dictionary-size adaptivity (VERDICT r03 next#8): when the distinct
    surface count exceeds ``cfg.dict_max_surfaces``, the in-UDF
    Aho-Corasick gazetteer degrades to the dictionary-shard trie probe
    (exact automaton parity) instead of raising — the dictionary never
    touches the driver; regex+CRF still run in the one fused Arrow
    pass. ``dict_mode`` ("broadcast" | "shard_fallback") is that
    decision, taken here once per run and handed to
    :func:`downstream_stage` and the checkpoint meta."""
    txt = text_spans(explode_spans(docs))
    surfaces = try_collect_surfaces(dict_df, cfg.dict_max_surfaces)
    fused = fused_matches(
        txt, spark, surfaces or [],
        enable_phone=cfg.enable_phone, enable_crf=cfg.enable_crf,
    )
    if surfaces is None:
        gaz = gazetteer_shard_matches(txt, dict_df, salt_parts=cfg.shard_salt_parts)
        return merge_mentions(fused, gaz), "shard_fallback"
    return merge_mentions(fused), "broadcast"


def downstream_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    docs: DataFrame,
    merged: DataFrame,
    dict_df: DataFrame,
    dict_mode: str,
) -> PipelineResult:
    """Everything after mention extraction: linking, CC canonicalization,
    triple materialization. ``merged`` may come fresh or from a
    checkpoint snapshot. ``dict_mode`` becomes one ``hot`` value shared
    by both dictionary joins, J1 linking and J4 canonical attach:
    ``None`` (broadcast hash join) in "broadcast" mode, else the salted
    shuffle join (J6) on the batch A4 hot list over the mention set."""
    # media branch carries only (doc_id, media_ref) past the explode;
    # the parquet ReadSchema still includes spans.text (no nested
    # pruning through the array explode — see media_refs)
    med = media_refs(docs)

    # CC does not read this list: adaptive_components salts from its
    # own measured degree stats
    hot = None
    if dict_mode != "broadcast":
        hot = hot_keys(surface_frequencies(merged), cfg.hot_k)
    linked = link_mentions(merged, dict_df, hot=hot, salt_k=cfg.salt_k)

    labels = adaptive_components(
        spark,
        build_edges(dict_df),
        salt_k=cfg.salt_k,
        max_iters=cfg.cc_max_iters,
        driver_max_edges=cfg.cc_driver_max_edges,
    )
    key_map = key_canonical_map(labels)

    linked_canon = _with_canon(linked, key_map, hot=hot, salt_k=cfg.salt_k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    triples = all_triples(med, linked_canon, merged, cfg.pii_types).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return PipelineResult(
        merged_mentions=merged, linked=linked_canon, triples=triples, dict_mode=dict_mode
    )


def run(
    spark: SparkSession,
    cfg: PipelineConfig,
    docs: DataFrame,
    dict_df: DataFrame,
) -> PipelineResult:
    """Fresh end-to-end run: :func:`pie_spark.runner.run_checkpointed`
    with whatever checkpoint / output the config names (none by
    default, so nothing is written)."""
    from pie_spark.runner import run_checkpointed

    return run_checkpointed(spark, cfg, docs, dict_df).result
