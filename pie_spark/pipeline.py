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
    """All intermediate + final frames of one pipeline run.

    ``hot`` is computed lazily: hot-key detection costs a Spark job over
    the mention set and only matters on the distributed-CC path, so on
    the driver union-find fast path (dictionary-scale graphs — the
    common case) it stays ``[]`` even when skewed keys exist. Read it as
    "hot keys the run actually salted", not "no skew detected"."""

    docs: DataFrame
    spans: DataFrame
    merged_mentions: DataFrame
    linked: DataFrame
    labels: DataFrame
    triples: DataFrame
    hot: list[str]
    # "broadcast", or "shard_fallback" (oversized dict)
    dict_mode: str = "broadcast"

    def unpersist(self) -> None:
        self.merged_mentions.unpersist()
        self.linked.unpersist()
        self.triples.unpersist()


def extract_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    docs: DataFrame,
    dict_df: DataFrame,
    mode_out: dict | None = None,
) -> DataFrame:
    """Explode + all detectors + overlap-merge → mention rows. This is
    the checkpointable unit: its output is deterministic per doc, so a
    resumed run unions checkpointed mentions with fresh ones and gets a
    byte-identical downstream (SURVEY.md §5.1 resume test).

    Dictionary-size adaptivity (VERDICT r03 next#8): when the distinct
    surface count exceeds ``cfg.dict_max_surfaces``, the in-UDF
    Aho-Corasick gazetteer degrades to the dictionary-shard trie probe
    (exact automaton parity) instead of raising — the dictionary never
    touches the driver; regex+CRF still run in the one fused Arrow
    pass. ``mode_out`` (if passed) receives ``{"dict_mode":
    "broadcast" | "shard_fallback"}`` so runners can record the
    decision in lineage."""
    txt = text_spans(explode_spans(docs))
    surfaces = try_collect_surfaces(dict_df, cfg.dict_max_surfaces)
    if mode_out is not None:
        mode_out["dict_mode"] = "broadcast" if surfaces is not None else "shard_fallback"
    fused = fused_matches(
        txt, spark, surfaces or [],
        enable_phone=cfg.enable_phone, enable_crf=cfg.enable_crf,
    )
    if surfaces is None:
        gaz = gazetteer_shard_matches(txt, dict_df, salt_parts=cfg.shard_salt_parts)
        return merge_mentions(fused, gaz)
    return merge_mentions(fused)


def downstream_stage(
    spark: SparkSession,
    cfg: PipelineConfig,
    docs: DataFrame,
    merged: DataFrame,
    dict_df: DataFrame,
    dict_mode: str = "broadcast",
) -> PipelineResult:
    """Everything after mention extraction: linking, CC canonicalization,
    triple materialization. ``merged`` may come fresh or from a
    checkpoint snapshot. Any non-"broadcast" ``dict_mode`` switches J1
    from the broadcast hash join to the salted shuffle join (J6) — the
    oversized-dictionary path, salted on the A4 hot keys."""
    spans = explode_spans(docs)
    # media branch carries only (doc_id, media_ref) past the explode;
    # the parquet ReadSchema still includes spans.text (no nested
    # pruning through the array explode — see media_refs)
    med = media_refs(docs)

    # Hot keys for J6 link salting on the fallback path —
    # cfg.hot_norm_keys (streamed counters via CLI --hot-keys-from)
    # preempts the batch A4 scan. CC no longer consumes this list:
    # adaptive_components salts from its own measured degree stats
    # (r06 — the A4 mention-frequency list was a proxy for graph
    # degree; the degree probe is exact and costs about the same).
    hot: list[str] = list(cfg.hot_norm_keys)

    if dict_mode != "broadcast":
        # oversized dictionary: J1 cannot broadcast — salted shuffle
        # join (J6) on the hot norm_keys: streamed counters when seeded,
        # else one batch A4 scan over the mention set. (r06 fix: a
        # seeded hot list used to skip this whole branch and broadcast
        # the oversized dictionary anyway — value-equal, so tests were
        # green, but it reintroduced the OOM the fallback exists for.)
        if not hot:
            hot.extend(hot_keys(surface_frequencies(merged), cfg.hot_k))
        linked = link_mentions(
            merged, dict_df, broadcast_dict=False, hot=hot, salt_k=cfg.salt_k
        )
    else:
        linked = link_mentions(merged, dict_df)

    labels = adaptive_components(
        spark,
        build_edges(dict_df),
        salt_k=cfg.salt_k,
        max_iters=cfg.cc_max_iters,
        driver_max_edges=cfg.cc_driver_max_edges,
    )
    key_map = key_canonical_map(labels)

    linked_canon = _with_canon(linked, key_map).persist(StorageLevel.MEMORY_AND_DISK)
    triples = all_triples(med, linked_canon, merged, cfg.pii_types).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return PipelineResult(
        docs=docs,
        spans=spans,
        merged_mentions=merged,
        linked=linked_canon,
        labels=labels,
        triples=triples,
        hot=hot,
        dict_mode=dict_mode,
    )


def run(
    spark: SparkSession,
    cfg: PipelineConfig,
    docs: DataFrame,
    dict_df: DataFrame,
) -> PipelineResult:
    """Fresh end-to-end run (no checkpointing — see
    pie_spark.runner.run_checkpointed for the resumable path)."""
    mode: dict = {}
    merged = extract_stage(spark, cfg, docs, dict_df, mode_out=mode).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return downstream_stage(
        spark, cfg, docs, merged, dict_df, dict_mode=mode.get("dict_mode", "broadcast")
    )
