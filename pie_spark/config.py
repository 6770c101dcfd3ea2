"""Pipeline configuration (SURVEY.md §7.4).

Every pipeline knob that matters at 10^12-document scale is explicit
here so a cluster run can size buckets, skew salting, the dictionary
fallback and the CC loop without code edits (BASELINE.json:14 —
partitioning / shuffle / skew handled explicitly). Session-level
settings (shuffle partitions, Arrow batch size) are
``session.build_session`` arguments, not pipeline config.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- output ---------------------------------------------------------
    output_path: str = ""  # empty → pipeline returns DataFrames, no write
    # --- partitioning (north_rule: bucketed partitioning on doc_id) ------
    buckets: int = 64          # doc_id hash buckets for the triple sink
    # --- skew (north_rule: key salting on hot entities) -------------------
    hot_k: int = 100           # top-k hot norm_keys computed by A4
    salt_k: int = 8            # salt fan-out for hot keys (J6)
    # --- feature flags -----------------------------------------------------
    enable_crf: bool = True    # BiLSTM-CRF-style tagger (SURVEY.md §2.4)
    enable_phone: bool = True  # PHONE matcher (inferred PII type, §2.3)
    # --- mention types emitted as HAS_* triples ---------------------------
    pii_types: tuple[str, ...] = ("EMAIL", "SSN", "PHONE", "ADDRESS")
    # the gazetteer is broadcast-small by spec (BASELINE.json:6); this
    # cap guards the driver-side surface collect against a dictionary
    # that is NOT — past it the pipeline degrades to the dictionary-shard
    # gazetteer + non-broadcast salted linking (extract_stage /
    # gazetteer_shard.py) instead of OOMing the driver mid-broadcast.
    dict_max_surfaces: int = 5_000_000
    # dictionary-shard replication of the fallback matcher: bounds
    # cogroup group memory and spreads hot key chars; any value is
    # hit-identical. Raise with corpus size (group ≈ docs_with_char /
    # shard_salt_parts).
    shard_salt_parts: int = 8
    # --- CC loop -----------------------------------------------------------
    cc_max_iters: int = 20
    # dictionary graphs at/below this edge count run exact union-find on
    # the driver (the CC analogue of a broadcast join — the dictionary is
    # broadcast-small by spec); larger graphs use the salted distributed
    # loop. 0 disables the fast path.
    cc_driver_max_edges: int = 5_000_000
    # --- resume ------------------------------------------------------------
    checkpoint_dir: str = ""   # "" → no checkpointing
    resume: bool = False       # resume from checkpoint_dir if it has a snapshot


DEFAULT = PipelineConfig()
