"""Filtered negative sampling for KG-embedding training (G11).

TransE/DistMult-family embedding trainers consume, per true triple
(subj, pred, obj), a handful of corrupted triples whose tail is
replaced by a random entity that does NOT form a true triple —
"filtered" negatives in the KG-embedding literature (unfiltered ones
teach the model that true facts are false). At the 10^12-triple design
point generating them is itself a large relational job: index the
entity vocabulary, draw candidate tails, and anti-join the candidates
against the true-triple set.

Deterministic recipe (repo-wide: NO RNG) — for true triple (s, p, o),
negative slot k ∈ 1..n_neg, probe j ∈ 0..probes-1:

    cand_idx = h64(s || '#' || p || '#' || o || '#' || k || '#' || j)
               mod V

with h64 the portable md5-15-hex→BIGINT hash (dedup/shingles.py) and
the entity vocabulary indexed by rank in ``ORDER BY entity`` (ties
impossible on a distinct set; UTF-8 byte order ≡ code-point order, so
Spark, DuckDB and Python agree). A probe is REJECTED when it hits the
true tail itself or any (s, p, cand) present in the triple set; the
slot keeps the LOWEST surviving probe. Slots whose every probe
collides are dropped — deterministically, and rarer than
(triples_per_(s,p) / V)^probes, the same bounded-retry shape as the
dropped-bucket accounting in the LSH family. Head corruption is the
identical machinery over transposed triples (swap subj/obj before the
call); tail-only is the common default for the 1-N relations that
dominate mention-derived KGs.

Scale shape (10^12-triple design point):
  * the vocab index is ONE window rank over the distinct entity set —
    V-sized, corpus-size-independent (the percentile_rank / X17
    precedent); V itself is a bounded 1-row driver agg.
  * true tails are mapped to idx space ONCE (join on obj, broadcast
    when the vocab is dictionary-sized, shuffle otherwise) so the
    collision check is an integer (s, p, cand_idx) anti-join — the one
    unavoidable triple-sized shuffle; candidates fan out narrowly
    (n_neg·probes rows per triple, no shuffle).
  * per-slot election packs (probe, cand_idx) into ONE BIGINT
    (probe·2^40 + idx, idx < 2^40) so min() stays an algebraic
    fixed-width agg — map-side combine collapses the probe fan-out
    before the shuffle (the min(struct) SortAggregate trap,
    cross-engine-oracle-traps r03).
  * only ELECTED rows join back to the vocab for the tail string —
    broadcast-sized right side, output-sized left.

Oracle strategy: fully relational — the folded driver-style oracle
(queries.py:transe_negatives) replays every stage verbatim in DuckDB
SQL (row_number vocab, generate_series probes, md5 h64, NOT EXISTS
filter, min-packed election). tests/test_negatives.py additionally
pins a plain-Python replay and the filtered property on fuzzed
triple sets.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pie_spark.dedup.shingles import h64, h64_py

PACK = 1 << 40  # probe·PACK + idx: idx < 2^40, probe < 2^23 → < 2^63
MAX_PROBES = 1 << 23

# vocab tables at/below this row count ship with an explicit broadcast
# hint; past it the hint is DROPPED and the planner (AQE) picks the
# strategy — a forced broadcast of a 10^9-entity vocab would OOM the
# driver instead of degrading to a shuffle join (ADVICE r06)
BROADCAST_MAX_ENTS = 10_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_ENTS else df


def _check_pack(n_ents: int, probes: int) -> None:
    """Fail fast before the packed min-election could silently corrupt
    (ADVICE r06): the encoding probe·2^40 + idx requires idx < 2^40 and
    probe < 2^23 — 2^40 ≈ 1.1e12 is the same order as the advertised
    design point, so this is a real runtime guard, not dead code."""
    if n_ents >= PACK:
        raise ValueError(
            f"entity vocabulary has {n_ents} entries — the packed "
            f"min-probe election supports < {PACK} (2^40); shard the "
            "vocabulary or widen the packing"
        )
    if probes >= MAX_PROBES:
        raise ValueError(f"probes={probes} must be < {MAX_PROBES} (2^23)")


def _check_counts(n_neg: int, probes: int) -> None:
    # F.sequence counts DOWN past an empty range: n_neg = 0 would draw
    # slots 1 and 0, probes = 0 probes 0 and -1
    if n_neg < 1 or probes < 1:
        raise ValueError(f"n_neg={n_neg} and probes={probes} must both be >= 1")


def entity_vocab(triples: DataFrame) -> DataFrame:
    """(entity, idx): rank-indexed distinct subj ∪ obj vocabulary.
    Ranked with the DISTRIBUTED total-order index (pie_spark/ranks.py
    — range partitions + per-partition offsets), not a single-
    partition window: the measured Amdahl bottleneck of this operator
    at a 400k-entity vocab (eff 0.46 → fixed, BENCH/BASELINE.md).
    Output is identical to row_number over the global order."""
    from pie_spark.ranks import ordered_index

    ents = (
        triples.select(F.col("subj").alias("entity"))
        .unionByName(triples.select(F.col("obj").alias("entity")))
        .distinct()
    )
    return ordered_index(ents, "entity")


def transe_negatives(
    triples: DataFrame,
    n_neg: int = 4,
    probes: int = 3,
) -> DataFrame:
    """(subj, pred, obj, slot, probe, neg_obj): up to ``n_neg`` filtered
    tail-corruption negatives per true (subj, pred, obj) triple; each
    surviving slot carries the lowest probe whose candidate neither
    equals the true tail nor forms a true triple. Deterministic and
    partitioning-invariant."""
    _check_counts(n_neg, probes)
    triples = triples.select("subj", "pred", "obj").distinct()
    vocab = entity_vocab(triples).localCheckpoint(eager=True)
    n_ents = vocab.count()  # bounded 1-row driver agg (pagerank precedent)
    _check_pack(n_ents, probes)

    # feeds BOTH the candidate fan-out and the anti-join's build side —
    # checkpoint so the triple scan + vocab join runs once, not twice
    true_idx = (
        triples.join(_maybe_broadcast(vocab, n_ents), triples.obj == vocab.entity)
        .select("subj", "pred", F.col("idx").alias("obj_idx"))
        .localCheckpoint(eager=True)
    )
    cand = (
        true_idx.select(
            "subj",
            "pred",
            "obj_idx",
            F.explode(F.sequence(F.lit(1), F.lit(n_neg))).alias("slot"),
        )
        .select(
            "subj",
            "pred",
            "obj_idx",
            "slot",
            F.explode(F.sequence(F.lit(0), F.lit(probes - 1))).alias("probe"),
        )
        .select(
            "subj",
            "pred",
            "obj_idx",
            "slot",
            "probe",
            F.pmod(
                h64(
                    F.concat_ws(
                        "#",
                        F.col("subj"),
                        F.col("pred"),
                        F.col("obj_idx").cast("string"),
                        F.col("slot").cast("string"),
                        F.col("probe").cast("string"),
                    )
                ),
                F.lit(n_ents).cast("long"),
            ).alias("cand_idx"),
        )
        .filter(F.col("cand_idx") != F.col("obj_idx"))
    )
    survivors = cand.join(
        true_idx.select(
            F.col("subj").alias("t_subj"),
            F.col("pred").alias("t_pred"),
            F.col("obj_idx").alias("t_idx"),
        ),
        (F.col("subj") == F.col("t_subj"))
        & (F.col("pred") == F.col("t_pred"))
        & (F.col("cand_idx") == F.col("t_idx")),
        "left_anti",
    )
    elected = (
        survivors.groupBy("subj", "pred", "obj_idx", "slot")
        .agg(
            F.min(F.col("probe") * F.lit(PACK) + F.col("cand_idx")).alias("enc")
        )
        .select(
            "subj",
            "pred",
            "obj_idx",
            "slot",
            F.expr(f"CAST(enc DIV {PACK} AS BIGINT)").alias("probe"),
            F.expr(f"CAST(enc % {PACK} AS BIGINT)").alias("neg_idx"),
        )
    )
    out = (
        elected.join(
            _maybe_broadcast(
                vocab.select(F.col("idx").alias("obj_idx"), "entity"), n_ents
            ),
            "obj_idx",
        )
        .withColumnRenamed("entity", "obj")
        .join(
            _maybe_broadcast(
                vocab.select(F.col("idx").alias("neg_idx"),
                             F.col("entity").alias("neg_obj")),
                n_ents,
            ),
            "neg_idx",
        )
    )
    return out.select(
        "subj", "pred", "obj", F.col("slot").cast("long").alias("slot"),
        "probe", "neg_obj"
    )


def weighted_negatives(
    triples: DataFrame,
    weights: DataFrame,
    n_neg: int = 4,
    probes: int = 3,
) -> DataFrame:
    """(subj, pred, obj, slot, probe, neg_obj): filtered tail-corruption
    negatives drawn from the CALLER-WEIGHTED entity distribution — the
    word2vec recipe (corrupt proportionally to unigram frequency, so
    the trainer sees hard negatives, not the uniform long tail).
    ``weights`` is (entity, w) with positive integer weights; entities
    outside it are never drawn.

    The categorical draw is exact integer arithmetic over CUMULATIVE
    WEIGHT INTERVALS: entity e owns [cum_lo(e), cum_hi(e)] (disjoint,
    covering [0, W-1] in entity rank order), the draw for (triple,
    slot, probe) is h = h64(s#p#o#slot#probe) mod W, and the matching
    entity is found with the bucketized RANGE JOIN (events/
    rangejoin.py, bucket width = max weight so every interval spans
    ≤ 2 buckets; the Zipf-head hot buckets are exactly the skew AQE's
    skew-join splitting covers). Collision filtering and the
    lowest-surviving-probe election are the transe_negatives
    machinery (packed-BIGINT min, anti-join against true triples).

    Scale shape: the cumulative table is ONE V-row window (X17
    precedent) built once; draws fan out narrowly (n_neg·probes per
    triple); the range join is |draws| + 2V shuffled rows; the
    anti-join is the one triple-scale shuffle. Deterministic and
    partitioning-invariant — the DuckDB oracle replays the draw as a
    direct BETWEEN join (IEJoin), an independent algorithm.
    """
    from pie_spark.events.rangejoin import range_join
    from pie_spark.ranks import prefix_sums

    _check_counts(n_neg, probes)
    triples = triples.select("subj", "pred", "obj").distinct()

    w = weights.select(
        F.col("entity").cast("string").alias("entity"),
        F.col("w").cast("long").alias("w"),
    ).filter(F.col("w") > 0)
    # distributed rank + running sums (ranks.py) — no single-partition
    # window on the vocab (the measured scaling bottleneck)
    cum = (
        prefix_sums(w, "entity", "w")
        .select("entity", "idx", "cum_lo", "cum_hi")
        .localCheckpoint(eager=True)
    )
    n_ents = cum.count()  # bounded driver long (same precedent as above)
    _check_pack(n_ents, probes)
    bounds = cum.agg(
        F.max("cum_hi").alias("m"), F.max(F.col("cum_hi") - F.col("cum_lo") + 1).alias("mw")
    ).collect()[0]  # bounded: two longs
    total, max_w = int(bounds["m"]) + 1, int(bounds["mw"])
    draws = (
        triples.select(
            "subj",
            "pred",
            "obj",
            F.explode(F.sequence(F.lit(1), F.lit(n_neg))).alias("slot"),
        )
        .select(
            "subj",
            "pred",
            "obj",
            "slot",
            F.explode(F.sequence(F.lit(0), F.lit(probes - 1))).alias("probe"),
        )
        .select(
            "subj",
            "pred",
            "obj",
            "slot",
            "probe",
            F.pmod(
                h64(
                    F.concat_ws(
                        "#",
                        F.col("subj"),
                        F.col("pred"),
                        F.col("obj"),
                        F.col("slot").cast("string"),
                        F.col("probe").cast("string"),
                    )
                ),
                F.lit(total).cast("long"),
            ).alias("h"),
        )
    )
    matched = range_join(
        draws, cum, "h", "cum_lo", "cum_hi", bucket_us=max_w
    ).select("subj", "pred", "obj", "slot", "probe", "entity", "idx")
    survivors = matched.filter(F.col("entity") != F.col("obj")).join(
        triples.select(
            F.col("subj").alias("t_subj"),
            F.col("pred").alias("t_pred"),
            F.col("obj").alias("t_obj"),
        ),
        (F.col("subj") == F.col("t_subj"))
        & (F.col("pred") == F.col("t_pred"))
        & (F.col("entity") == F.col("t_obj")),
        "left_anti",
    )
    elected = (
        survivors.groupBy("subj", "pred", "obj", "slot")
        .agg(F.min(F.col("probe") * F.lit(PACK) + F.col("idx")).alias("enc"))
        .select(
            "subj",
            "pred",
            "obj",
            F.col("slot").cast("long").alias("slot"),
            F.expr(f"CAST(enc DIV {PACK} AS BIGINT)").alias("probe"),
            F.expr(f"CAST(enc % {PACK} AS BIGINT)").alias("neg_idx"),
        )
    )
    return elected.join(
        _maybe_broadcast(
            cum.select(F.col("idx").alias("neg_idx"), F.col("entity").alias("neg_obj")),
            n_ents,
        ),
        "neg_idx",
    ).select("subj", "pred", "obj", "slot", "probe", "neg_obj")


def weighted_negatives_reference(
    triples: list[tuple[str, str, str]],
    weights: dict[str, int],
    n_neg: int = 4,
    probes: int = 3,
) -> list[tuple[str, str, str, int, int, str]]:
    """Plain-Python replay of ``weighted_negatives`` (bisect over the
    cumulative weight array — independent of the range-join path)."""
    from bisect import bisect_right

    tset = set(triples)
    ents = sorted(e for e, wv in weights.items() if wv > 0)
    cum_hi: list[int] = []
    acc = 0
    for e in ents:
        acc += weights[e]
        cum_hi.append(acc - 1)
    total = acc
    out = []
    for (s, p, o), k in product(sorted(tset), range(1, n_neg + 1)):
        best = None
        for j in range(probes):
            h = h64_py(f"{s}#{p}#{o}#{k}#{j}") % total
            i = bisect_right(cum_hi, h - 1)
            cand = ents[i]
            if cand == o or (s, p, cand) in tset:
                continue
            best = (j, cand)
            break
        if best is not None:
            out.append((s, p, o, k, best[0], best[1]))
    return out


def transe_negatives_reference(
    triples: list[tuple[str, str, str]],
    n_neg: int = 4,
    probes: int = 3,
) -> list[tuple[str, str, str, int, int, str]]:
    """Plain-Python replay of ``transe_negatives`` — independent of the
    Spark implementation; parity tests pin the two bit-equal."""
    tset = set(triples)
    ents = sorted({s for s, _, _ in tset} | {o for _, _, o in tset})
    idx_of = {e: i for i, e in enumerate(ents)}
    v = len(ents)
    true_pairs = {(s, p, idx_of[o]) for s, p, o in tset}
    out = []
    for (s, p, o), k in product(sorted(tset), range(1, n_neg + 1)):
        oi = idx_of[o]
        best = None
        for j in range(probes):
            ci = h64_py(f"{s}#{p}#{oi}#{k}#{j}") % v
            if ci == oi or (s, p, ci) in true_pairs:
                continue
            best = (j, ci)
            break
        if best is not None:
            out.append((s, p, o, k, best[0], ents[best[1]]))
    return out
