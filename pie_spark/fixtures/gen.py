"""Deterministic interleaved-corpus generator + golden outputs (FIXTURES.md §2/§4).

Synthesizes the binding pipeline input table

    interleaved_docs(doc_id: string,
                     spans: array<struct<kind,text,media_ref,offset:int32>>)

from the driver-provided ``documents`` fixture table, planting PII
mentions (PERSON / EMAIL / SSN / PHONE / ADDRESS) from fixed pools plus
adversarial negatives, and records every plant into golden tables —
so golden mentions/triples are *exact by construction* and the P/R≥0.95
gate (BASELINE.json:2,6) is scored against ground truth.

Determinism & scale:
  * the RNG is keyed per ``doc_id`` (``default_rng([42, crc32(doc_id)])``)
    so output is independent of partitioning, row order, and cluster
    size — a requirement for resume tests and the two-parallelism
    scaling run (SURVEY.md §5.4).
  * generation runs distributed via ``mapInPandas`` (one Arrow batch in,
    one out; no driver-side materialization), so the same code path
    synthesizes a 10^12-doc corpus on a real cluster.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pie_spark.fixtures import gazetteer as gz
from pie_spark.schemas import (
    DICT_SCHEMA,
    DOC_SCHEMA,
    GOLDEN_MENTION_SCHEMA,
    GOLDEN_TRIPLE_SCHEMA,
)
from pie_spark.session import local_frame

MEDIA_ADVANCE = 16  # media spans advance the char offset by a fixed 16 (FIXTURES.md §2.4)

# ---------------------------------------------------------------------------
# per-doc generation (pure function of (doc_id, text) — partitioning-free)
# ---------------------------------------------------------------------------


@dataclass
class DocGen:
    doc_id: str
    spans: list[dict] = field(default_factory=list)   # kind,text,media_ref,offset
    mentions: list[dict] = field(default_factory=list)
    triples: list[dict] = field(default_factory=list)


def _surfaces_by_entity() -> dict[int, list[str]]:
    out: dict[int, list[str]] = {}
    for e in gz.dictionary_entries():
        idx = int(e.entity_id.rsplit(":", 1)[1])
        out.setdefault(idx, [])
        if e.surface not in out[idx]:
            out[idx].append(e.surface)
    return out


_SURFACES: dict[int, list[str]] | None = None


def _mk_email(rng: np.random.Generator) -> str:
    f = gz.FIRST_NAMES[int(rng.integers(0, len(gz.FIRST_NAMES)))].lower()
    l = gz.LAST_NAMES[int(rng.integers(0, len(gz.LAST_NAMES)))].lower()
    n = int(rng.integers(0, 10))
    return f"{f}.{l}@example{n}.com"


def _mk_ssn(rng: np.random.Generator) -> str:
    area = int(rng.integers(100, 899))
    if area == 666:
        area = 667
    group = int(rng.integers(1, 100))
    serial = int(rng.integers(1, 10000))
    return f"{area:03d}-{group:02d}-{serial:04d}"


def _mk_phone(rng: np.random.Generator) -> str:
    n1 = int(rng.integers(2, 10))
    x1 = int(rng.integers(0, 100))
    n2 = int(rng.integers(2, 10))
    x2 = int(rng.integers(0, 100))
    x3 = int(rng.integers(0, 10000))
    return f"({n1}{x1:02d}) {n2}{x2:02d}-{x3:04d}"


def _mk_address(rng: np.random.Generator) -> str:
    """Addresses in the full shape range the matcher must cover:
    1-2 street words, abbreviated OR spelled-out suffix, optional unit
    (de-overfit per VERDICT r01 — the generator and ADDRESS_RE were
    co-designed to a single narrow shape)."""
    num = int(rng.integers(1, 10000))
    n_words = 2 if rng.random() < 0.35 else 1
    words = " ".join(
        gz.STREET_NAMES[int(rng.integers(0, len(gz.STREET_NAMES)))]
        for _ in range(n_words)
    )
    suf = gz.STREET_SUFFIXES[int(rng.integers(0, len(gz.STREET_SUFFIXES)))]
    addr = f"{num} {words} {suf}"
    if rng.random() < 0.25:
        kind = gz.UNIT_KINDS[int(rng.integers(0, len(gz.UNIT_KINDS)))]
        addr += f" {kind} {int(rng.integers(1, 100))}"
    return addr


_PII_MAKERS = {"EMAIL": _mk_email, "SSN": _mk_ssn, "PHONE": _mk_phone, "ADDRESS": _mk_address}
_PII_TYPES = ["EMAIL", "SSN", "PHONE", "ADDRESS"]

# multilingual filler vocabulary (VERDICT r02 #6): ~7% of synthesized
# docs carry non-Latin/accented base tokens so every e2e / bench run
# exercises the Unicode normalizer, script-tier lang-ID and dedup
# family on non-ASCII text. Filler only — never mention material, so
# golden P/R is untouched by construction (no digits, no gazetteer
# surfaces, no PII shapes).
_ML_WORDS = {
    "ja": ["日本語", "テキスト", "文書", "情報", "処理", "これは"],
    "zh": ["中文", "文档", "数据", "处理", "系统", "内容"],
    "ru": ["русский", "текст", "документ", "данные", "система"],
    "ar": ["نص", "وثيقة", "بيانات", "نظام", "معالجة"],
    "ko": ["한국어", "텍스트", "문서", "데이터", "시스템"],
    "el": ["κείμενο", "έγγραφο", "δεδομένα", "σύστημα"],
    "hi": ["पाठ", "दस्तावेज़", "डेटा", "प्रणाली"],
    "acc": ["café", "naïve", "señor", "übermäßig", "Ærø"],
}
_ML_LANGS = sorted(_ML_WORDS)


def _ml_mix(rng: np.random.Generator, base: list[str]) -> list[str]:
    """Deterministically weave multilingual filler into the base token
    stream: p<0.05 → sprinkle 3..10 foreign tokens into the English
    base; p<0.07 → replace the base entirely (dominant-script doc, so
    lang_id's script tier fires end-to-end)."""
    p = rng.random()
    if p >= 0.07:
        return base
    lang = _ML_LANGS[int(rng.integers(0, len(_ML_LANGS)))]
    words = _ML_WORDS[lang]
    if p < 0.05:
        n_ml = int(rng.integers(3, 11))
        slots = sorted(
            (int(rng.integers(0, len(base) + 1)) for _ in range(n_ml)), reverse=True
        )
        for pos in slots:
            base.insert(pos, words[int(rng.integers(0, len(words)))])
        return base
    return [words[int(rng.integers(0, len(words)))] for _ in range(max(len(base), 4))]


def gen_doc(doc_id: str, text: str) -> DocGen:
    """Generate one interleaved document + its golden rows. Pure function
    of (doc_id, text): rng keyed on crc32(doc_id) with global seed 42."""
    global _SURFACES
    if _SURFACES is None:
        _SURFACES = _surfaces_by_entity()
    rng = np.random.default_rng([42, zlib.crc32(doc_id.encode())])
    base = _ml_mix(rng, text.split() or ["empty"])

    # ---- plan planted items, in intended left-to-right order --------------
    # item = (token_str, mention_type|None, extra) — extra: entity idx for persons
    items: list[tuple[str, str | None, int]] = []

    # orphan PII first (no preceding person → no HAS_* golden triple)
    if rng.random() < 0.15:
        t = _PII_TYPES[int(rng.integers(0, 4))]
        items.append((_PII_MAKERS[t](rng), t, -1))

    n_person = int(rng.integers(0, 4))
    for _ in range(n_person):
        if rng.random() < 0.30:
            ent = int(rng.integers(0, gz.N_HOT))       # hot entity (salting work)
        else:
            ent = int(rng.integers(0, gz.N_ENTITIES))
        surfs = _SURFACES[ent]
        surface = surfs[int(rng.integers(0, len(surfs)))]
        person_pos = len(items)
        items.append((surface, "PERSON", ent))
        if rng.random() < 0.70:
            t = _PII_TYPES[int(rng.integers(0, 4))]
            items.append((_PII_MAKERS[t](rng), t, person_pos))

    # adversarial negatives (golden records nothing for these)
    if rng.random() < 0.25:  # email inside a URL — matcher must reject
        f = gz.FIRST_NAMES[int(rng.integers(0, len(gz.FIRST_NAMES)))].lower()
        items.append((f"http://www.notreal.io/u/{f}.fake@notreal.io", None, -1))
    if rng.random() < 0.25:  # bare 9-digit id — not an SSN (no dashes)
        items.append((str(int(rng.integers(100000000, 999999999))), None, -1))
    if rng.random() < 0.20:  # invalid-area SSN look-alike
        bad = ["000", "666", "900", "987"][int(rng.integers(0, 4))]
        items.append((f"{bad}-{int(rng.integers(10,99))}-{int(rng.integers(1000,9999))}", None, -1))
    if rng.random() < 0.20:  # name look-alike not in gazetteer
        items.append(("Zxqw Vbnm", None, -1))

    # ---- insert items into the base token stream at sorted slots ----------
    slots = sorted(int(rng.integers(0, len(base) + 1)) for _ in items)
    tokens: list[tuple[str, str | None, int]] = []
    it = 0
    for pos in range(len(base) + 1):
        while it < len(items) and slots[it] == pos:
            tokens.append(items[it])
            it += 1
        if pos < len(base):
            tokens.append((base[pos], "__base__", -1))

    # ---- split token stream into 1..5 text spans --------------------------
    n_spans = int(rng.integers(1, 6))
    n_spans = min(n_spans, len(tokens))
    cuts = sorted(rng.choice(np.arange(1, len(tokens)), size=n_spans - 1, replace=False).tolist()) if n_spans > 1 else []
    bounds = [0] + cuts + [len(tokens)]
    text_spans: list[list[tuple[str, str | None, int]]] = [
        tokens[bounds[i] : bounds[i + 1]] for i in range(n_spans)
    ]

    # ---- interleave 0..3 media spans at span gaps --------------------------
    n_media = int(rng.integers(0, 4))
    media_gaps = sorted(int(rng.integers(0, n_spans + 1)) for _ in range(n_media))
    media_kind = [("image", "audio")[int(rng.integers(0, 2))] for _ in range(n_media)]

    # ---- assemble spans, compute offsets, record golden mentions ----------
    g = DocGen(doc_id)
    offset = 0
    span_idx = 0
    media_i = 0
    # mention bookkeeping: item index → (global_offset, surface, type, ent)
    planted: dict[int, dict] = {}
    item_counter = 0

    def emit_media() -> None:
        nonlocal offset, span_idx, media_i
        g.spans.append(
            {"kind": media_kind[media_i], "text": None,
             "media_ref": f"media://{doc_id}/{media_i}", "offset": offset}
        )
        g.triples.append(
            {"subj": doc_id, "pred": "HAS_MEDIA", "obj": f"media://{doc_id}/{media_i}",
             "subj_type": "DOC", "obj_type": "MEDIA", "doc_id": doc_id}
        )
        offset += MEDIA_ADVANCE
        span_idx += 1
        media_i += 1

    for si in range(n_spans):
        while media_i < n_media and media_gaps[media_i] == si:
            emit_media()
        parts: list[str] = []
        pos_in_span = 0
        for tok, mtype, extra in text_spans[si]:
            if parts:
                pos_in_span += 1  # joining space
            start = pos_in_span
            parts.append(tok)
            pos_in_span += len(tok)
            if mtype is not None and mtype != "__base__":
                g.mentions.append(
                    {"doc_id": doc_id, "span_idx": span_idx, "start": start,
                     "end": start + len(tok), "mention_type": mtype, "surface": tok}
                )
                planted[item_counter] = {
                    "global": offset + start, "surface": tok, "type": mtype, "ent": extra,
                }
            if mtype != "__base__":
                item_counter += 1
        span_text = " ".join(parts)
        g.spans.append({"kind": "text", "text": span_text, "media_ref": None, "offset": offset})
        offset += len(span_text) + 1
        span_idx += 1
    while media_i < n_media:
        emit_media()

    # ---- golden triples from planted items ---------------------------------
    canon = gz.golden_canonical_map()
    for idx, m in sorted(planted.items()):
        if m["type"] == "PERSON":
            ce = canon[gz.normalize_surface(m["surface"])]
            g.triples.append(
                {"subj": doc_id, "pred": "MENTIONS", "obj": ce,
                 "subj_type": "DOC", "obj_type": "PERSON", "doc_id": doc_id}
            )
    # pairing: nearest preceding PERSON plant (by construction = its owner,
    # since a PII item directly follows its person in the item order)
    for idx, m in sorted(planted.items()):
        if m["type"] in _PII_MAKERS and m["ent"] >= 0:
            owner = planted.get(m["ent"])
            if owner is not None and owner["type"] == "PERSON":
                ce = canon[gz.normalize_surface(owner["surface"])]
                g.triples.append(
                    {"subj": ce, "pred": f"HAS_{m['type']}", "obj": m["surface"],
                     "subj_type": "PERSON", "obj_type": m["type"], "doc_id": doc_id}
                )

    # dedup triples (same plant may repeat within a doc)
    seen = set()
    uniq = []
    for t in g.triples:
        k = (t["subj"], t["pred"], t["obj"], t["doc_id"])
        if k not in seen:
            seen.add(k)
            uniq.append(t)
    g.triples = uniq
    return g


# ---------------------------------------------------------------------------
# Spark-side distributed synthesis (mapInPandas — one Arrow pass)
# ---------------------------------------------------------------------------


def _docs_reader(spark: SparkSession, sf_dir: str, mult: int = 1) -> DataFrame:
    """Base (doc_id, text) rows; ``mult`` > 1 replicates the base table
    deterministically with suffixed doc_ids ("<id>#<rep>"). Because the
    generator RNG is keyed per doc_id, every replica synthesizes a
    *different* document — so mult scales the corpus without changing
    its statistics, which is how the bench builds a compute-bound input
    for the two-parallelism scaling run (BASELINE.md §6)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    if mult > 1:
        import pyspark.sql.functions as F

        reps = spark.range(mult).select(F.col("id").cast("string").alias("rep"))
        df = df.crossJoin(reps).select(
            F.concat_ws("#", "doc_id", "rep").alias("doc_id"), "text"
        )
    return df


def interleaved_docs(
    spark: SparkSession, sf_dir: str, mult: int = 1, parts: int = 0
) -> DataFrame:
    """The binding input table, synthesized distributed (no collect).
    ``parts`` > 0 repartitions the base rows before generation so the
    (CPU-bound, per-doc) synthesis parallelizes regardless of source
    file layout; output is partitioning-independent by construction."""

    def gen(batches):
        for pdf in batches:
            rows = [gen_doc(str(d), t) for d, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame(
                {"doc_id": [r.doc_id for r in rows], "spans": [r.spans for r in rows]}
            )

    base = _docs_reader(spark, sf_dir, mult)
    if parts > 0:
        base = base.repartition(parts)
    return base.mapInPandas(gen, schema=DOC_SCHEMA)


def golden_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    def gen(batches):
        for pdf in batches:
            out: list[dict] = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                out.extend(gen_doc(str(d), t).mentions)
            yield pd.DataFrame(out, columns=[f.name for f in GOLDEN_MENTION_SCHEMA.fields])

    return _docs_reader(spark, sf_dir).mapInPandas(gen, schema=GOLDEN_MENTION_SCHEMA)


def golden_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    def gen(batches):
        for pdf in batches:
            out: list[dict] = []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                out.extend(gen_doc(str(d), t).triples)
            yield pd.DataFrame(out, columns=[f.name for f in GOLDEN_TRIPLE_SCHEMA.fields])

    return _docs_reader(spark, sf_dir).mapInPandas(gen, schema=GOLDEN_TRIPLE_SCHEMA)


def entity_dict_df(spark: SparkSession) -> DataFrame:
    """Gazetteer as a small DataFrame (broadcast side of J1): an
    Arrow-built local relation (``LocalTableScan``, see
    :func:`pie_spark.session.local_frame`), so scanning it runs no
    Python task."""
    rows = [
        (e.surface, e.norm_key, e.entity_id, e.entity_type, e.prior)
        for e in gz.dictionary_entries()
    ]
    return local_frame(spark, DICT_SCHEMA, list(zip(*rows)))
