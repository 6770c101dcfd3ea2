"""Deterministic entity dictionary / gazetteer (FIXTURES.md §3).

~500 PERSON entities with aliases (several surfaces per entity),
deliberate norm_key collisions (several entities sharing a surface) so
entity linking (SURVEY.md §2.5 J1/J2) and connected-components
canonicalization (§2.8 G1) have real work, and a handful of hot
surfaces planted in >10% of docs to exercise salting (J6/A4).

Everything here is pure Python, seed-free (fully closed-form), so the
dictionary is identical across processes, partitionings and runs —
required for golden-triple determinism (SURVEY.md §5.4).

The module also computes the *golden* canonicalization via a plain
union-find over (norm_key ~ entity_id) bipartite connectivity; the
Spark CC operator (pie_spark/canon/cc.py) must reproduce exactly this
mapping, which tests assert (SURVEY.md §5.2 test_cc_unionfind).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache

FIRST_NAMES = [
    "Alice", "Benjamin", "Carla", "Diego", "Elena", "Farid", "Grace", "Hiro",
    "Ingrid", "Jamal", "Katya", "Liam", "Mei", "Nadia", "Omar", "Priya",
    "Quentin", "Rosa", "Samir", "Tara", "Umar", "Vera", "Wendell", "Ximena",
    "Yusuf", "Zofia", "Anders", "Bianca", "Cormac", "Dalia", "Emeka", "Freya",
    "Gustav", "Hana", "Ivo", "Jolene", "Kofi", "Leila", "Marek", "Noor",
]
LAST_NAMES = [
    "Abernathy", "Bergstrom", "Castellano", "Dumont", "Eriksen", "Fontaine",
    "Galloway", "Hargrove", "Iwata", "Jankowski", "Kowalczyk", "Lindqvist",
    "Moreau", "Novak", "Okonkwo", "Petrov", "Quijano", "Rasmussen",
    "Silveira", "Takahashi", "Ulloa", "Vasquez", "Whitfield", "Yamamoto",
    "Zielinski",
]
STREET_NAMES = [
    "Maple", "Oak", "Cedar", "Birch", "Willow", "Aspen", "Juniper", "Laurel",
    "Magnolia", "Sycamore", "Chestnut", "Hawthorn", "Poplar", "Alder", "Elm",
]
STREET_SUFFIXES = [
    "St", "Ave", "Rd", "Blvd",            # abbreviated
    "Street", "Avenue", "Road", "Boulevard", "Lane", "Drive", "Way",  # spelled out
]
UNIT_KINDS = ["Apt", "Suite", "Unit"]

N_ENTITIES = 500
N_SHARED = 10     # entities 490..499 share their primary surface with 0..9
N_HOT = 5         # entities 0..4 are planted in >10% of docs (hot keys)

_norm_re = re.compile(r"[^a-z0-9]+")


def normalize_surface(s: str) -> str:
    """Normalization used for dictionary join keys: lower, strip
    punctuation, collapse whitespace. Mirrored natively in Spark by
    pie_spark/extract/normalize.py — keep the two in sync."""
    return _norm_re.sub(" ", s.lower()).strip()


def _primary_surface(i: int) -> str:
    # closed-form: 40 firsts × 25 lasts = 1000 unique combos, so entities
    # 0..489 get unique primary surfaces; entities 490..499 intentionally
    # reuse the surface of 0..9 (ambiguous-surface linking work).
    j = i - 490 if i >= 490 else i
    first = FIRST_NAMES[j % len(FIRST_NAMES)]
    last = LAST_NAMES[(j // len(FIRST_NAMES)) % len(LAST_NAMES)]
    return f"{first} {last}"


@dataclass(frozen=True)
class DictEntry:
    surface: str
    norm_key: str
    entity_id: str
    entity_type: str
    prior: float


@lru_cache(maxsize=1)
def dictionary_entries() -> tuple[DictEntry, ...]:
    """The full entity dictionary as (surface, norm_key, entity_id,
    entity_type, prior) rows. ~500 entities, ~900 surface rows."""
    rows: list[DictEntry] = []
    for i in range(N_ENTITIES):
        eid = f"ent:person:{i:04d}"
        prior = ((i * 2654435761) % 1000) / 1000.0
        primary = _primary_surface(i)
        surfaces = [primary]
        first, last = primary.split(" ", 1)
        if i % 3 == 0:
            surfaces.append(f"{first[0]}. {last}")       # alias: initial
        if i % 5 == 0:
            surfaces.append(f"{primary} Jr.")             # alias: suffix
        if i % 7 == 0:
            surfaces.append(primary.upper())              # alias: caps (norm collides w/ primary)
        for s in surfaces:
            rows.append(DictEntry(s, normalize_surface(s), eid, "PERSON", prior))
    return tuple(rows)


def hot_surfaces() -> list[str]:
    """Primary surfaces of the deliberately hot entities (0..N_HOT)."""
    return [_primary_surface(i) for i in range(N_HOT)]


@lru_cache(maxsize=1)
def golden_canonical_map() -> dict[str, str]:
    """norm_key → canonical entity_id, via pure-python union-find over
    the bipartite (norm_key, entity_id) graph: two norm_keys are in one
    component iff they share an entity; two entities iff they share a
    norm_key. Canonical entity of a component = min entity_id.

    This is the golden answer the distributed CC (G1) must match.
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # deterministic: smaller string wins as root
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    for e in dictionary_entries():
        union("k:" + e.norm_key, "e:" + e.entity_id)

    # canonical entity per component root
    canon_ent: dict[str, str] = {}
    for e in dictionary_entries():
        r = find("e:" + e.entity_id)
        cur = canon_ent.get(r)
        if cur is None or e.entity_id < cur:
            canon_ent[r] = e.entity_id
    return {
        e.norm_key: canon_ent[find("k:" + e.norm_key)]
        for e in dictionary_entries()
    }

