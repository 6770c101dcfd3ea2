"""Seeded benchmark corpus and its golden triple set.

The base rows stand in for the ``documents`` fixture table, which is not
part of the repository: 5,000 docs of 10-100 words drawn uniformly from
its 30-word lowercase vocabulary, 5% of them a copy of another doc with
`` dup`` appended, as in the fixture. They are fixed; the workload seed
enters only through the replica doc_id suffix ``<base>#<seed>-<rep>``. ``gen_doc`` keys its RNG on
``crc32(doc_id)``, so a new seed gives new documents with the same
statistics, and the golden triples are recomputed from exactly the rows
written.

The corpus is written as parquet with the pipeline's ``DOC_SCHEMA``; the
program under test only ever sees that parquet.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pie_spark.fixtures.gen import gen_doc

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
BASE_SEED = 42
DUP_SHARE = 0.05
FILES_PER_REPLICA = 2  # input files, so the scan has several tasks per core
PROCS = 4  # synthesis processes

_SPAN = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
DOC_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(_SPAN), nullable=False),
    ]
)


def base_texts(n: int) -> list[str]:
    rng = np.random.default_rng(BASE_SEED)
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    return texts


def triple_key(subj: str, pred: str, obj: str, doc_id: str) -> int:
    """64-bit digest of one (subj, pred, obj, doc_id) triple."""
    raw = "\x1f".join((subj, pred, obj, doc_id)).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "little")


class TripleSet:
    """Order-independent fingerprint of a triple multiset: row count and
    the sum of per-row digests mod 2^64. A missing, extra or duplicated
    row changes it."""

    def __init__(self) -> None:
        self.count = 0
        self.digest = 0

    def add(self, subj: str, pred: str, obj: str, doc_id: str) -> None:
        self.count += 1
        self.digest = (self.digest + triple_key(subj, pred, obj, doc_id)) & (2**64 - 1)

    def __iadd__(self, other: "TripleSet") -> "TripleSet":
        self.count += other.count
        self.digest = (self.digest + other.digest) & (2**64 - 1)
        return self

    def as_dict(self) -> dict:
        return {"count": self.count, "digest": f"{self.digest:016x}"}


def fingerprint(table: pa.Table) -> dict:
    """TripleSet of an Arrow table with subj/pred/obj/doc_id columns."""
    ts = TripleSet()
    cols = [table.column(c).to_pylist() for c in ("subj", "pred", "obj", "doc_id")]
    for row in zip(*cols):
        ts.add(*row)
    return ts.as_dict()


def in_checkpoint(doc_id: str) -> bool:
    """The 90% of docs a resume checkpoint covers (deterministic hash)."""
    return zlib.crc32(doc_id.encode()) % 10 != 0


PARTS = {"docs": lambda d: True, "docs90": in_checkpoint, "docs10": lambda d: not in_checkpoint(d)}


def _build_replica(args: tuple) -> dict:
    """Write one replica's rows of every part; return each part's doc
    count and golden TripleSet."""
    out_dir, seed, base, rep = args
    rows: dict[str, list] = {p: [] for p in PARTS}
    golden = {p: TripleSet() for p in PARTS}
    for i, text in enumerate(base_texts(base)):
        doc_id = f"{i}#{seed}-{rep}"
        g = gen_doc(doc_id, text)
        for p, member in PARTS.items():
            if member(doc_id):
                rows[p].append({"doc_id": doc_id, "spans": g.spans})
                for t in g.triples:
                    golden[p].add(t["subj"], t["pred"], t["obj"], t["doc_id"])
    for p in PARTS:
        table = pa.Table.from_pylist(rows[p], schema=DOC_ARROW)
        step = -(-table.num_rows // FILES_PER_REPLICA)
        for f in range(FILES_PER_REPLICA):
            name = f"part-{rep:03d}-{f}.parquet"
            pq.write_table(table.slice(f * step, step), os.path.join(out_dir, p, name))
    return {p: (len(rows[p]), golden[p]) for p in PARTS}


def build(out_dir: str, seed: int, base: int, replicas: int) -> dict:
    """Write ``docs/`` (every doc), ``docs90/`` (the checkpoint's share)
    and ``docs10/`` (the rest) under ``out_dir``, one replica per task
    over ``PROCS`` processes; return each part's doc count and golden
    fingerprint."""
    for p in PARTS:
        os.makedirs(os.path.join(out_dir, p), exist_ok=True)
    pool = multiprocessing.get_context("fork").Pool(min(PROCS, replicas))
    try:
        parts = pool.map(_build_replica, [(out_dir, seed, base, r) for r in range(replicas)])
    finally:
        pool.close()
        pool.join()
    info = {}
    for p in PARTS:
        golden = TripleSet()
        for r in parts:
            golden += r[p][1]
        info[p] = {"docs": sum(r[p][0] for r in parts), "golden": golden.as_dict()}
    return info
