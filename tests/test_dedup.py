"""Dedup family on planted duplicates (exact / MinHash / SimHash /
n-gram Jaccard / embedding-cosine)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill and the birds sing in the maple tree outside"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one-token edit
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE), (2, BASE),          # exact dup pair
        (3, NEAR),                      # near dup of 1/2
        (4, OTHER), (5, OTHER + " x"),  # near dup pair, far from BASE
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(corpus):
    from pie_spark.dedup.exact import dedup_map, duplicate_groups

    groups = {r.content_md5: r for r in duplicate_groups(corpus).collect()}
    dups = [g for g in groups.values() if g.n_docs > 1]
    assert len(dups) == 1 and dups[0].rep_doc_id == 1 and dups[0].n_docs == 2
    m = {r.doc_id: r for r in dedup_map(corpus).collect()}
    assert m[2].is_dup and m[2].rep_doc_id == 1
    assert not m[1].is_dup and not m[3].is_dup


def test_minhash_near_duplicates(corpus):
    from pie_spark.dedup.minhash import near_duplicates

    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in near_duplicates(corpus, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # exact dups: all slots agree
    assert (1, 3) in pairs or (2, 3) in pairs          # near dup caught
    assert all(not (a in (1, 2, 3) and b in (4, 5)) for a, b in pairs)


def test_simhash_near_duplicates(corpus):
    from pie_spark.dedup.simhash import near_duplicate_pairs, simhash_chunks

    ch = {r.doc_id: (r.h0, r.h1, r.h2, r.h3) for r in simhash_chunks(corpus).collect()}
    assert ch[1] == ch[2]  # identical docs → identical simhash
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in near_duplicate_pairs(corpus, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 10
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_simhash_blocking_guarantee_beyond_chunk_count(spark):
    """A Hamming-5 pair whose 5 differing bits hit ALL FOUR 16-bit
    chunks: the r01 chunk-equality blocking had no matching chunk and
    silently missed it; the (max_hamming+1)-block scheme must find it."""
    from pie_spark.dedup.simhash import pairs_from_chunks

    a = (0b0000000000000000, 0, 0, 0)
    # flip bits 0, 1 (chunk 0), 16 (chunk 1), 32 (chunk 2), 48 (chunk 3)
    b = (0b11, 1, 1, 1)
    assert all(x != y for x, y in zip(a, b))  # no chunk agrees
    sh = spark.createDataFrame(
        [(1, *a), (2, *b)], ["doc_id", "h0", "h1", "h2", "h3"]
    )
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs_from_chunks(sh, max_hamming=5).collect()}
    assert got == {(1, 2): 5}
    # and the distance filter still rejects when the bar is lower
    assert pairs_from_chunks(sh, max_hamming=4).count() == 0


def test_simhash_low_hamming_edge(spark):
    """max_hamming 0/1 must not overflow the block key (width capped at
    32 bits via a 2-block minimum) and must stay exact."""
    from pie_spark.dedup.simhash import pairs_from_chunks

    sh = spark.createDataFrame(
        [(1, 5, 6, 7, 8), (2, 5, 6, 7, 8), (3, 4, 6, 7, 8)],  # 3 differs in 1 bit
        ["doc_id", "h0", "h1", "h2", "h3"],
    )
    exact = {(r.doc_a, r.doc_b) for r in pairs_from_chunks(sh, max_hamming=0).collect()}
    assert exact == {(1, 2)}
    near = {(r.doc_a, r.doc_b): r.hamming for r in pairs_from_chunks(sh, max_hamming=1).collect()}
    assert near == {(1, 2): 0, (1, 3): 1, (2, 3): 1}


def test_simhash_blocking_exactness_fuzz(spark):
    """Property: for random 60-live-bit signatures and several distance
    bars, the blocked join returns EXACTLY the brute-force ≤h pair set
    (pigeonhole completeness + verify-filter precision)."""
    import random

    from pie_spark.dedup.simhash import LIVE_BITS, pairs_from_chunks

    rng = random.Random(7)
    base = rng.getrandbits(LIVE_BITS)
    vals = [base]
    for _ in range(39):
        v = vals[rng.randrange(len(vals))]
        for _ in range(rng.randrange(0, 12)):  # mutate 0-11 bits
            v ^= 1 << rng.randrange(LIVE_BITS)
        vals.append(v)
    rows = [
        (i, v & 0xFFFF, (v >> 16) & 0xFFFF, (v >> 32) & 0xFFFF, (v >> 48) & 0xFFFF)
        for i, v in enumerate(vals)
    ]
    sh = spark.createDataFrame(rows, ["doc_id", "h0", "h1", "h2", "h3"])
    for h in (2, 5, 9):
        want = {
            (i, j): bin(vals[i] ^ vals[j]).count("1")
            for i in range(len(vals))
            for j in range(i + 1, len(vals))
            if bin(vals[i] ^ vals[j]).count("1") <= h
        }
        got = {(r.doc_a, r.doc_b): r.hamming for r in pairs_from_chunks(sh, max_hamming=h).collect()}
        assert got == want, f"h={h}"


def test_simhash_max_hamming_validated(spark):
    import pytest

    from pie_spark.dedup.simhash import pairs_from_chunks

    sh = spark.createDataFrame([(1, 0, 0, 0, 0)], ["doc_id", "h0", "h1", "h2", "h3"])
    with pytest.raises(ValueError, match="max_hamming"):
        pairs_from_chunks(sh, max_hamming=16)


def test_neardup_clusters_transitive(spark, corpus):
    """A~B and B~C must land in ONE cluster with one rep — pairs alone
    would keep a copy per pair."""
    from pie_spark.dedup.clusters import dedup_by_cluster, near_dup_clusters

    got = {r.doc_id: r.cluster_rep for r in near_dup_clusters(corpus, threshold=0.5).collect()}
    assert got == {"1": "1", "2": "1", "3": "1", "4": "4", "5": "4"}
    kept = {r.doc_id for r in dedup_by_cluster(corpus, threshold=0.5).collect()}
    assert kept == {1, 4}
    # singleton (no near-dup) survives dedup untouched
    plus = corpus.union(spark.createDataFrame([(9, "a lone unique document")], corpus.schema))
    kept2 = {r.doc_id for r in dedup_by_cluster(plus, threshold=0.5).collect()}
    assert kept2 == {1, 4, 9}


def test_ngram_jaccard(corpus):
    from pie_spark.dedup.ngram import jaccard_pairs

    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_pairs(corpus, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert (4, 5) in pairs
    assert (1, 4) not in pairs


def test_embedding_near_duplicates(spark):
    from pie_spark.dedup.embedding import cosine_near_duplicates

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.05
    far = rng.standard_normal(64)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in near]),
        (3, [float(x) for x in far]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.id_a, r.id_b): r.sim for r in cosine_near_duplicates(emb, threshold=0.9).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.95
    assert (1, 3) not in pairs and (2, 3) not in pairs


def _delta_vs_full(spark, rows, is_new, threshold=0.5, max_bucket=50):
    """Assert delta_near_duplicates(old-index, new) ≡ full
    near_duplicates(all) restricted to pairs touching the delta."""
    from pie_spark.dedup.incremental import build_index, delta_near_duplicates
    from pie_spark.dedup.minhash import near_duplicates

    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    old, new = docs.filter(~is_new(F.col("doc_id"))), docs.filter(is_new(F.col("doc_id")))
    sigs, bk = build_index(old)
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in delta_near_duplicates(
            sigs, bk, new, threshold=threshold, max_bucket=max_bucket
        ).pairs.collect()
    }
    new_ids = {r.doc_id for r in new.collect()}
    want = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in near_duplicates(
            docs, threshold=threshold, max_bucket=max_bucket
        ).collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }
    assert got == want
    return got


def test_minhash_delta_matches_full_restricted(spark, corpus):
    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    # delta {2, 5}: 2 pairs with old 1/3 (new×old), 5 pairs with old 4
    got = _delta_vs_full(spark, rows, lambda c: c.isin(2, 5))
    assert any(a == 1 and b == 2 for a, b in got)
    assert any((a, b) == (4, 5) for a, b in got)


def test_minhash_delta_new_x_new_and_fuzz(spark):
    """Random corpora and random splits: incremental ≡ full, including
    pairs where BOTH sides are in the delta."""
    rng = np.random.default_rng(11)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    for trial in range(3):
        rows = []
        for i in range(24):
            base = [words[int(w)] for w in rng.integers(0, len(words), 12)]
            rows.append((i, " ".join(base)))
            if rng.random() < 0.5:  # plant a near dup of it
                j = int(rng.integers(0, 12))
                dup = list(base)
                dup[j] = words[int(rng.integers(0, len(words)))]
                rows.append((100 + i, " ".join(dup)))
        pivot = int(rng.integers(1, 99))
        _delta_vs_full(spark, rows, lambda c, p=pivot: (c % 100) >= p, threshold=0.4)


def test_minhash_delta_combined_size_guard(spark):
    """A bucket under the guard on the OLD side alone but over it once
    the delta lands must emit nothing — combined-size semantics, same
    as a full re-run over old ∪ new."""
    boiler = "spam spam spam spam spam spam spam spam spam spam"
    rows = [(i, boiler) for i in range(8)]  # identical docs, one bucket
    # max_bucket=7: old side (6 docs: ids with %4!=0 → 0? compute below)
    is_new = lambda c: (c % 4) == 0  # noqa: E731  → new = {0, 4}, old = 6 docs
    got = _delta_vs_full(spark, rows, is_new, threshold=0.4, max_bucket=7)
    assert got == {}  # 6 old + 2 new = 8 > 7 → guarded out everywhere
    # and with a roomier guard the same split emits every delta pair
    got2 = _delta_vs_full(spark, rows, is_new, threshold=0.4, max_bucket=8)
    assert len(got2) == 2 * 6 + 1  # each new doc × 6 old, plus (0, 4)


def test_minhash_delta_standing_tables_not_shuffled(spark, tmp_path):
    """Plan pin: the standing index tables are scanned as the stream
    side of broadcast joins — no SortMergeJoin, no hash-partitioning
    of the index parquet anywhere in the pairs plan."""
    import contextlib
    import io

    from pie_spark.dedup.incremental import build_index, delta_near_duplicates

    docs = spark.createDataFrame(
        [(i, f"w{i} common text body shared across docs {i % 3}") for i in range(12)],
        ["doc_id", "text"],
    )
    sigs, bk = build_index(docs.filter(F.col("doc_id") % 5 != 0))
    sp, bp = str(tmp_path / "sigs"), str(tmp_path / "bk")
    sigs.write.parquet(sp)
    bk.write.parquet(bp)
    res = delta_near_duplicates(
        spark.read.parquet(sp),
        spark.read.parquet(bp),
        docs.filter(F.col("doc_id") % 5 == 0),
        threshold=0.0,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.pairs.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    # the verification stage is pure broadcast joins over eagerly
    # checkpointed delta-sized inputs — zero shuffles; the probe stages
    # against the standing tables carry explicit broadcast() hints in
    # dedup/incremental.py, so the index side can never be the build
    # side of a shuffle join
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_h64_py_matches_spark_h64(spark):
    """The Python twin the reference replays use is bit-identical to the
    Spark column hash, non-ASCII included."""
    from pie_spark.dedup.shingles import h64, h64_py

    vals = ["", "a", "n01#0#3#n07#n02", "O'Brien", "Ǆ ı σ 東京 🙂"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", h64(F.col("s")).alias("h")).collect()}
    assert got == {v: h64_py(v) for v in vals}
