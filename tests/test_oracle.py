"""Oracle parity (§5.2): every SQL-checked query in pie_spark.queries
must match DuckDB on the sf0.01 fixtures — row count + order-insensitive
values under sorted column names (mirrors the driver's CORRECTNESS gate)."""

from __future__ import annotations

import math

import duckdb
import pytest

from pie_spark.queries import QUERIES

from .conftest import SF_DIR_01

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR_01}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _rows(pdf):
    cols = sorted(pdf.columns)
    return sorted(tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False))


SQL_CHECKED = [(n, fn, sql) for n, (fn, sql) in QUERIES.items() if sql is not None]


def _folded_queries():
    """Queries folded OUT of the driver registry to stay under its
    50-query hard-signal cap (VERDICT r03 next#2) — their driver rows
    moved to consolidated entries (doc_stats, media_transforms,
    *_neardups, passage_dedup_text), but the standalone operators keep
    FULL hash-checked oracle evidence here."""
    from pie_spark import queries as q
    from pie_spark.dedup.simhash import simhash_sql

    return [
        ("token_counts", q.q_token_counts, q.SQL_TOKEN_COUNTS),
        ("quality_scores", q.q_quality_scores, q.SQL_QUALITY_SCORES),
        ("fingerprints", q.q_fingerprints, q.SQL_FINGERPRINTS),
        ("minhash_signatures", q.q_minhash_signatures, q._minhash_sql()),
        ("simhash", q.q_simhash, simhash_sql()),
        ("passage_dedup", q.q_passage_dedup, q.SQL_PASSAGE_DEDUP),
        ("media_resize", q.q_media_resize, q._media_resize_sql()),
        ("media_frame_sample", q.q_media_frame_sample, q._SQL_MEDIA_FRAME_SAMPLE),
        ("hash_sample", q.q_hash_sample, q.SQL_HASH_SAMPLE),
        # the driver row trains its quantizer (ann_ivf); the
        # training-free hash-seed IVF keeps its oracle here
        ("ann_ivf_hashseed", q.q_ann_ivf_hashseed, q._ann_ivf_sql()),
        # r05: slot funds pipeline_triples_all; J2/W1 top-1 selection
        # is driver-checked inside that row's linking stage
        ("top1_candidate", q.q_top1_candidate, q.SQL_TOP1_CANDIDATE),
        # r06: slot funds mix_epochs (same salted-hash threshold
        # machinery on harder multiset semantics); rate derivation
        # stays driver-checked in temperature_sample
        ("stratified_sample", q.q_stratified_sample, q._stratified_sample_sql()),
        # r06 new operator, born folded (registry at the 50 cap):
        # exact distributed quantiles — V-row shuffle, integer ppm
        # rank thresholds, full hash parity here
        ("length_quantiles", q.q_length_quantiles, q.SQL_LENGTH_QUANTILES),
        # r06: slot funds cc_incremental (incremental ≡ full CC on the
        # same chain graph); the standalone full-CC query keeps its
        # recursive-CTE hash oracle here
        ("cc_components", q.q_cc_components, q.SQL_CC_COMPONENTS),
        # r06: slot funds minhash_delta; the standalone cosine pair
        # stage stays driver-checked as embedding_clusters' first CTE
        ("embedding_neardups", q.q_embedding_neardups, q._embedding_neardups_sql()),
        # r06 new operator, born folded (registry at the 50 cap):
        # distributed BPE training — the lazy oracle replays the merge
        # loop in the independent Python trainer over DuckDB-read word
        # freqs and inlines the sequence as VALUES (Lloyd precedent)
        ("bpe_merges", q.q_bpe_merges, q._bpe_merges_sql),
        # r06 new operator, born folded: exact-integer PageRank over
        # the canonical alias graph — oracle = independent Python
        # replay inlined as VALUES (cc_canonical_map precedent)
        ("pagerank_entities", q.q_pagerank_entities, q._pagerank_entities_sql),
        # r06 new operator, born folded: BM25 top-k retrieval — the
        # lazy oracle replays fit + scoring in DuckDB with the corpus
        # constants inlined so both engines evaluate the identical
        # score-expression text (lm.py integer-micro discipline)
        ("bm25_topk", q.q_bm25_topk, q._bm25_topk_sql),
        # r06 new operator, born folded: gap-based sessionization —
        # exact integer-micro arithmetic end to end, one shuffle
        ("event_sessions", q.q_event_sessions, q._event_sessions_sql()),
        # r06 new operator, born folded: deterministic label-propagation
        # communities — oracle = independent Python replay as VALUES
        ("lpa_communities", q.q_lpa_communities, q._lpa_communities_sql),
        # r06 new operator, born folded: DSIR importance selection —
        # two LM replays (total-cost form) + K-th-largest threshold
        ("dsir_select", q.q_dsir_select, q._dsir_select_sql),
        # r06 new operator, born folded: z-order layout key — shared
        # normalize + bit-interleave expression text, bit-exact parity
        ("zorder_key", q.q_zorder_key, q._zorder_key_sql),
        # r06 new operator, born folded: as-of join — the DuckDB mirror
        # is an independent correlated-lateral implementation
        ("asof_click_view", q.q_asof_click_view, q.SQL_ASOF_CLICK_VIEW),
        # r06 new operator, born folded: range join — bucketized
        # equi-join reduction vs DuckDB's direct BETWEEN (IEJoin)
        ("range_join_sessions", q.q_range_join_sessions, q._range_join_sessions_sql()),
        # r06 new operator, born folded: hypertable rollup cascade —
        # oracle aggregates RAW at every level, proving the algebra
        ("hypertable_rollup", q.q_hypertable_rollup, q._hypertable_rollup_sql()),
        # r06 new operator, born folded: bloom decontamination — the
        # oracle replays the FILTER (positions, words, all-k probe)
        ("bloom_decontaminate", q.q_bloom_decontaminate, q.SQL_BLOOM_DECONTAMINATE),
        # r06 new operator, born folded: weighted priority sampling —
        # shared ln(u)/w recipe, paired h64 implementations
        ("weighted_sample", q.q_weighted_sample, q._weighted_sample_sql()),
        # r06 new operator, born folded: percentile-rank normalization —
        # X17 V-row machinery, pure integer CDF ppm
        ("percentile_rank", q.q_percentile_rank, q.SQL_PERCENTILE_RANK),
        # r06, born folded: OLAP grouping sets — one Expand pass vs
        # DuckDB GROUP BY ROLLUP
        ("grouping_rollup", q.q_grouping_rollup, q.SQL_GROUPING_ROLLUP),
        # r06, born folded: fuzzy linking — FastSS blocking + native
        # levenshtein verify, full DuckDB replay
        ("fuzzy_link", q.q_fuzzy_link, q._fuzzy_link_sql),
        # r06, born folded: data-quality constraint report — every
        # violation count recomputed in direct SQL
        ("quality_checks", q.q_quality_checks, q._quality_checks_sql()),
        # r06, born folded: collocation lift — integer-ppm association
        # (monotone in PMI, no cross-engine log), full SQL replay
        ("word_colloc", q.q_word_colloc, q.SQL_WORD_COLLOC),
        # r06, born folded: triangle counting — degree-ordered
        # orientation vs the NAIVE 3-way-join oracle (independent
        # formulation, so the hash proves the orientation algebra)
        ("triangle_counts", q.q_triangle_counts, q.SQL_TRIANGLE_COUNTS),
        # r06, born folded: k-core peeling — oracle = independent
        # plain-Python peel over the DuckDB-read edge set as VALUES
        ("kcore_nodes", q.q_kcore_nodes, q._kcore_nodes_sql),
        # r06, born folded: k-anonymity / l-diversity audit — pure
        # relational algebra, DuckDB replays it verbatim
        ("kanon_risk", q.q_kanon_risk, q.SQL_KANON_RISK),
        # r06, born folded: local clustering coefficients — oracle
        # recomputes degree + naive triangles, identical integer DIV
        ("clustering_coeff", q.q_clustering_coeff, q.SQL_CLUSTERING_COEFF),
        # r06, born folded: generalization ladder — one rollup pass vs
        # DuckDB GROUP BY ROLLUP + GROUPING()
        ("kanon_ladder", q.q_kanon_ladder, q.SQL_KANON_LADDER),
        # r06, born folded: skip-gram pair extraction — window-lead
        # formulation, GloVe 1/d weights in exact integer ppm
        ("skipgram_counts", q.q_skipgram_counts, q._skipgram_sql()),
        # r06, born folded: k-anonymity record suppression — the
        # enforcement half of the V-family, verbatim SQL replay
        ("kanon_suppress", q.q_kanon_suppress, q.SQL_KANON_SUPPRESS),
        # r06, born folded: multi-source BFS hop distances — oracle =
        # independent Python deque BFS over the DuckDB-read edge set
        ("bfs_distances", q.q_bfs_distances, q._bfs_distances_sql),
        # r06, born folded: neighborhood-Jaccard alias scoring — the
        # hub-middle guard bites on the fixture (cut 20 < max deg 23),
        # so the hash covers the approximation rule verbatim
        ("neighbor_jaccard", q.q_neighbor_jaccard, q.SQL_NEIGHBOR_JACCARD),
        # r06, born folded: product-quantized ANN (N6) — codebook from
        # the plain-Python PQ replay (pinned bit-equal to train_pq in
        # test_ann.py), encode + ADC replayed in pure BIGINT SQL
        ("pq_topk", q.q_pq_topk, q._pq_topk_sql),
        # r06, born folded: mergeable log-histogram quantile sketch —
        # pure BIGINT bit arithmetic, DuckDB replays it verbatim
        ("hdr_quantiles", q.q_hdr_quantiles, q.SQL_HDR_QUANTILES),
        # r06, born folded: zlib compression-ratio signal — oracle
        # replays zlib over the duckdb-read corpus as VALUES (checks
        # Spark-side encoding/batching/row alignment)
        ("compression_signals", q.q_compression_signals, q._compression_signals_sql),
        # r06, born folded: deterministic random-walk corpus (DeepWalk
        # feeder) — oracle = independent plain-Python walk replay over
        # the DuckDB-read co-mention edges as VALUES
        ("random_walks", q.q_random_walks, q._random_walks_sql),
        # r06, born folded: filtered TransE negative sampling — fully
        # relational, every stage replayed verbatim in DuckDB SQL
        ("transe_negatives", q.q_transe_negatives, q.SQL_TRANSE_NEGATIVES),
        # r06, born folded: second-order node2vec walks — bias cap set
        # below the fixture max degree so the hash covers the biased
        # pick AND the hub degradation rule; Python replay as VALUES
        ("node2vec_corpus", q.q_node2vec_corpus, q._node2vec_corpus_sql),
        # r06, born folded: weighted shortest paths — oracle = an
        # independent Python DIJKSTRA (different algorithm from the
        # Spark Bellman-Ford relaxation) over DuckDB-read edges
        ("sssp_distances", q.q_sssp_distances, q._sssp_distances_sql),
        # r06, born folded: personalized PageRank — seed-teleport
        # proximity, exact-integer recipe, Python replay as VALUES
        ("ppr_entities", q.q_ppr_entities, q._ppr_entities_sql),
        # r06, born folded: resource-allocation link prediction — the
        # integer-exact Adamic-Adar surrogate, verbatim DuckDB replay
        # with the guard inside the hash
        ("resource_allocation", q.q_resource_allocation, q.SQL_RESOURCE_ALLOCATION),
        # r06, born folded: frequency-weighted negative sampling — the
        # categorical draw replayed as a direct BETWEEN join (IEJoin),
        # an independent algorithm from the bucketized range join
        ("weighted_negatives", q.q_weighted_negatives, q.SQL_WEIGHTED_NEGATIVES),
        # r06, born folded: edge-weighted walk corpus — global-offset
        # cumulative intervals through the J9 range join; independent
        # bisect replay as VALUES
        ("weighted_walks", q.q_weighted_walks, q._weighted_walks_sql),
        # r06, born folded: HyperBall neighborhood sketches — exact
        # integer register state hash-checked (float estimate stays
        # pytest-pinned); Python replay as VALUES
        ("hyperball", q.q_hyperball, q._hyperball_sql),
    ]


FOLDED = [(f"folded:{n}", fn, sql) for n, fn, sql in _folded_queries()]


def test_registry_under_driver_cap():
    """Registry headroom POLICY (VERDICT r04 next#8). The driver
    evaluates at most 50 queries in registration order; entry 51+
    silently loses its correctness signal (seen in r03, where two media
    rows fell off the end unnoticed).

    Rule for any NEW operator, decided BEFORE implementation:
      1. If the registry is below 50, it gets its own row.
      2. If the registry is AT 50, the design must name which existing
         row the new operator FOLDS INTO (compose into that query and
         its oracle — e.g. doc_stats, media_transforms, trained
         ann_ivf) or which row it replaces; the displaced standalone
         query moves to FOLDED below so it keeps full hash-checked
         oracle evidence in pytest.
      3. A row is never silently dropped: every fold/replace is recorded
         in _folded_queries' docstring and the registry comment.
    """
    assert len(QUERIES) <= 50, (
        f"{len(QUERIES)} queries registered — consolidate: the driver "
        "hard-signal cap is 50 and overflow rows get NO correctness "
        "check; follow the fold policy in this test's docstring"
    )


@pytest.mark.parametrize(
    "name,fn,sql", SQL_CHECKED + FOLDED, ids=[n for n, *_ in SQL_CHECKED + FOLDED]
)
def test_oracle_parity(spark, ddb, name, fn, sql):
    # query first: a lazy oracle replays the sf dir its query last ran on
    got = fn(spark, SF_DIR_01).toPandas()
    if callable(sql):  # lazily-built oracle (e.g. trained-IVF replay)
        sql = sql()
    want = ddb.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    g, w = _rows(got), _rows(want)
    if g != w:
        diffs = [(a, b) for a, b in zip(g, w) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_values_sql_quotes_casts_and_types_empty_result():
    """The replay oracles' one Python→SQL renderer: a quote inside a
    string round-trips, per-column casts apply, and zero rows still give
    the declared column names and types."""
    from pie_spark.queries import _values_sql

    con = duckdb.connect()
    rows = [("O'Brien", 1, [0.5, 2.0]), ("it''s", 2, [1.0])]
    rel = con.sql(_values_sql({"name": None, "n": "BIGINT", "v": "DOUBLE[]"}, rows))
    assert [str(t) for t in rel.types] == ["VARCHAR", "BIGINT", "DOUBLE[]"]
    assert sorted(rel.fetchall()) == sorted(rows)
    empty = con.sql(_values_sql({"node": "VARCHAR", "core_deg": "BIGINT"}, []))
    assert empty.columns == ["node", "core_deg"]
    assert [str(t) for t in empty.types] == ["VARCHAR", "BIGINT"]
    assert empty.fetchall() == []
    con.close()


def test_replay_oracle_reads_the_dir_its_query_ran_on(spark, monkeypatch):
    """After q_kcore_nodes runs on sf0.001, its lazy oracle replays
    sf0.001, not the sf0.01 env default."""
    from pie_spark import queries as q

    from .conftest import SF_DIR_001

    # restore the record at teardown so later tests see it unchanged
    monkeypatch.setitem(q._ORACLE_SF, "kcore", None)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", SF_DIR_01)
    default = sorted(duckdb.sql(q._kcore_nodes_sql()).fetchall())
    got = sorted(tuple(r) for r in q.q_kcore_nodes(spark, SF_DIR_001).collect())
    assert sorted(duckdb.sql(q._kcore_nodes_sql()).fetchall()) == got
    assert got != default
