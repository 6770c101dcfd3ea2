"""Dictionary-shard trie-probe gazetteer (the dictionary-scale M6
fallback) ≡ Aho-Corasick automaton EXACTLY — including non-token-aligned
occurrences (VERDICT r05 next#1) — plus the pipeline's oversized-
dictionary degradation path (VERDICT r03 next#8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pie_spark.extract.fused import fused_matches
from pie_spark.extract.gazetteer_shard import gazetteer_shard_matches

from .conftest import SF_DIR

_KEY = ["doc_id", "span_idx", "start", "end", "surface"]


def _hits(df):
    return {tuple(r) for r in df.select(*_KEY).collect()}


def _automaton(spans, spark, surfaces):
    """Parity reference: the broadcast automaton's hits, i.e. the fused
    detector's gazetteer rows (same AhoCorasick + _boundary_ok)."""
    fused = fused_matches(spans, spark, surfaces, enable_crf=False)
    return _hits(fused.filter(F.col("detector") == "gazetteer"))


def _spans(spark, rows):
    return spark.createDataFrame(
        [(str(i), 0, 0, t) for i, t in enumerate(rows)],
        "doc_id string, span_idx int, offset int, text string",
    )


def _dict_df(spark, surfaces):
    return spark.createDataFrame([(s,) for s in surfaces], "surface string")


def test_shard_matches_equal_automaton_incl_non_token_aligned(spark):
    """The shard path must find mid-token burials (interior punctuation)
    — exact automaton parity, not a token-aligned contract — and match
    punctuation inside the surface and around the occurrence."""
    surfaces = [
        "Mei Novak",
        "Mei Novak Jr.",
        "A. Bergstrom",
        "Grace Whitfield",
        "Whitfield",
    ]
    texts = [
        "Mei Novak spoke first",
        "we met (Mei Novak) yesterday",
        "aa-Whitfield-bb is a mid-token burial",   # not token-aligned
        "Mei Novak Jr., they said",
        "ask A. Bergstrom about it",
        "xxMei Novakzz is not a name",              # alnum flanks → no hit
        "Mei  Novak has two spaces",                # no verbatim occurrence
        "meet Grace Whitfield",
        "",
        "--- punctuation only ---",
        "call Mei Novak, then leave",               # trailing comma in text
        "Mei Novak Jr. arrived late",               # surface with tail punct
    ]
    spans = _spans(spark, texts)
    ac = _automaton(spans, spark, surfaces)
    sh = _hits(gazetteer_shard_matches(spans, _dict_df(spark, surfaces)))
    assert sh == ac
    # the burial IS found (automaton semantics), proving the stronger contract
    assert ("2", 0, 3, 12, "Whitfield") in sh
    # overlap parity: "Mei Novak Jr." occurrences also emit "Mei Novak"
    assert ("3", 0, 0, 9, "Mei Novak") in sh and ("3", 0, 0, 13, "Mei Novak Jr.") in sh


def test_shard_matches_equal_automaton_on_generator_corpus(spark):
    from pie_spark.extract.spans import explode_spans, text_spans
    from pie_spark.fixtures.gazetteer import dictionary_entries
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs

    docs = interleaved_docs(spark, SF_DIR).limit(150).localCheckpoint(eager=True)
    txt = text_spans(explode_spans(docs)).localCheckpoint(eager=True)
    surfaces = sorted({e.surface for e in dictionary_entries()})

    ac = _automaton(txt, spark, surfaces)
    sh = _hits(gazetteer_shard_matches(txt, entity_dict_df(spark)))
    assert len(ac) > 0
    assert sh == ac


def test_shard_salt_parts_invariant(spark):
    """Any salt_parts value yields the identical hit set (salting only
    spreads groups; the dictionary shard is replicated per salt)."""
    from pie_spark.extract.spans import explode_spans, text_spans
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs

    docs = interleaved_docs(spark, SF_DIR).limit(60).localCheckpoint(eager=True)
    txt = text_spans(explode_spans(docs)).localCheckpoint(eager=True)
    d = entity_dict_df(spark)
    one = _hits(gazetteer_shard_matches(txt, d, salt_parts=1))
    many = _hits(gazetteer_shard_matches(txt, d, salt_parts=16))
    assert one == many and len(one) > 0


def test_shard_large_alphabet_hash_bucket_regime(spark):
    """>128 distinct first chars switches routing to hash buckets on
    both sides — hits still exactly automaton-equal."""
    surfaces = [chr(0x4E00 + i) + "氏" for i in range(200)] + ["Mei Novak"]
    texts = [
        "report by " + chr(0x4E00) + "氏 and Mei Novak",
        chr(0x4E05) + "氏 opened; xxMei Novakzz did not",
        "nothing here",
    ]
    spans = _spans(spark, texts)
    ac = _automaton(spans, spark, surfaces)
    sh = _hits(gazetteer_shard_matches(spans, _dict_df(spark, surfaces)))
    assert sh == ac and ("0", 0, 17, 26, "Mei Novak") in sh


def test_shard_empty_dictionary(spark):
    spans = _spans(spark, ["Mei Novak spoke"])
    out = gazetteer_shard_matches(spans, _dict_df(spark, []))
    assert out.count() == 0


def test_shard_parity_fuzz_batch(spark):
    """Seeded fuzz: random docs assembled from gazetteer surfaces wrapped
    in random punctuation, decoy words, doubled spaces and deliberate
    non-token-aligned burials — the shard path must equal the automaton
    EXACTLY, burials and all."""
    import random

    surfaces = [
        "Mei Novak", "Novak Petrov", "Alice Abernathy", "Grace Whitfield",
        "Mei Novak Jr.", "A. Bergstrom", "Hiro Takahashi",
    ]
    rng = random.Random(42)
    wraps = ["", "(", ")", ",", ".", "--", "'", '"', ";"]
    decoys = ["alpha", "beta", "9gamma", "x", "review2024", "-", "..."]

    docs = []
    for i in range(400):
        parts = []
        for _ in range(rng.randint(1, 8)):
            kind = rng.random()
            if kind < 0.45:
                s = rng.choice(surfaces)
                parts.append(rng.choice(wraps) + s + rng.choice(wraps))
            elif kind < 0.55:
                s = rng.choice(["Whitfield", "Mei"])
                parts.append(f"aa-{s}-bb" if rng.random() < 0.5 else f"zz{s}")
            else:
                parts.append(rng.choice(decoys))
        sep = "  " if rng.random() < 0.1 else " "
        docs.append((str(i), sep.join(parts)))

    spans = spark.createDataFrame(
        [(d, 0, 0, t) for d, t in docs],
        "doc_id string, span_idx int, offset int, text string",
    )
    # add "Whitfield"/"Mei" alone so burials are matchable surfaces
    all_surfaces = surfaces + ["Whitfield", "Mei"]
    ac = _automaton(spans, spark, all_surfaces)
    sh = _hits(gazetteer_shard_matches(spans, _dict_df(spark, all_surfaces)))
    assert sh == ac
    assert len(ac) > 200


def test_shard_long_surfaces_match_automaton(spark):
    """4+-token surfaces must match: the candidate window is sized from
    the dictionary's own per-first-char max surface length."""
    surfaces = ["Ana Maria de Souza", "Mei Novak", "Jean Pierre van Damme Jr."]
    texts = [
        "we saw Ana Maria de Souza yesterday",
        "(Ana Maria de Souza) and Mei Novak spoke",
        "Jean Pierre van Damme Jr. arrived",
        "Ana Maria de Souzaz is not a hit",
    ]
    spans = _spans(spark, texts)
    ac = _automaton(spans, spark, surfaces)
    sh = _hits(gazetteer_shard_matches(spans, _dict_df(spark, surfaces)))
    assert sh == ac
    assert ("0", 0, 7, 25, "Ana Maria de Souza") in sh
    assert ("2", 0, 0, 25, "Jean Pierre van Damme Jr.") in sh


def test_pipeline_degrades_to_shard_fallback(spark):
    """PipelineConfig(dict_max_surfaces=<tiny>) must complete via the
    shard path with IDENTICAL triples to the broadcast run, and record
    dict_mode='shard_fallback'."""
    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
    from pie_spark.pipeline import run

    docs = interleaved_docs(spark, SF_DIR).limit(120).localCheckpoint(eager=True)
    d = entity_dict_df(spark)

    base = run(spark, PipelineConfig(), docs, d)
    assert base.dict_mode == "broadcast"
    t_base = {tuple(r) for r in base.triples.select("subj", "pred", "obj").collect()}

    fb = run(spark, PipelineConfig(dict_max_surfaces=10), docs, d)
    assert fb.dict_mode == "shard_fallback"
    t_fb = {tuple(r) for r in fb.triples.select("subj", "pred", "obj").collect()}

    assert t_fb == t_base and len(t_base) > 0
    base.unpersist()
    fb.unpersist()


def test_runner_records_dict_mode_in_lineage(spark, tmp_path):
    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
    from pie_spark.io.snapshots import SnapshotTable
    from pie_spark.runner import run_checkpointed

    docs = interleaved_docs(spark, SF_DIR).limit(40).localCheckpoint(eager=True)
    cfg = PipelineConfig(
        dict_max_surfaces=10,
        checkpoint_dir=str(tmp_path / "ck"),
        output_path=str(tmp_path / "out"),
    )
    out = run_checkpointed(spark, cfg, docs, entity_dict_df(spark))
    assert out.result.dict_mode == "shard_fallback"
    meta = SnapshotTable(cfg.output_path).snapshots()[-1].meta
    assert meta["dict_mode"] == "shard_fallback"
    out.result.unpersist()


def test_shard_fallback_triples_plan_has_no_broadcast(spark):
    """Past dict_max_surfaces the dictionary stays off the driver in BOTH
    dictionary joins: with auto-broadcast off, the triples plan holds no
    BroadcastExchange — J1 linking and J4 canonical attach are salted
    shuffle joins, not a forced broadcast of a dictionary-sized map."""
    import contextlib
    import io

    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
    from pie_spark.pipeline import run

    conf = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        docs = interleaved_docs(spark, SF_DIR).limit(40).localCheckpoint(eager=True)
        res = run(spark, PipelineConfig(dict_max_surfaces=10), docs, entity_dict_df(spark))
        assert res.dict_mode == "shard_fallback"
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            res.triples.explain("formatted")
        assert "SortMergeJoin" in buf.getvalue()
        assert "BroadcastExchange" not in buf.getvalue()
        res.unpersist()
    finally:
        spark.conf.set(conf, prev)
