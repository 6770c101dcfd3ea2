"""M6 at dictionary scale: dictionary-shard window probes (SURVEY.md
§2.3 M6 fallback; VERDICT r05 next#1).

When the dictionary is too large to broadcast, the in-UDF Aho-Corasick
automaton cannot be built, so ``extract_stage`` routes the gazetteer
through this module instead. Per-token candidate generation joined
against the dictionary in Catalyst cost ~4× this path's wall at 1M docs
for identical hits (BENCH_r07); the cost is per-token expression work,
so this module changes the algorithm instead, in two Arrow stages:

  1. **Candidate pass** (mapInPandas, ONE pass over the text, never
     replicated): a compiled-regex scan (C speed) finds every
     match-eligible boundary position whose char is in the dictionary's
     first-char alphabet and slices a WINDOW of ``maxlen(char)+1``
     chars. Only these windows — tens of bytes each — enter the
     shuffle; the full span text never does. (A v1 of this module
     routed whole spans to shards via Spark-side regexp_extract_all +
     explode: measured 27.2 s at 1M docs because the ~5–9× replicated
     full text dominated shuffle+Arrow. Windows cut the shuffled bytes
     ~10× and remove the per-shard Python re-scan.)
  2. **Probe cogroup** (applyInPandas): windows and dictionary
     surfaces meet on (first-char shard, salt); the kernel builds the
     shard's trie once per group and walks it from window[0] — every
     row IS a candidate, no scan — emitting surfaces that end on a
     non-alnum flank. The dictionary never touches the driver and
     never broadcasts.

Exactness: the hit set equals the broadcast automaton's EXACTLY,
including non-token-aligned occurrences (``aa-Whitfield-bb``).
Proof sketch, both directions:
  * automaton hit ⊆ shard hit: an AhoCorasick+_boundary_ok hit of
    surface ``p`` at position ``s`` requires ``s == 0`` or
    ``text[s-1]`` non-alnum, so the candidate pass (same
    ``isalnum`` guard, same Python semantics — no Java/Python regex
    gap, the v1 hazard) emits a window at ``s`` keyed ``p[0]``; the
    window spans ``maxlen(p[0])+1 ≥ len(p)+1`` chars (or to text
    end), so the trie walk re-derives the identical
    (start, end, surface) with the end flank char in view.
  * shard hit ⊆ automaton hit: the probe enforces the same two flank
    guards on a verbatim substring occurrence, and every shard
    surface is a dictionary surface.
Each surface lives in exactly ONE shard and each boundary position is
emitted at most once (one window, keyed by its single first char), so
no hit is double-emitted and no dedup pass is needed.

Scale shape (what shuffles at 10^12 docs):
  * dictionary: one narrow pass adds the shard key, then ONE shuffle
    into (bkey, salt) groups — it is the big side; shuffling it is the
    point. ``salt_parts`` replicates each dictionary shard so a hot
    key char ('M' starts a name in most prose spans) fans its
    candidates across ``salt_parts`` tasks instead of one straggler —
    replication cost is salt_parts × |dict| rows of a few dozen
    bytes; candidate-side cost is zero (each window hashes to ONE
    salt by doc_id). This also BOUNDS cogroup group memory: group ≈
    windows_with_char / salt_parts — raise salt_parts with corpus
    size (the knob that keeps per-task state flat at 1000
    executors). The counter-cost is salt_parts trie builds per
    shard; per-first-char shards keep tries small, and a hot shard's
    build amortizes over its (large) candidate group.
  * text: scanned once, in place, by the candidate pass — zero
    replication, zero shuffle of span text. Spans with no alphabet
    char at any boundary emit nothing (the distributed analogue of
    the automaton's C-speed prefilter).
  * the large-alphabet guard (``FIRST_CHAR_PREFILTER_MAX``): past 128
    distinct first chars (CJK gazetteers) the shard key becomes
    ``pmod(hash(first_char), HASH_BUCKETS)`` on the
    dictionary side, computed JVM-side on the candidate's emitted
    char too (no Python reimplementation of Murmur3), and the
    candidate pass emits a window at EVERY boundary position with the
    global maxlen — routing selectivity degrades gracefully while
    shard count and per-group tries stay bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pie_spark.schemas import MENTION_SCHEMA

# per-first-char shards up to this many distinct first chars (Latin-script
# person names: ~52); past it (e.g. a CJK-surname dictionary: thousands)
# the shard key becomes a hash bucket of the char and the candidate pass
# emits a window at every boundary position
FIRST_CHAR_PREFILTER_MAX = 128

# shard count in the large-alphabet (hash-bucket) regime
HASH_BUCKETS = 64

# candidate-pass output: one row per match-eligible boundary position
# whose char can start a dictionary surface; `window` is the only text
# payload that ever shuffles
_CAND_SCHEMA = (
    "doc_id string, span_idx int, span_offset int, pos int,"
    " c string, window string"
)

# probe output shipped back over Arrow; constants (mention_type,
# detector, score) are attached Spark-side — no constant strings
# through the Arrow channel
_PROBE_SCHEMA = (
    "doc_id string, span_idx int, span_offset int, start int, end int,"
    " surface string"
)


def _candidate_pass(maxlen_by_char: dict[str, int] | None, global_maxlen: int):
    """mapInPandas kernel factory: scan each span once, emit (pos, c,
    window) for every boundary position that can start a surface.

    ``maxlen_by_char`` is the small-alphabet regime (window sized per
    first char); ``None`` switches to the large-alphabet regime (every
    boundary char, global window). Boundary test is ``isalnum`` on the
    preceding char — byte-identical to gazetteer._boundary_ok's start
    guard, evaluated in the SAME Python semantics the probe uses."""

    def gen(batches):
        import re

        import pandas as pd

        if maxlen_by_char is not None:
            cand = re.compile(
                "[" + "".join(re.escape(c) for c in sorted(maxlen_by_char)) + "]"
            )
        else:
            # any char following a non-alnum (Python \W∪_ ≡ not isalnum:
            # sre defines unicode \w as isalnum or '_')
            cand = None
            nonword = re.compile(r"[\W_]")
        w = global_maxlen + 1

        for pdf in batches:
            out_doc, out_sidx, out_soff = [], [], []
            out_pos, out_c, out_w = [], [], []
            for doc_id, span_idx, span_offset, text in zip(
                pdf["doc_id"], pdf["span_idx"], pdf["span_offset"], pdf["text"]
            ):
                if text is None:
                    continue
                if maxlen_by_char is not None:
                    for m in cand.finditer(text):
                        i = m.start()
                        if i > 0 and text[i - 1].isalnum():
                            continue
                        c = text[i]
                        out_doc.append(doc_id)
                        out_sidx.append(span_idx)
                        out_soff.append(span_offset)
                        out_pos.append(i)
                        out_c.append(c)
                        out_w.append(text[i : i + maxlen_by_char[c] + 1])
                else:
                    if not text:
                        continue
                    starts = [0] + [m.end() for m in nonword.finditer(text)]
                    n = len(text)
                    prev = -1
                    for i in starts:
                        if i >= n or i == prev:
                            continue
                        prev = i
                        out_doc.append(doc_id)
                        out_sidx.append(span_idx)
                        out_soff.append(span_offset)
                        out_pos.append(i)
                        out_c.append(text[i])
                        out_w.append(text[i : i + w])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="object"),
                    "span_idx": pd.Series(out_sidx, dtype="int32"),
                    "span_offset": pd.Series(out_soff, dtype="int32"),
                    "pos": pd.Series(out_pos, dtype="int32"),
                    "c": pd.Series(out_c, dtype="object"),
                    "window": pd.Series(out_w, dtype="object"),
                }
            )

    return gen


def _probe_group(left, right):
    """Cogroup kernel: ``left`` = candidate windows, ``right`` = this
    shard's dictionary surfaces. Builds a trie once per group and walks
    it from window[0] — no scan; the candidate pass already proved the
    start boundary — emitting every surface that ends on a non-alnum
    flank (end guard of gazetteer._boundary_ok; the window carries
    maxlen+1 chars, so the flank char is in view iff it exists)."""
    import pandas as pd

    cols = ["doc_id", "span_idx", "span_offset", "start", "end", "surface"]
    if left.empty or right.empty:
        return pd.DataFrame(columns=cols)

    trie: dict = {}
    for s in right["surface"]:
        node = trie
        for ch in s:
            node = node.setdefault(ch, {})
        node[0] = s  # terminal sentinel: int key cannot collide with chars

    out_doc, out_sidx, out_soff, out_s, out_e, out_p = [], [], [], [], [], []
    for doc_id, span_idx, span_offset, pos, window in zip(
        left["doc_id"], left["span_idx"], left["span_offset"],
        left["pos"], left["window"],
    ):
        node = trie
        n = len(window)
        j = 0
        while j < n:
            node = node.get(window[j])
            if node is None:
                break
            j += 1
            p = node.get(0)
            if p is not None and (j >= n or not window[j].isalnum()):
                out_doc.append(doc_id)
                out_sidx.append(span_idx)
                out_soff.append(span_offset)
                out_s.append(pos)
                out_e.append(pos + j)
                out_p.append(p)
    return pd.DataFrame(
        {
            "doc_id": pd.Series(out_doc, dtype="object"),
            "span_idx": pd.Series(out_sidx, dtype="int32"),
            "span_offset": pd.Series(out_soff, dtype="int32"),
            "start": pd.Series(out_s, dtype="int32"),
            "end": pd.Series(out_e, dtype="int32"),
            "surface": pd.Series(out_p, dtype="object"),
        }
    )


def gazetteer_shard_matches(
    text_spans: DataFrame,
    dict_df: DataFrame,
    salt_parts: int = 8,
    score: float = 0.9,
) -> DataFrame:
    """Gazetteer mentions via dictionary-shard window probes —
    MENTION_SCHEMA rows with detector='gazetteer', hit-identical to the
    broadcast automaton (tests/test_gazetteer_shard.py). ``dict_df``
    needs a ``surface`` column; it is never collected or broadcast.

    ``salt_parts`` spreads each shard's candidates over that many
    cogroup tasks (skew + group-memory bound — see module docstring);
    any value yields the same hit set."""
    spark = text_spans.sparkSession
    d = (
        dict_df.select("surface")
        .distinct()
        .filter(F.length("surface") > 0)
    )

    # per-first-char max surface length: alphabet-bounded agg, NOT a
    # dictionary collect (limit(MAX+1) early-out past the guard)
    char_stats = (
        d.groupBy(F.substring("surface", 1, 1).alias("c"))
        .agg(F.max(F.length("surface")).alias("maxlen"))
        .limit(FIRST_CHAR_PREFILTER_MAX + 1)
        .collect()
    )
    if not char_stats:  # empty dictionary → no hits, cheap plan
        return spark.createDataFrame([], MENTION_SCHEMA)

    salt_parts = max(1, salt_parts)
    dict_salted = d.withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_parts - 1))),
    )
    txt = text_spans.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "span_idx",
        F.col("offset").alias("span_offset"),
        "text",
    )

    small = len(char_stats) <= FIRST_CHAR_PREFILTER_MAX
    if small:
        maxlen_by_char = {r["c"]: r["maxlen"] for r in char_stats}
        global_maxlen = max(maxlen_by_char.values())
    else:
        maxlen_by_char = None
        global_maxlen = d.agg(F.max(F.length("surface"))).collect()[0][0]

    cands = txt.mapInPandas(
        _candidate_pass(maxlen_by_char, global_maxlen), schema=_CAND_SCHEMA
    )
    salt = F.pmod(F.hash("doc_id"), F.lit(salt_parts)).cast("int").alias("salt")
    if small:
        # shard key = the boundary char itself
        routed = cands.select(
            "doc_id", "span_idx", "span_offset", "pos", "window",
            F.col("c").alias("bkey"), salt,
        )
        dict_keyed = dict_salted.withColumn(
            "bkey", F.substring("surface", 1, 1)
        )
    else:
        # large alphabet (CJK-scale): hash-bucket the char JVM-side on
        # both sides — same Murmur3, no Python reimplementation
        bucket = lambda col: F.pmod(F.hash(col), F.lit(HASH_BUCKETS)).cast("string")
        routed = cands.select(
            "doc_id", "span_idx", "span_offset", "pos", "window",
            bucket(F.col("c")).alias("bkey"), salt,
        )
        dict_keyed = dict_salted.withColumn(
            "bkey", bucket(F.substring("surface", 1, 1))
        )

    hits = (
        routed.groupBy("bkey", "salt")
        .cogroup(dict_keyed.groupBy("bkey", "salt"))
        .applyInPandas(_probe_group, schema=_PROBE_SCHEMA)
    )
    return hits.select(
        "doc_id",
        "span_idx",
        "span_offset",
        "start",
        "end",
        F.lit("PERSON").alias("mention_type"),
        "surface",
        F.lit("gazetteer").alias("detector"),
        F.lit(float(score)).alias("score"),
    )
