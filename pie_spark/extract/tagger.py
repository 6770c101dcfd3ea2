"""T1/T2: BiLSTM-CRF-style sequence tagger (SURVEY.md §2.4; BASELINE.json:6).

No torch/TF in the sandbox (numpy only), so "BiLSTM-CRF-style" is
realized as a deterministic **feature-emission + CRF-transition Viterbi
decoder in numpy**: per-token feature vectors (casing, shape, lexicon
flags) → linear emission scores; a hand-set transition matrix enforces
BIO structure (I-X only after B-X/I-X); exact Viterbi decoding over
tags {O, B-PER, I-PER, B-ADDR, I-ADDR}. Weights are INTEGER deci-units
(r05: original values × 10 — argmax is scale-invariant, so decode
semantics are unchanged) ⇒ every lattice score is an exact int64:
bit-identical output across runs / partitionings / cluster sizes /
ENGINES, which the P/R gate, the resume test, and the DuckDB Viterbi
oracle (extract/tagger_sql.py) require (SURVEY.md §5.4, §7.3 item 2).

Execution: :func:`tag_texts` decodes one whole Arrow batch of the fused
detector UDF (extract/fused.py) at a time; weights + lexicons are
module constants materialized once per Python worker — nothing
per-row, nothing per-batch.

Role in the pipeline: PERSON/ADDRESS generalization beyond the exact
gazetteer (e.g. capitalized name-shaped bigrams unseen in the
dictionary). Final triple emission only trusts *linked* persons and
*regex-typed* PII (pie_spark/graph/triples.py), so tagger
generalization can't hurt triple precision.
"""

from __future__ import annotations

import re

import numpy as np

from pie_spark.fixtures import gazetteer as gz

TAGS = ["O", "B-PER", "I-PER", "B-ADDR", "I-ADDR"]
O, BPER, IPER, BADDR, IADDR = range(5)

# feature ids
FEATS = [
    "BIAS", "CAP", "ALLCAPS", "FIRSTLEX", "LASTLEX", "INITDOT",
    "DIGIT_SHORT", "DIGIT_LONG", "STREETLEX", "SUFFIX", "LOWER", "HASDIGIT",
]
BIAS, CAP, ALLCAPS, FIRSTLEX, LASTLEX, INITDOT, DIGIT_SHORT, DIGIT_LONG, \
    STREETLEX, SUFFIX, LOWER, HASDIGIT = range(12)

_FIRST = {w.lower() for w in gz.FIRST_NAMES}
_LAST = {w.lower() for w in gz.LAST_NAMES}
_STREET = {w.lower() for w in gz.STREET_NAMES}
_SUFFIXES = {s.lower() for s in gz.STREET_SUFFIXES}

_TOKEN_RE = re.compile(r"\S+")
_WORD = re.compile(r"[A-Za-z]+")


# All weights are INTEGER deci-units (original hand-set values × 10;
# r05). Viterbi argmax is invariant under positive scaling, so the
# decode semantics are unchanged — but every score is now an exact
# int64 on every engine, which (a) removes the float-associativity /
# exact-tie hazard from the decode entirely and (b) is what lets the
# DuckDB oracle (extract/tagger_sql.py) replay the full DP
# bit-identically in recursive SQL.


def _emission_weights() -> np.ndarray:
    W = np.zeros((5, len(FEATS)), dtype=np.int64)
    W[O, BIAS] = 5
    W[O, LOWER] = 20
    W[O, DIGIT_LONG] = 20
    W[BPER, CAP] = 15
    W[BPER, ALLCAPS] = 12
    W[BPER, FIRSTLEX] = 20
    W[BPER, INITDOT] = 15
    W[BPER, LOWER] = -30
    W[BPER, HASDIGIT] = -30
    W[IPER, CAP] = 12
    W[IPER, ALLCAPS] = 12
    W[IPER, LASTLEX] = 25
    W[IPER, LOWER] = -30
    W[IPER, HASDIGIT] = -30
    W[BADDR, DIGIT_SHORT] = 25
    W[BADDR, LOWER] = -20
    W[BADDR, CAP] = -10
    W[IADDR, STREETLEX] = 25
    W[IADDR, SUFFIX] = 30
    W[IADDR, CAP] = 5
    W[IADDR, LOWER] = -20
    W[IADDR, HASDIGIT] = -20
    return W


NEG = -100_000


def _transition_weights() -> np.ndarray:
    T = np.zeros((5, 5), dtype=np.int64)
    T[:, IPER] = NEG
    T[:, IADDR] = NEG
    T[O, O] = 5
    T[BPER, IPER] = 10
    T[IPER, IPER] = 2
    T[BADDR, IADDR] = 15
    T[IADDR, IADDR] = 5
    T[BADDR, O] = -10  # lone house-number is (almost) never an address
    return T


def _start_weights() -> np.ndarray:
    s = np.zeros(5, dtype=np.int64)
    s[IPER] = NEG
    s[IADDR] = NEG
    return s


W_EMIT = _emission_weights()
W_TRANS = _transition_weights()
W_START = _start_weights()
# plain-list copies (python ints) for the pure-Python Viterbi inner loop
W_TRANS_LST: list[list[int]] = W_TRANS.tolist()
W_START_L: list[int] = W_START.tolist()


def tokenize(text: str) -> list[tuple[int, int, str]]:
    """T1: whitespace tokenization with char offsets."""
    return [(m.start(), m.end(), m.group(0)) for m in _TOKEN_RE.finditer(text)]


_INITDOT_RE = re.compile(r"[A-Z]\.")


def _feat_row(t: str) -> tuple[int, ...]:
    row = [0] * len(FEATS)
    row[BIAS] = 1
    low = t.lower().rstrip(".,;:")
    if t[0].isupper():
        if len(t) > 1 and t.isupper():
            row[ALLCAPS] = 1
        else:
            row[CAP] = 1
    elif t[0].islower():
        row[LOWER] = 1
    if _INITDOT_RE.fullmatch(t):
        row[INITDOT] = 1
        row[CAP] = 0
    if t.isdigit():
        row[DIGIT_SHORT if len(t) <= 5 else DIGIT_LONG] = 1
    if any(c.isdigit() for c in t):
        row[HASDIGIT] = 1
    if low in _FIRST:
        row[FIRSTLEX] = 1
    if low in _LAST:
        row[LASTLEX] = 1
    if low in _STREET:
        row[STREETLEX] = 1
    if low in _SUFFIXES:
        row[SUFFIX] = 1
    return tuple(row)


def features(tokens: list[str]) -> np.ndarray:
    """Per-token feature matrix (n_tokens × n_feats), exact indicators."""
    return np.array([_feat_row(t) for t in tokens], dtype=np.int64)


# feature-row → emission-row cache. Each distinct indicator row's
# emission vector is computed ONCE (single-row matmul) and reused by
# both the scalar and the batched decode paths, so the two paths are
# bit-identical by construction and the per-text matmul disappears from
# the hot path entirely.
_EM_ROW_CACHE: dict[tuple[int, ...], tuple[int, ...]] = {}


def _em_row(feat: tuple[int, ...]) -> tuple[int, ...]:
    em = _EM_ROW_CACHE.get(feat)
    if em is None:
        em = tuple((np.array([feat]) @ W_EMIT.T)[0].tolist())
        _EM_ROW_CACHE[feat] = em
    return em


def viterbi(emissions: np.ndarray) -> list[int]:
    """Exact max-sum decoding; deterministic argmax (ties → lower tag id).

    Pure-Python DP: the lattice is only k=5 states wide, so per-token
    numpy argmax calls cost more than the arithmetic. Summation order
    matches the vectorized formulation (delta[i] + trans[i][j]) +
    emis[j] term-for-term and ties resolve to the lowest prior state
    (strict >), so the decode is bit-identical to the numpy reference
    (asserted by tests/test_tagger.py)."""
    em = emissions.tolist()
    n = len(em)
    k = len(em[0])
    start = W_START_L
    trans = W_TRANS_LST
    delta = [start[j] + em[0][j] for j in range(k)]
    backs: list[list[int]] = []
    for t in range(1, n):
        emt = em[t]
        new_delta = [0.0] * k
        bt = [0] * k
        for j in range(k):
            ej = emt[j]
            best = (delta[0] + trans[0][j]) + ej
            bi = 0
            for i in range(1, k):
                s = (delta[i] + trans[i][j]) + ej
                if s > best:
                    best = s
                    bi = i
            new_delta[j] = best
            bt[j] = bi
        delta = new_delta
        backs.append(bt)
    last = 0
    best = delta[0]
    for j in range(1, k):
        if delta[j] > best:
            best = delta[j]
            last = j
    path = [last]
    for t in range(n - 2, -1, -1):
        path.append(backs[t][path[-1]])
    return path[::-1]


# --- provably-safe all-O skip ------------------------------------------
# If every token's O-emission exceeds its best non-O emission by more
# than MARGIN_SAFE, the all-O path strictly dominates every alternative:
# a non-O token costs > MARGIN_SAFE in emissions and can gain at most
# 2·(maxT − T[O][O]) from its two adjacent transitions (start weights
# never favor non-O). Then the decode has no B-tags → no mentions → the
# Viterbi DP can be skipped exactly. Margins are cached per feature row.
MARGIN_SAFE = 2 * (int(W_TRANS[W_TRANS > -100].max()) - W_TRANS_LST[O][O])
_MARGIN_CACHE: dict[tuple[int, ...], int] = {}


def _o_margin(row: tuple[int, ...]) -> int:
    m = _MARGIN_CACHE.get(row)
    if m is None:
        em = [sum(w * x for w, x in zip(wrow, row)) for wrow in W_EMIT.tolist()]
        m = em[O] - max(em[1:])
        _MARGIN_CACHE[row] = m
    return m


def _mentions_from_path(path: list[int], toks, text: str) -> list[dict]:
    """BIO path → PERSON/ADDRESS mentions (≥2 tokens)."""
    out: list[dict] = []
    i = 0
    while i < len(path):
        if path[i] == BPER or path[i] == BADDR:
            inner = IPER if path[i] == BPER else IADDR
            mtype = "PERSON" if path[i] == BPER else "ADDRESS"
            j = i + 1
            while j < len(path) and path[j] == inner:
                j += 1
            if j - i >= 2:  # single-token persons/addresses are noise
                out.append(
                    {
                        "start": toks[i][0],
                        "end": toks[j - 1][1],
                        "mention_type": mtype,
                        "surface": text[toks[i][0] : toks[j - 1][1]],
                        "score": 0.7,
                    }
                )
            i = j
        else:
            i += 1
    return out


# token → (safe, emission-row) combined cache (r07): one dict probe per
# token replaces the former feat-row + margin + emission triple lookup.
# Values derive from the same _feat_row/_o_margin/_em_row functions, so
# the skip decision and lattice stay bit-identical.
_TOK_CACHE: dict[str, tuple[bool, tuple[int, ...]]] = {}


def _tok_info(t: str) -> tuple[bool, tuple[int, ...]]:
    r = _feat_row(t)
    return (_o_margin(r) > MARGIN_SAFE, _em_row(r))


def _tok_offsets(text: str, words: list[str]) -> list[tuple[int, int, str]]:
    """Rebuild ``tokenize(text)`` from its ``findall`` word list with
    C-level ``str.find`` walks: tokens are maximal ``\\S+`` runs, so the
    next occurrence of ``words[i]`` at/after the previous token's end is
    exactly its start offset (the gap is all whitespace and the word
    contains none). Parity with tokenize() is fuzz-asserted."""
    find = text.find
    pos = 0
    out = []
    ap = out.append
    for w in words:
        s = find(w, pos)
        pos = s + len(w)
        ap((s, pos, w))
    return out


def _prep(text: str):
    """tokenize + skip-check; returns (toks, emission-row list) or None
    when the all-O skip applies (provably no mentions).

    r07 shape: ``findall`` first (token strings only, C loop) + one
    combined cache probe per token; char offsets are reconstructed via
    :func:`_tok_offsets` only for spans that survive the skip — half the
    corpus skips, and the offset tuples were the most expensive part of
    the old always-on ``finditer`` pass."""
    words = _TOKEN_RE.findall(text)
    if not words:
        return None
    get = _TOK_CACHE.get
    infos = []
    safe = True
    for t in words:
        v = get(t)
        if v is None:
            v = _tok_info(t)
            if len(_TOK_CACHE) < 1_000_000:  # bound worker memory
                _TOK_CACHE[t] = v
        if not v[0]:
            safe = False
        infos.append(v)
    if safe:
        return None
    return _tok_offsets(text, words), [v[1] for v in infos]


def tag_text(text: str) -> list[dict]:
    """T2: decode one span text → PERSON/ADDRESS mentions (≥2 tokens)."""
    prep = _prep(text)
    if prep is None:
        return []
    toks, em_rows = prep
    path = viterbi(np.array(em_rows, dtype=np.int64))
    return _mentions_from_path(path, toks, text)


def viterbi_batch(em_list: list[list[tuple[float, ...]]]) -> list[list[int]]:
    """Batched exact Viterbi over variable-length emission sequences —
    element-for-element the SAME arithmetic and first-max tie policy as
    :func:`viterbi` (asserted bit-identical by tests), but one numpy DP
    over the whole batch instead of a Python loop per token."""
    if not em_list:
        return []
    B = len(em_list)
    K = 5
    lens = np.array([len(e) for e in em_list])
    T_max = int(lens.max())
    # dtype follows the input: the production path feeds exact int64
    # emission rows (integer deci-weights), while tests may probe the DP
    # with float lattices — an int buffer would silently truncate those
    dt = np.asarray(em_list[0][0]).dtype
    em = np.zeros((B, T_max, K), dtype=dt)
    # r07: one flat C-level conversion + scatter instead of a per-row
    # ragged assignment loop
    flat = np.array([r for rows in em_list for r in rows], dtype=dt)
    row_idx = np.repeat(np.arange(B), lens)
    starts = np.cumsum(lens) - lens
    pos_idx = np.arange(flat.shape[0]) - np.repeat(starts, lens)
    em[row_idx, pos_idx] = flat
    delta = W_START[None, :] + em[:, 0, :]          # (B, K)
    backs = np.zeros((B, max(T_max - 1, 0), K), dtype=np.int64)
    trans = W_TRANS[None, :, :]                     # (1, K, K)
    scores = np.empty((B, K, K), dtype=np.result_type(dt, W_TRANS.dtype))
    for t in range(1, T_max):
        # same term order as the scalar DP: (delta + trans) + em
        np.add(delta[:, :, None], trans, out=scores)
        np.add(scores, em[:, t, :][:, None, :], out=scores)
        bt = scores.argmax(axis=1)                  # first-max ties, like viterbi
        new_delta = np.take_along_axis(scores, bt[:, None, :], axis=1)[:, 0, :]
        active = (t < lens)[:, None]
        delta = np.where(active, new_delta, delta)
        backs[:, t - 1, :] = bt
    # r07: backtrack vectorized across the batch — one sweep over t with
    # (B,)-wide gathers; per-row semantics identical to the scalar loop
    # (np.argmax is the same first-max tie policy as the strict-> scan)
    last = np.argmax(delta, axis=1)
    cur = last.copy()
    P = np.empty((B, T_max), dtype=np.int64)
    ar = np.arange(B)
    lm1 = lens - 1
    for t in range(T_max - 1, -1, -1):
        starting = lm1 == t
        if starting.any():
            cur[starting] = last[starting]
        P[:, t] = cur
        if t > 0:
            nxt = backs[ar, t - 1, cur]
            cur = np.where(t <= lm1, nxt, cur)
    return [P[b, : lens[b]].tolist() for b in range(B)]


# max padded lattice cells (rows × padded length) per viterbi_batch
# call: bounds worker memory to ~BATCH_CELL_BUDGET × 5 states × 8 B
# (~80 MB) even when one pathological span is thousands of tokens long —
# chunks are length-sorted, so padding waste stays small.
BATCH_CELL_BUDGET = 2_000_000


def tag_texts(texts: list[str]) -> list[list[dict]]:
    """Batched T2 over many span texts: per-text skip-check, then
    length-sorted, memory-bounded numpy Viterbi over the survivors.
    Output identical to ``[tag_text(t) for t in texts]`` (asserted by
    tests; per-sequence decodes are independent, so chunking and
    ordering cannot change results)."""
    preps = [(_prep(t) if t is not None else None) for t in texts]
    live = sorted(
        (i for i, p in enumerate(preps) if p is not None),
        key=lambda i: len(preps[i][1]),
    )
    out: list[list[dict]] = [[] for _ in texts]
    chunk: list[int] = []

    def flush() -> None:
        if not chunk:
            return
        paths = viterbi_batch([preps[i][1] for i in chunk])
        for i, path in zip(chunk, paths):
            toks, _ = preps[i]
            out[i] = _mentions_from_path(path, toks, texts[i])
        chunk.clear()

    for i in live:
        n = len(preps[i][1])
        # padded cells if i joins the (length-sorted) chunk: max len = n
        if chunk and (len(chunk) + 1) * n > BATCH_CELL_BUDGET:
            flush()
        chunk.append(i)
    flush()
    return out
