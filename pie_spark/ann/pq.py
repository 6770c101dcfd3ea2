"""Product quantization (PQ) — the memory-scale half of IVF-PQ
(N6 in SURVEY.md §2.12; completes the ANN family's scale path:
brute-force baseline → LSH/IVF shuffle pruning → PQ byte codes).

At the 10^12-row design point the raw float vectors (64 dims × 8 B =
512 B/row) cannot live in executor memory or ride a broadcast; PQ
stores m uint8 codes per vector (m=4 here → 128× smaller) and answers
top-k with asymmetric distance computation (ADC): per query, one
m×ksub lookup table of exact subspace distances, then score(vec) =
Σ_sub LUT[sub][code]. The corpus is touched only through its code
table — scan-sized, never vector-sized.

Spark shape (all JVM-side, zero Python in the hot path):

* **train** — Lloyd per subspace, all m subspaces in ONE job per
  iteration: sub-vector rows (vec_id, sub, sv) join the broadcast
  codebook on `sub`, assignment is a ``groupBy(vec_id, sub).agg(
  min_by)`` (algebraic — map-side combine collapses the ksub fan-out
  before the shuffle), update is a (sub, code, pos) integer partial
  agg. The codebook is m·ksub rows — broadcast everywhere.
* **encode** — one assignment pass + per-vec code assembly
  (``array_sort(collect_list)`` over m rows, the kmeans.py recipe).
* **search (ADC)** — LUT = queries × codebook (both tiny, broadcast);
  the code table explodes to (vec_id, sub, code), joins the broadcast
  LUT, and a map-side-combinable SUM per (q_id, vec_id) yields exact
  BIGINT distances; top-k per query is one bounded window.

Determinism discipline (the kmeans.py contract, restated for L2):
vector components quantize once to integer micro-units
(``round(x·1e6)`` — Spark HALF_UP, replayed with the same half-up rule
in Python); every distance is an exact BIGINT Σ(Δ²); seeds are the
ksub corpus vectors with the smallest portable md5 hash of their id;
assignment ties break on (dist, code); centroid means use explicit
floor division (``(s − pmod(s, n)) / n`` — identical to Python ``//``
on negatives, where bigint ``div`` would truncate); empty codes keep
their previous centroid. The whole trajectory is bit-identical across
partitionings and re-implementations — :func:`pq_reference` replays
it in plain Python ints and tests/test_ann.py pins exact equality,
which lets the folded DuckDB oracle inline Python-trained codebooks
and replay encode+ADC in pure BIGINT SQL.

Magnitude audit (why BIGINT never overflows): |x| ≤ ~0.4 on the
fixtures (and any unit-normalized embedding keeps |x| ≤ 1), so micro
components ≤ 1e6, Δ² ≤ 4e12, a d_sub=16 subspace distance ≤ 6.4e13
and the full ADC sum over m=4 subspaces ≤ 2.6e14 — 38 bits of
headroom in int64 even at |x| = 30.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pie_spark.dedup.shingles import h64, h64_py

MICRO = 1_000_000


def _sub_rows(
    df: DataFrame,
    m: int,
    d_sub: int,
    id_col: str,
    vec_col: str,
    out_id: str = "vec_id",
    out_vec: str = "sv",
) -> DataFrame:
    """(vec_id, sub, sv: array<long>) — the vector sliced into m
    contiguous subspaces, each micro-quantized AFTER the slice so the
    transform lambda runs once per emitted element (slicing the
    already-transformed array under the Generate would re-inline the
    full-width lambda per subspace — the Catalyst re-evaluation trap
    from the r02/r04 plan audits)."""
    sv = F.transform(
        F.slice(F.col("v"), F.col("sub") * d_sub + 1, d_sub),
        lambda x: F.round(x * MICRO).cast("long"),
    )
    return (
        df.select(
            F.col(id_col).cast("string").alias(out_id),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .select(
            out_id,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            "v",
        )
        .select(out_id, "sub", sv.alias(out_vec))
    )


def _seed_codebook(subs: DataFrame, ksub: int) -> DataFrame:
    """(sub, code, cv): code c of every subspace seeds from the corpus
    vector with the (c+1)-th smallest portable id hash — the ivf_topk /
    train_kmeans seed recipe, reproducible without RNG. orderBy+limit
    is TakeOrderedAndProject; the row_number window runs on ksub rows."""
    seeds = (
        subs.select("vec_id")
        .distinct()
        .withColumn("hk", h64(F.col("vec_id")))
        .orderBy("hk", "vec_id")
        .limit(ksub)
        .withColumn(
            "code", F.row_number().over(Window.orderBy("hk", "vec_id")) - 1
        )
        .select("vec_id", "code")
    )
    return subs.join(F.broadcast(seeds), "vec_id").select(
        "sub", "code", F.col("sv").alias("cv")
    )


def _l2(a, b):
    """Exact integer squared L2 between two micro arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, sub, sv, code): nearest sub-centroid by exact integer
    L2, (dist, code) tiebreak — min_by hash agg over the broadcast
    codebook fan-out (ksub rows per input row, collapsed map-side)."""
    ranked = F.struct(
        _l2(F.col("sv"), F.col("cv")).alias("d"), F.col("code").alias("c")
    )
    return (
        subs.join(F.broadcast(cb), "sub")
        .groupBy("vec_id", "sub")
        .agg(
            F.min_by(
                F.struct(F.col("sv").alias("sv"), F.col("code").alias("code")),
                ranked,
            ).alias("best")
        )
        .select("vec_id", "sub", F.col("best.sv").alias("sv"), F.col("best.code").alias("code"))
    )


def _update(assigned: DataFrame, cb: DataFrame) -> DataFrame:
    """New centroid per (sub, code) = floor-div integer mean of member
    sub-vectors (stays in micro longs end to end); empty codes keep the
    previous centroid."""
    e = assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
    per = e.groupBy("sub", "code", "pos").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    fresh = per.groupBy("sub", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
            lambda st: ((st["s"] - F.pmod(st["s"], st["n"])) / st["n"]).cast("long"),
        ).alias("cv")
    )
    keep = cb.join(fresh.select("sub", "code"), ["sub", "code"], "left_anti")
    return fresh.unionByName(keep)


def train_pq(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, code, cv: array<long> micro) after ``iters`` Lloyd
    iterations per subspace, all subspaces trained in one job per
    iteration. Requires dim % m == 0 (checked against one row)."""
    dim = len(embeddings.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subs = _sub_rows(embeddings, m, dim // m, id_col, vec_col).localCheckpoint(
        eager=True
    )
    cb = _seed_codebook(subs, ksub).localCheckpoint(eager=True)
    for _ in range(iters):
        cb = _update(_assign(subs, cb), cb).localCheckpoint(eager=True)
    return cb


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes: array<int>) — codes[sub] = nearest sub-centroid.
    This table is the PQ index: m small ints per vector, the only
    corpus-sized artifact search ever scans."""
    dim = len(embeddings.select(vec_col).first()[0])
    subs = _sub_rows(embeddings, m, dim // m, id_col, vec_col)
    return (
        _assign(subs, codebook)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda st: st["code"].cast("int"),
            ).alias("codes")
        )
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    d_sub: int | None = None,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """ADC top-k: (q_id, rank, vec_id, adist) with adist the exact
    BIGINT Σ over subspaces of ‖q_sub − centroid(code)‖² in micro².
    The LUT (queries × m × ksub rows) broadcasts; the code table is
    scanned once, the per-(q_id, vec_id) SUM is algebraic."""
    if d_sub is None:
        d_sub = len(codebook.select("cv").first()[0])
    m_df = codebook.agg(F.max("sub").alias("mx"))
    m = m_df.first()["mx"] + 1
    qsubs = _sub_rows(queries, m, d_sub, q_id_col, q_vec_col, out_id="q_id", out_vec="qsv")
    lut = qsubs.join(F.broadcast(codebook), "sub").select(
        "q_id", "sub", "code", _l2(F.col("qsv"), F.col("cv")).alias("qd")
    )
    expl = codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        expl.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("qd").alias("adist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "adist")
    )


def pq_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF-PQ — the production composition: a coarse quantizer prunes
    the corpus to ``nprobe`` cells, then ADC scores only those cells'
    codes. The coarse quantizer IS :func:`train_pq` with m=1 (the whole
    vector as one subspace), so cell choice inherits the same exact
    integer-L2 determinism as the fine codebooks — no float cosine in
    the probe path to drift cross-engine. With nprobe = n_cells the
    result is exactly :func:`pq_topk` (pinned in tests); with
    nprobe < n_cells the scored row count drops to ~nprobe/n_cells of
    the corpus — the knob that turns a full code-table scan into a
    cell-local probe at 10^12 rows (cells are the bucketing key on
    disk, so a probe reads nprobe buckets, not the table)."""
    coarse = train_pq(embeddings, m=1, ksub=n_cells, iters=iters,
                      id_col=id_col, vec_col=vec_col)
    dim = len(embeddings.select(vec_col).first()[0])
    cells = (
        _assign(_sub_rows(embeddings, 1, dim, id_col, vec_col), coarse)
        .select("vec_id", F.col("code").alias("cell"))
    )
    fine = train_pq(embeddings, m=m, ksub=ksub, iters=iters,
                    id_col=id_col, vec_col=vec_col)
    index = pq_encode(embeddings, fine, m, id_col=id_col, vec_col=vec_col).join(
        cells, "vec_id"
    )
    # probe: top-nprobe cells per query by the same exact integer L2
    qcell = _sub_rows(queries, 1, dim, q_id_col, q_vec_col,
                      out_id="q_id", out_vec="qsv")
    pw = Window.partitionBy("q_id").orderBy(F.asc("cd"), F.asc("cell"))
    probes = (
        qcell.join(F.broadcast(coarse), "sub")
        .select("q_id", F.col("code").alias("cell"),
                _l2(F.col("qsv"), F.col("cv")).alias("cd"))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= nprobe)
        .select("q_id", "cell")
    )
    d_sub = dim // m
    qsubs = _sub_rows(queries, m, d_sub, q_id_col, q_vec_col,
                      out_id="q_id", out_vec="qsv")
    lut = qsubs.join(F.broadcast(fine), "sub").select(
        "q_id", "sub", "code", _l2(F.col("qsv"), F.col("cv")).alias("qd")
    )
    scored = (
        index.join(F.broadcast(probes), "cell")
        .select("q_id", "vec_id", F.posexplode("codes").alias("sub", "code"))
        .join(F.broadcast(lut), ["q_id", "sub", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("qd").alias("adist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "adist")
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """ADC shortlist + exact rerank — the production answer to PQ's
    inherent ceiling: vectors sharing all m codes are ADC-indistinguishable
    (quantization cells swallow intra-cell order), so production systems
    take a generous ADC top-``shortlist`` from the code table (cheap —
    raw vectors untouched) and rerank ONLY those with exact distances.
    The raw-vector fetch is shortlist·|Q| rows via a broadcast semi-join
    on ids — at 10^12 rows that is the difference between scanning a
    512 B/row vector table and scanning a 4 B/row code table plus
    point-reading a few hundred vectors per query. Exact integer micro
    L2 end to end; with shortlist ≥ corpus size this is provably the
    exact scan (pinned in tests)."""
    dim = len(embeddings.select(vec_col).first()[0])
    cand = pq_topk(
        codes, queries, codebook, k=shortlist,
        q_id_col=q_id_col, q_vec_col=q_vec_col,
    ).select("q_id", "vec_id")
    c_micro = _sub_rows(embeddings, 1, dim, id_col, vec_col)
    q_micro = _sub_rows(
        queries, 1, dim, q_id_col, q_vec_col, out_id="q_id", out_vec="qsv"
    ).drop("sub")
    exact = (
        cand.join(c_micro.drop("sub"), "vec_id")
        .join(F.broadcast(q_micro), "q_id")
        .select("q_id", "vec_id", _l2(F.col("sv"), F.col("qsv")).alias("dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "dist")
    )


# ---------------------------------------------------------------- reference


def _round_half_up(x: float) -> int:
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def pq_reference(
    vecs: dict[str, list[float]], m: int, ksub: int, iters: int
) -> dict[tuple[int, int], list[int]]:
    """Plain-Python replay of :func:`train_pq` in exact ints — the
    independent implementation the unit tests pin bit-equal and the
    folded DuckDB oracle trains from. Returns {(sub, code): cv_micro}."""
    dim = len(next(iter(vecs.values())))
    assert dim % m == 0
    d = dim // m
    micro = {
        i: [_round_half_up(x * MICRO) for x in v] for i, v in vecs.items()
    }
    subv = {
        (i, s): micro[i][s * d : (s + 1) * d] for i in micro for s in range(m)
    }
    seeds = sorted(micro, key=lambda i: (h64_py(i), i))[:ksub]
    cb = {(s, c): list(subv[(seeds[c], s)]) for s in range(m) for c in range(ksub)}
    for _ in range(iters):
        members: dict[tuple[int, int], list[list[int]]] = {}
        for (i, s), sv in subv.items():
            best = min(
                range(ksub),
                key=lambda c: (
                    sum((a - b) * (a - b) for a, b in zip(sv, cb[(s, c)])),
                    c,
                ),
            )
            members.setdefault((s, best), []).append(sv)
        new = {}
        for key, cv in cb.items():
            mem = members.get(key)
            if not mem:
                new[key] = cv
                continue
            new[key] = [
                sum(v[p] for v in mem) // len(mem) for p in range(d)
            ]
        cb = new
    return cb


def pq_encode_reference(
    vecs: dict[str, list[float]], cb: dict[tuple[int, int], list[int]], m: int
) -> dict[str, list[int]]:
    dim = len(next(iter(vecs.values())))
    d = dim // m
    ksub = max(c for _, c in cb) + 1
    out = {}
    for i, v in vecs.items():
        micro = [_round_half_up(x * MICRO) for x in v]
        codes = []
        for s in range(m):
            sv = micro[s * d : (s + 1) * d]
            codes.append(
                min(
                    range(ksub),
                    key=lambda c: (
                        sum((a - b) * (a - b) for a, b in zip(sv, cb[(s, c)])),
                        c,
                    ),
                )
            )
        out[i] = codes
    return out


def pq_topk_reference(
    codes: dict[str, list[int]],
    cb: dict[tuple[int, int], list[int]],
    queries: dict[str, list[float]],
    k: int,
) -> list[tuple[str, int, str, int]]:
    m = len(next(iter(codes.values())))
    d = len(next(iter(cb.values())))
    out = []
    for qid in sorted(queries):
        micro = [_round_half_up(x * MICRO) for x in queries[qid]]
        lut = {
            (s, c): sum(
                (a - b) * (a - b)
                for a, b in zip(micro[s * d : (s + 1) * d], cv)
            )
            for (s, c), cv in cb.items()
        }
        scored = sorted(
            (
                (sum(lut[(s, c)] for s, c in enumerate(cs)), vid)
                for vid, cs in codes.items()
            )
        )[:k]
        out.extend(
            (qid, r + 1, vid, dist) for r, (dist, vid) in enumerate(scored)
        )
    return out
