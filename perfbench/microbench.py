"""Single-thread µbench of the three pure-Python detector cores.

Times ``find_matches`` (regex), ``find_gazetteer_matches`` (Aho-Corasick)
and ``tag_texts`` (CRF, batched as the fused UDF calls it) on a fixed
sample of span texts from the seeded corpus: the first ``SAMPLE`` text
spans that the fused stage's gate keeps (its own ``_PURE_LOWER``
pattern), i.e. the spans the pipeline actually ships to Python. Each core runs ``REPEATS`` times
in this process with no Spark session alive; the median pass is kept.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from pie_spark.extract.fused import _PURE_LOWER
from pie_spark.extract.gazetteer import AhoCorasick, find_gazetteer_matches
from pie_spark.extract.matchers import find_matches
from pie_spark.extract.tagger import tag_texts
from pie_spark.fixtures.gazetteer import dictionary_entries

SAMPLE = 4000
REPEATS = 5


def sample_texts(corpus_dir: str) -> list[str]:
    out: list[str] = []
    docs = pq.read_table(os.path.join(corpus_dir, "docs"), columns=["spans"])
    for spans in docs.column("spans").to_pylist():
        for s in spans:
            if s["kind"] == "text" and s["text"] and _PURE_LOWER.search(s["text"]):
                out.append(s["text"])
                if len(out) == SAMPLE:
                    return out
    return out


def _time(fn, texts: list[str]) -> dict:
    passes = []
    for _ in range(REPEATS):
        c0, t0 = time.process_time(), time.perf_counter()
        rows = fn(texts)
        passes.append((time.perf_counter() - t0, time.process_time() - c0, rows))
    wall, cpu, rows = sorted(passes)[len(passes) // 2]
    return {
        "wall_s": (wall, "s"),
        "cpu_s": (cpu, "s"),
        "rows_out": (rows, "count"),
        "us_per_span": (1e6 * wall / len(texts), "us"),
    }


def run(corpus_dir: str) -> dict:
    texts = sample_texts(corpus_dir)
    ac = AhoCorasick(sorted({e.surface for e in dictionary_entries()}))
    cores = {
        "extract.matchers": lambda ts: sum(len(find_matches(t)) for t in ts),
        "extract.gazetteer": lambda ts: sum(len(find_gazetteer_matches(t, ac)) for t in ts),
        "extract.tagger": lambda ts: sum(len(m) for m in tag_texts(ts)),
    }
    out = {}
    for layer, fn in cores.items():
        for k, (v, unit) in _time(fn, texts).items():
            out[f"{layer}.{k}"] = {"value": v, "unit": unit}
    return out
