"""Self-tests of the benchmark: seeded corpus, smoke runs, bare checkout.

    python -m pytest perfbench/ -q

The smoke runs start a real ``local[4]`` Spark session per workload and
mode (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = corpus.build(str(tmp_path / "a"), seed=3, base=30, replicas=2)
    b = corpus.build(str(tmp_path / "b"), seed=3, base=30, replicas=2)
    c = corpus.build(str(tmp_path / "c"), seed=4, base=30, replicas=2)
    assert a == b
    assert a["docs"]["docs"] == c["docs"]["docs"] == 60
    assert a["docs"]["golden"] != c["docs"]["golden"]
    assert a["docs90"]["docs"] + a["docs10"]["docs"] == 60
    assert 0 < a["docs10"]["docs"] < a["docs90"]["docs"]


def test_fingerprint_ignores_order_and_sees_duplicates():
    import pyarrow as pa

    rows = {"subj": ["s1", "s2"], "pred": ["P", "P"], "obj": ["o1", "o2"], "doc_id": ["d", "d"]}
    fwd = corpus.fingerprint(pa.table(rows))
    rev = corpus.fingerprint(pa.table({k: v[::-1] for k, v in rows.items()}))
    dup = corpus.fingerprint(pa.table({k: v + v[:1] for k, v in rows.items()}))
    assert fwd == rev
    assert dup != fwd


def test_spec_names_the_workloads_run_accepts():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def _result(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.slow
@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_metric(workload, trace):
    p = _result(["--workload", workload, "--seed", "5", "--seconds", "1",
                 "--trace", trace, "--smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["attempted"] == 1 and res["failed"] == 0
    want = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _result(["--workload", "fresh", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
