"""Tests of the benchmark itself. From the repository root:

    python -m pytest perfbench -q

The smoke tests run every workload at the tiny size, untraced and traced,
in a subprocess, and check the result line against BENCHMARK.json. They
start Spark, so they take a few minutes.
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_every_metric_emitted(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
    report = json.loads(lines[-2])["report"]
    assert report["ops_failed_frac"] == 0.0
    for fig in report["figures"].values():
        assert fig["unit"] and fig["n"] >= 1


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it must exit non-zero
    and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_corrupted_triples_fail_the_golden_check():
    import gen
    import workloads
    from graphiti_spark import corpus

    docs = gen.documents(11, 40, 400)
    g = corpus.golden_triples(docs)
    import hashlib

    good = g.rename(columns={"subj": "subj_name", "obj": "obj_name"})
    good["episode_uuid"] = [hashlib.md5(f"{u}|{p}".encode()).hexdigest()
                            for u, p in zip(g["url"], g["para_idx"])]
    assert workloads.raw_triple_pr(docs, good) == (1.0, 1.0)
    bad = good.copy()
    bad.loc[bad.index[0], "obj_name"] = "Nowhere"
    p, r = workloads.raw_triple_pr(docs, bad)
    assert p < 1.0 and r < 1.0


class _Stub:
    """A one-operation workload: ``ok`` is what its operation's own check
    says, ``rejected`` how many operations the end-of-run check rejects."""

    def __init__(self, ok: bool, rejected: int):
        self.ok, self.rejected = ok, rejected

    def step(self, ctx):
        return "op", 0.01, self.ok

    def finish(self, ctx):
        return self.rejected


@pytest.mark.parametrize("ok,rejected", [(False, 0), (True, 1), (False, 1)])
def test_corrupted_output_counts_in_ops_failed(ok, rejected):
    import run

    ops, failed = run.measure(_Stub(ok, rejected), ctx=None, seconds=0.0)
    assert len(ops) == 1 and failed == 1
    assert run.failed_frac(ops, failed) == 1.0


def test_generator_is_seeded():
    import gen

    a, b = gen.documents(3, 50, 500), gen.documents(3, 50, 500)
    assert a.equals(b)
    assert not a.equals(gen.documents(4, 50, 500))
    assert a["doc_id"].max() < gen.MAX_DOC_ID and a["doc_id"].is_unique
