"""Smoke test of the benchmark itself, at the tiny tier.

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs the benchmark command in a copy of the checkout, so the
inputs it caches and the files it corrupts stay out of the real one.
Every workload must print every metric BENCHMARK.json names, with its
unit; a corrupted expected digest or truth file must make the command
exit non-zero; traced and untraced runs must produce identical stage
row counts.  Takes a few minutes: every run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.fixture(scope="module")
def checkout(tmp_path_factory):
    d = tmp_path_factory.mktemp("checkout")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    ignore = shutil.ignore_patterns("__pycache__", ".perfbench_work")
    for sub in ["codedup", "tools"] + SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, sub), d / sub, ignore=ignore)
    return d


def bench(cwd, workload: str, trace: int = 0, seed: int = 3):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                             "--trace", str(trace), "--tier", "tiny"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, result


def stage_rows(stderr: str) -> dict:
    line = next(x for x in stderr.splitlines() if x.startswith("# stage_rows "))
    return json.loads(line[len("# stage_rows "):])


def assert_metrics(result, kind: str):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if kind == "end_to_end":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_dedup_metrics_and_traced_rows(checkout):
    p0, r0 = bench(checkout, "dedup", trace=0)
    assert p0.returncode == 0, p0.stderr[-3000:]
    assert_metrics(r0, "end_to_end")
    p1, r1 = bench(checkout, "dedup", trace=1)
    assert p1.returncode == 0, p1.stderr[-3000:]
    assert_metrics(r1, "per_layer")
    rows = stage_rows(p0.stderr)
    assert rows and rows == stage_rows(p1.stderr)
    assert r1["metrics"]["pipeline.span_share"]["value"] >= 0.8
    assert r1["metrics"]["stream.span_share"]["value"] >= 0.8


def test_catalog_metrics(checkout):
    p0, r0 = bench(checkout, "catalog", trace=0)
    assert p0.returncode == 0, p0.stderr[-3000:]
    assert_metrics(r0, "end_to_end")
    p1, r1 = bench(checkout, "catalog", trace=1)
    assert p1.returncode == 0, p1.stderr[-3000:]
    assert_metrics(r1, "per_layer")
    assert r1["metrics"]["catalog.span_share"]["value"] >= 0.95


def test_corrupted_digest_fails(checkout):
    path = checkout / "perfbench" / "catalog_digests.json"
    good = path.read_text()
    digests = json.loads(good)
    digests["ann_ivf_topk"]["digest"] = "0" * 64
    path.write_text(json.dumps(digests))
    try:
        p, r = bench(checkout, "catalog")
    finally:
        path.write_text(good)
    assert p.returncode != 0
    assert r is not None and not r["correct"] and r["failed"] >= 1


def test_corrupted_truth_fails(checkout):
    bench(checkout, "dedup", seed=4)   # writes the seed's inputs
    inputs = checkout / ".perfbench_work" / "inputs"
    (truth_path,) = inputs.glob("dedup-tiny-s4-*/truth_clusters.parquet")
    truth = pd.read_parquet(truth_path)
    truth["truth_cluster_id"] = truth["truth_cluster_id"].sample(frac=1.0, random_state=0).values
    truth.to_parquet(truth_path, index=False)
    p, r = bench(checkout, "dedup", seed=4)
    assert p.returncode != 0
    assert r is not None and not r["correct"] and r["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for sub in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, sub), tmp_path / sub)
    p, r = bench(tmp_path, "dedup")
    assert p.returncode != 0
    assert r is None
