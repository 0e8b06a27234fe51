"""Tests of the benchmark itself: its metric set, its correctness gate and its
seeding.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

The Spark cases start a local JVM and take about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import common  # noqa: E402
import inputs  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _run(workload, seed=1, seconds=1, trace=0, poison=0, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if poison:
        cmd += ["--poison-expected", str(poison)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{")
                          else None), p


def test_declared_metrics_match_benchmark_json():
    spec = _spec()
    for key, table in (("end_to_end", common.END_TO_END),
                       ("per_layer", common.PER_LAYER)):
        declared = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        assert declared == table
    assert [w["name"] for w in spec["workloads"]] == [
        "crawl_direct", "hostile_local"]


def test_emitted_metrics_match_benchmark_json_and_seed_keeps_the_set():
    spec = _spec()
    names = {m["name"] for m in spec["end_to_end"]}
    seen = []
    for seed in (1, 2):
        code, res, p = _run("hostile_local", seed=seed)
        assert code == 0, p.stdout + p.stderr
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert set(res["metrics"]) == names
        for m in spec["end_to_end"]:
            assert res["metrics"][m["name"]]["unit"] == m["unit"]
            assert res["metrics"][m["name"]]["value"] > 0
        seen.append(res)
    assert seen[0]["metrics"].keys() == seen[1]["metrics"].keys()


@pytest.mark.parametrize("workload", ["hostile_local", "crawl_direct"])
def test_wrong_expected_output_fails_the_run(workload):
    code, res, p = _run(workload, poison=3)
    assert code != 0, p.stdout
    assert res is not None and not res["correct"]
    assert res["failed"] >= 3
    assert "docs_failed_frac = 0 " not in p.stdout


def test_traced_run_emits_every_per_layer_metric():
    code, res, p = _run("crawl_direct", trace=1)
    assert code == 0, p.stdout + p.stderr
    assert set(res["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # the stage splits into scan, boundary, body and the unattributed rest
    import crawl

    n_docs = crawl.DOCS * crawl.MULTIPLIER
    body = m["udf_body.us_per_doc"] * 1e-6 * n_docs / common.nproc()
    total = m["scan.s"] + m["boundary.s"] + body + m["stage.unattributed_frac"] * m["stage.s"]
    assert total == pytest.approx(m["stage.s"], rel=1e-9)
    assert "trace: .bench_work/trace/crawl_direct-seed1.spans.jsonl" in p.stdout
    with open(os.path.join(ROOT, ".bench_work", "trace",
                           "crawl_direct-seed1.layers.json")) as fh:
        summary = json.load(fh)
    assert summary["metrics"] == m
    assert summary["self_time_s"]["parse"]["spans"] > 0


def test_seed_changes_inputs_but_not_their_shape(tmp_path):
    a = inputs.hostile_local_docs(ROOT, 1)
    b = inputs.hostile_local_docs(ROOT, 2)
    assert len(a) == len(b)
    assert sorted(d.kind for d in a) == sorted(d.kind for d in b)
    hostile_a = [d.raw for d in a if d.kind.startswith("hostile:")]
    hostile_b = [d.raw for d in b if d.kind.startswith("hostile:")]
    assert hostile_a != hostile_b
    assert [d.id for d in a] != [d.id for d in b]

    import pyarrow.parquet as pq

    inputs.write_documents(str(tmp_path / "s1"), 50, 1)
    inputs.write_documents(str(tmp_path / "s2"), 50, 2)
    t1 = pq.read_table(str(tmp_path / "s1" / "documents.parquet")).to_pylist()
    t2 = pq.read_table(str(tmp_path / "s2" / "documents.parquet")).to_pylist()
    assert [r["doc_id"] for r in t1] == [r["doc_id"] for r in t2]
    assert [len(r["text"].split()) for r in t1] == [len(r["text"].split()) for r in t2]
    assert [r["text"] for r in t1] != [r["text"] for r in t2]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, p = _run("hostile_local", cwd=str(tmp_path))
    assert code != 0
    assert res is None


def test_tracer_self_time_subtracts_children():
    t = common.Tracer("r", True)
    t.spans[:] = [
        {"id": 0, "name": "a", "parent": None, "run_id": "r", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "run_id": "r", "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "run_id": "r", "start": 5.0, "end": 6.0},
    ]
    assert t.self_times() == {"a": (6.0, 1), "b": (4.0, 2)}
    assert common.Tracer("r", False).span("x").__enter__() is None


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert common.percentile(values, 50) == 50
    assert common.percentile(values, 99) == 99
    assert common.percentile([7.0], 99) == 7.0
