"""The benchmark's own tests: seeded inputs, workload shapes, plan routing,
and the emitted metric names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from pdf_extraction_tests_spark.pipeline import DEFAULT_OVERSIZE_CHARS  # noqa: E402
from perfbench import inputs  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _land(tmp_path: Path, seed: int, workload: str, name: str) -> dict[str, bytes]:
    out = tmp_path / name
    inputs.write_corpus(inputs.make_corpus(seed, workload), str(out),
                        inputs.SHAPES[workload].files)
    return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}


@pytest.mark.parametrize("workload", sorted(inputs.SHAPES))
def test_same_seed_lands_identical_bytes(tmp_path, workload):
    assert _land(tmp_path, 5, workload, "a") == _land(tmp_path, 5, workload, "b")


@pytest.mark.parametrize("workload", sorted(inputs.SHAPES))
def test_other_seed_changes_inputs(tmp_path, workload):
    a = _land(tmp_path, 5, workload, "a")
    b = _land(tmp_path, 6, workload, "b")
    assert a.keys() == b.keys()
    assert all(a[f] != b[f] for f in a)


def test_skewed_oversize_docs_hold_about_half_the_chars():
    c = inputs.make_corpus(3, "extract_skewed")
    chars = c.chars()
    big = sum(x for x in chars if x > DEFAULT_OVERSIZE_CHARS)
    assert len(c.oversize_ids()) == inputs.SHAPES["extract_skewed"].oversize_docs
    assert 0.4 <= big / sum(chars) <= 0.6


@pytest.mark.parametrize("workload", ["extract_batch", "curate"])
def test_batch_shapes_carry_no_oversize_doc(workload):
    assert inputs.make_corpus(3, workload).oversize_ids() == []


def test_replicas_give_exact_and_near_duplicates():
    c = inputs.make_corpus(3, "extract_batch")
    assert len(set(c.doc_ids)) == len(c.doc_ids)
    keys = [json.dumps(s, sort_keys=True) for s in c.spans]
    exact = len(keys) - len(set(keys))
    n_rep = int(len(keys) * inputs.REPLICA_SHARE)
    assert exact >= n_rep // 2 * 0.9  # the unedited half, barring collisions


@pytest.fixture(scope="module")
def spark():
    from perfbench.workloads import start_session

    s = start_session()
    yield s
    s.stop()


def _extract_plan(spark, tmp_path: Path, workload: str) -> str:
    from pdf_extraction_tests_spark import pipeline
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload](str(tmp_path), 2)
    wl.generate()
    wl.configure(spark)
    plan = pipeline.extract_docs(wl.docs(spark))._jdf.queryExecution().executedPlan()
    return plan.toString()


def test_batch_extraction_has_no_part_key_exchange(spark, tmp_path):
    plan = _extract_plan(spark, tmp_path, "extract_batch")
    assert "hashpartitioning(part_key" not in plan


def test_skewed_extraction_repartitions_on_part_key(spark, tmp_path):
    plan = _extract_plan(spark, tmp_path, "extract_skewed")
    assert "hashpartitioning(part_key" in plan


def _run(cwd: Path, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_batch",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_declared_metric_is_emitted(trace, section):
    p = _run(ROOT, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    detail = json.loads(p.stdout.strip().splitlines()[-2])
    assert detail["mismatch_docs"] == 0 and detail["error_rate"] == 0
    assert {"nproc", "master", "steal_pct", "loadavg1_mean"} <= detail["host"].keys()


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    p = _run(tmp_path, 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
