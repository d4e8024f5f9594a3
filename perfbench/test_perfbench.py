"""Self-test of the benchmark at tiny input sizes:

    python3 -m pytest perfbench -q

Every metric BENCHMARK.json names is emitted by every workload, traced
and untraced; the generated inputs are a pure function of the seed; and
a checkout holding only the benchmark fails without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

LEAF_METRICS = [m["name"] for m in SPEC["per_layer"]
                if m["name"].startswith("leaf.") and not m["name"].endswith("shuffle_bytes")]
# per-layer metrics that must be non-zero on a workload's traced run
APPLIES = {
    "web_mix": ["langid.docs", "scrub.docs", "bare.us_per_doc", "framework_eff",
                "spark.jobs", "arrow.bytes_to_python", "python.run_s", "spark.scan_s",
                "checkpoint.files_written", "lineage.s", "gen.us_per_doc"],
    "pii_dense": ["scrub.pii_hits", "scrub.us_per_kchar", "spark.tasks", "gen.us_per_doc",
                  *LEAF_METRICS],
    "checkpointed_job": ["checkpoint.files_written", "checkpoint.bytes_written",
                         "checkpoint.resume_s", "lineage.s", "spark.shuffle_write_bytes",
                         "langid.docs"],
    "operator_leaves": [*LEAF_METRICS, "spark.jobs", "gen.us_per_doc"],
}


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS + ["checkpointed_job", "operator_leaves"])
def test_every_metric_is_emitted(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "0",
             "--trace", str(trace), "--scale", "0.05")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"])
    if trace:
        for name in APPLIES[workload]:
            assert result["metrics"][name]["value"] > 0, name
    else:
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_inputs_are_a_pure_function_of_the_seed():
    from perfbench import inputs
    from perfbench.workloads import PiiDense, WebMix

    a, b, c = (inputs.leaf_tables(s, 300) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    for cls in (WebMix, PiiDense):
        x, y, z = (cls(s, 4, "unused").doc_texts(8) for s in (5, 5, 6))
        assert x == y and x != z
    assert all(len(t) > 3000 for t in PiiDense(5, 4, "unused").doc_texts(8))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    p = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
