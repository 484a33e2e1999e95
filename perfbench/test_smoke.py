"""Smoke test of the benchmark itself, at tiny input sizes.

    python -m pytest perfbench/test_smoke.py -q

The end-to-end cases start one Spark session per run and take a few
minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from workloads import normalize, oracle_mismatch  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# per-layer metrics each workload must measure (non-zero) itself
OWN_LAYERS = {
    "extract_commit": [
        "operators.media.resolve_ms", "kernels.resize.det_ms",
        "models.det_ms", "kernels.dbpostprocess_ms", "kernels.boxes_ms",
        "kernels.crop_ms", "ocr.textsystem.cls_ms", "ocr.textsystem.rec_ms",
        "ocr.textsystem.image_ms", "ocr.boxes_per_image",
        "ocr.text_match_share", "pipeline.ocr_stage.python_bytes_per_image",
        "pipeline.explode_spans_s", "pipeline.ocr_stage_s",
        "pipeline.ocr_stage.task_skew", "pipeline.ocr_stage.busy_share",
        "pipeline.reassemble_s", "pipeline.shuffle_bytes",
        "sinks.ledger.write_s", "sinks.ledger.pending_s", "spark.jobs",
        "spark.stages", "spark.tasks", "pipeline.build_session_s",
        "imagecodec.decode_ms", "operators.sources.binary_scan_s",
        "operators.sources.ocr_stage_s",
        "operators.sources.python_bytes_per_image",
    ],
    "battery": [
        "battery.ocr_text_passthrough_s", "battery.explode_tokens.jobs",
        "spark.jobs", "spark.tasks",
    ],
}


def run_bench(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_its_unit(workload, trace):
    p = run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    values = {n: m["value"] for n, m in out["metrics"].items()}
    if trace:
        zero = [n for n in OWN_LAYERS[workload] if not values[n]]
        assert not zero, zero
    else:
        assert all(v > 0 for v in values.values()), values


def test_corrupted_span_is_detected():
    expected = inputs.expected_docs(inputs.range_start("t", 1), 97)
    rows = [{"doc_id": d, "spans": [
        {"kind": k, "text": t, "media_ref": r, "offset": o}
        for k, t, r, o in seq]} for d, seq in expected.items()]
    assert inputs.doc_mismatches(rows, expected) == 0
    media = next(s for r in rows for s in r["spans"] if s["kind"] == "media")
    media["text"] += "x"
    assert inputs.doc_mismatches(rows, expected) == 1
    assert inputs.doc_mismatches(rows[1:], expected) >= 1


def test_corrupted_query_cell_is_detected():
    got = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    want = normalize(got.iloc[::-1].copy())
    assert not oracle_mismatch(got, want)
    bad = got.copy()
    bad.loc[1, "v"] = "z"
    assert oracle_mismatch(bad, want)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(str(tmp_path), "extract_commit", 0)
    assert p.returncode != 0
    assert not p.stdout.strip()
