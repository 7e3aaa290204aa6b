"""Smoke test of the benchmark itself, at tiny scale.

  python3 -m pytest perfbench/test_smoke.py -q   (from the repository root)

Runs every workload untraced and traced with the shortest measurement
(the cold pass, the warm-up and the fewest measured passes) and
asserts that every metric BENCHMARK.json names is printed with its
unit, that every pass's output check passed, and that the traced runs
together write spans for every layer. It also checks that the
benchmark's transcript generator yields the table
``fte.synth.gen_transcripts_df`` yields.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYERS = {"conf", "scan", "pipeline", "windows", "io", "checkpoint", "asof", "evaluation",
          "text", "dedup", "packing", "curate", "similarity", "catalog"}
sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS  # noqa: E402

pytestmark = pytest.mark.slow


def bench(*args: str) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "0", "--size", "smoke", *args],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=1800, check=False)
    assert proc.returncode == 0, proc.stdout[-2000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def assert_printed(lines: list[str], result: dict, metrics: list[dict], prefix: str = "") -> None:
    assert result["correct"] and result["failed"] == 0, "\n".join(lines[:-1])[-3000:]
    for m in metrics:
        name = prefix + m["name"]
        assert result["metrics"][name]["unit"] == m["unit"], name
        assert any(re.fullmatch(rf"metric {re.escape(m['name'])} = \S+ {re.escape(m['unit'])}", ln)
                   for ln in lines), m["name"]


def test_end_to_end_metrics_every_workload():
    lines, result = bench("--workload", "all", "--trace", "0")
    for w in WORKLOADS:
        assert_printed(lines, result, SPEC["end_to_end"], prefix=f"{w}.")


@pytest.fixture(scope="module")
def traced():
    d = ROOT / ".bench_cache" / "smoke-spans"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    runs = {}
    for w in WORKLOADS:
        runs[w] = bench("--workload", w, "--trace", "1", "--spans", str(d / f"{w}.jsonl"))
    return d, runs


def test_per_layer_metrics_every_workload(traced):
    _, runs = traced
    for lines, result in runs.values():
        assert_printed(lines, result, SPEC["per_layer"])


def test_spans_cover_every_layer(traced):
    d, _ = traced
    spans = [json.loads(ln) for p in d.glob("*.jsonl") for ln in p.read_text().splitlines()]
    assert LAYERS <= {s["layer"] for s in spans}
    for s in spans:
        assert s["end"] >= s["start"] and s["self_s"] >= 0
        assert {"name", "layer", "pass_id", "parent"} <= s.keys()


def test_transcripts_equal_gen_transcripts_df():
    from fte.conf import get_spark
    from fte.synth import gen_transcripts_df

    from perfbench import inputs

    spark = get_spark("perfbench-smoke", master="local[2]", extra_confs={"spark.ui.enabled": "false"})
    try:
        exp = gen_transcripts_df(spark, 40, 7).toPandas()
    finally:
        spark.stop()
    got = inputs.gen_transcripts(7, 40)
    keys = ["conv_id", "turn_idx"]
    exp = exp.sort_values(keys, ignore_index=True)
    got = got.sort_values(keys, ignore_index=True)
    exp["ts"] = exp["ts"].astype("datetime64[us]")
    assert list(got.columns) == list(exp.columns)
    for c in got.columns:
        x, y = got[c], exp[c]
        assert ((x.isna() & y.isna()) | (x.astype(str) == y.astype(str))).all(), c
