"""Self-test of the benchmark: tiny runs (sf0.001, a small point count)
print every metric named in BENCHMARK.json with its unit, a wrong
expected digest makes the output check fail, and a directory without the
engine is refused.

    python3 -m pytest perfbench/tests -q      # about three minutes
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work", "selftest")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--sf", "sf0.001", "--points", "20000", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def units(res: dict) -> dict:
    return {k: v["unit"] for k, v in res["metrics"].items()}


@pytest.fixture(scope="module")
def wrong_expected() -> str:
    """The stored digests with one sf0.001 query's checksum altered."""
    with open(os.path.join(BENCH, "expected.json")) as f:
        doc = json.load(f)
    entry = doc["results"]["sf0.001"]["snap_to_segment"]
    entry["sha256"] = "0" * 64
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, "expected-wrong.json")
    with open(path, "w") as f:
        json.dump(doc, f)
    return path


def test_pip_assign_bulk_prints_every_metric_and_passes_its_check():
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = result_of(run_bench("pip_assign_bulk", trace))
        assert units(res) == {m["name"]: m["unit"] for m in SPEC[key]}
        assert all(isinstance(m["value"], float) for m in res["metrics"].values())
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3


def test_query_mix_prints_every_metric_and_a_wrong_digest_fails(wrong_expected):
    res = result_of(run_bench("query_mix", 1))
    assert units(res) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert res["correct"] and res["failed"] == 0
    # the traced run also built the pipeline and resumed it
    assert res["metrics"]["manifest.rows_written"]["value"] > 0
    assert res["metrics"]["manifest.resume_s"]["value"] > 0

    res = result_of(run_bench("query_mix", 0, "--expected", wrong_expected))
    assert units(res) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert res["failed"] == 1 and not res["correct"]
    assert res["failed"] / res["attempted"] > 0  # error_rate


def test_refuses_a_directory_without_the_engine():
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("pip_assign_bulk", 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
