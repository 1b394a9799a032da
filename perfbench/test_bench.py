"""Benchmark-local checks: generated inputs depend on the seed alone, and
BENCHMARK.json names exactly the metrics run.py reports.

    python3 -m pytest perfbench/test_bench.py -q -p no:cacheprovider
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402

WORKLOADS = ("command", "project", "query", "curate")


def _fingerprint_in_fresh_process(workload: str, seed: int, hashseed: str) -> str:
    code = ("import sys; sys.path.insert(0, sys.argv[1]); from perfbench import gen; "
            "print(gen.fingerprint(sys.argv[2], int(sys.argv[3])))")
    env = dict(os.environ, PYTHONHASHSEED=hashseed)
    out = subprocess.run([sys.executable, "-c", code, ROOT, workload, str(seed)],
                         env=env, check=True, capture_output=True, text=True)
    return out.stdout.strip()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_one_seed_gives_byte_identical_inputs(workload):
    a = _fingerprint_in_fresh_process(workload, 7, "1")
    b = _fingerprint_in_fresh_process(workload, 7, "2")
    assert a == b == gen.fingerprint(workload, 7)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_another_seed_gives_other_inputs(workload):
    assert gen.fingerprint(workload, 7) != gen.fingerprint(workload, 8)


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
