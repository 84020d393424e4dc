"""Tests of the benchmark itself: fast unit tests, then smoke runs.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per case (about a minute each).
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from ops import rounds  # noqa: E402
from oracle import same_rows  # noqa: E402
from report import END_TO_END, PER_LAYER, end_to_end  # noqa: E402


def _bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_report():
    cfg = _bench_config()
    assert [m["name"] for m in cfg["end_to_end"]] == list(END_TO_END)
    assert {m["name"]: m["unit"] for m in cfg["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in cfg["per_layer"]} == PER_LAYER
    assert len(cfg["per_layer"]) <= 128


def test_rounds_repeat_one_order_of_every_kind():
    kinds = ["a", "b", "c", "d"]
    first = list(itertools.islice(rounds(kinds), 12))
    assert first == list(itertools.islice(rounds(kinds), 12))
    assert sorted(first[:4]) == kinds
    assert first[:4] == first[4:8] == first[8:]


def test_end_to_end_weights_kinds_by_declared_share():
    recs = [SimpleNamespace(kind=k, latency=t) for k, t in
            [("fast", 1.0), ("fast", 1.0), ("fast", 1.0), ("slow", 3.0)]]
    m = end_to_end(recs, setup_s=2.0, weights={"fast": 0.5, "slow": 0.5})
    assert m["setup_s"] == 2.0
    assert m["ops_per_s"] == pytest.approx(0.5)  # mean op cost 2 s


def test_same_rows_ignores_order_and_float_noise():
    assert same_rows([(1, "a", 0.1 + 0.2)], [["a", 1, 0.3]])
    assert same_rows([(1,), (2,)], [(2,), (1,)])
    assert not same_rows([(1,)], [(2,)])
    assert not same_rows([(1,)], [(1,), (1,)])


def _run(args, cwd=ROOT, timeout=600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(["--workload", "write_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
               cwd=tmp_path, timeout=180)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


@pytest.mark.parametrize(
    "workload,trace", [("write_mix", 1), ("analytics", 1), ("analytics", 0)]
)
def test_smoke(workload, trace):
    out = _run(["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", str(trace),
                "--sf", "0.001", "--ops", "3"])
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 3
    names = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    if trace:
        assert result["metrics"]["trace.overhead_ratio"]["value"] >= 1.0
        assert result["metrics"]["spark.jobs"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
