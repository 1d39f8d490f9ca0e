"""The benchmark's own tests: its metric list matches BENCHMARK.json, the
attribution rule accounts for the whole wall, a perturbed expected
output is caught, and it refuses to run without the repository.

    python3 -m pytest perfbench -q

The perturbed-output test starts Spark and takes under a minute.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import tracing  # noqa: E402


def _span(sid, name, parent, start, end):
    return {"id": sid, "name": name, "parent": parent, "run": "t", "start": start, "end": end}


def test_metric_lists_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_union_s():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_s([(0, 10)], 2, 4) == 2
    assert tracing.union_s([]) == 0


def test_attribution_covers_the_root_wall():
    spans = [
        _span(0, "run", None, 0.0, 10.0),
        _span(1, "run_pipeline", 0, 0.0, 4.0),
        _span(2, "conflicts", 1, 1.0, 3.0),
        _span(3, "write_sinks", 0, 5.0, 9.0),
        # a span from another thread, parented to the root but opened
        # inside run_pipeline: the later-started span wins the tie
        _span(4, "other_thread", 0, 3.2, 3.7),
    ]
    labels = {"run_pipeline": "plan", "conflicts": "conflicts",
              "write_sinks": "sink_write", "other_thread": "x"}
    got = tracing.attribute(spans, spans[0], labels, parse_intervals=[(1.5, 2.0)])
    assert got == pytest.approx({"plan": 1.5, "conflicts": 1.5, "parse": 0.5, "x": 0.5,
                                 "sink_write": 4.0, "unattributed": 2.0})
    assert sum(got.values()) == pytest.approx(10.0)


def _bench(cwd: Path, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_bulk", "--seed", "3",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_perturbed_expected_count_is_caught():
    proc = _bench(ROOT, "--perturb-expected")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 2


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench(tmp_path)
    assert proc.returncode != 0
    assert proc.stdout == ""
