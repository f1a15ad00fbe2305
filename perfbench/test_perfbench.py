"""Tiny-size self-test of the benchmark: every workload in both modes
prints a well-formed, correct result line, and a directory without the
hllspark package makes the benchmark fail without printing one.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY_ROWS = "20000"


def _bench(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload,trace", [
    ("urls_by_lang", 0), ("sketch_rollup", 0), ("sketch_rollup", 1),
])
def test_result_line(workload, trace):
    proc = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds",
                  "1", "--trace", str(trace), "--rows", TINY_ROWS)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= run.MIN_ITERS
    declared = run.declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    for name in ("setup_s", "rows_per_s", "vs_floor", "rel_err_max",
                 "sketch_bytes", "fail_frac", "peak_rss_mb") if not trace else ():
        assert f"  {name} " in proc.stdout


def test_summary_line_fits_tail():
    line = json.dumps({"correct": True, "attempted": 10 ** 6, "failed": 0,
                       "metrics": {k: {"value": 1 / 3 * 10 ** 6, "unit": u}
                                   for k, u in run.declared("per_layer").items()}},
                      separators=(",", ":"))
    assert len(line) <= 1536  # about 1.5 KB: fits a 2000-char output tail


class _FailsAfterFirst:
    """A stand-in workload whose check passes once, then always fails."""

    warmup_iters = 0

    def floor_query(self):
        return types.SimpleNamespace(collect=lambda: None)

    def iterate(self, i):
        return i

    def check(self, i, result):
        return {"ok": i == 0, "rel_err_max": 0.0, "sketch_bytes": None}


def test_measure_ends_when_checks_keep_failing():
    runner = run.Runner(None, _FailsAfterFirst(), None)
    m = runner.measure(0)
    assert len(m["iteration_s"]) == 1
    assert runner.attempted == run.MAX_ATTEMPTS
    assert runner.failed == run.MAX_ATTEMPTS - 1


def test_fails_without_repo(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = _bench(tmp_path, "--workload", "urls_by_lang", "--seed", "1",
                  "--seconds", "1", "--trace", "0", timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
