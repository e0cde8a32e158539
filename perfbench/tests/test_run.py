"""The timed loop, the overhead record and a build_index smoke run."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run
from workloads import timed_loop

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_an_operation_that_raises_is_failed_and_reported():
    def op(i: int) -> float:
        if i == 1:
            raise ConnectionResetError("handler died")
        return 0.001

    errors: list[str] = []
    samples, attempted, failed, _ = timed_loop(0.05, op, errors)
    assert failed == 1 and len(samples) == attempted - 1
    assert errors == ["operation 1 raised ConnectionResetError('handler died')"]


def _record(code: str, seed: int, setup: float) -> dict:
    return {"code": code, "workload": "w", "seed": seed, "seconds": 20.0, "end_to_end": {
        "setup_s": {"value": setup, "unit": "s"}, "p50_s": {"value": 2.0, "unit": "s"}}}


def test_overhead_only_against_an_untraced_record_of_the_same_code_and_seed():
    traced = _record("abc", 1, 12.0)
    got = run.overhead(traced, _record("abc", 1, 10.0))
    assert got["setup_s"]["delta"] == 2.0 and abs(got["setup_s"]["share"] - 0.2) < 1e-12
    assert got["p50_s"]["delta"] == 0.0
    assert run.overhead(traced, _record("def", 1, 10.0)) is None
    assert run.overhead(traced, _record("abc", 2, 10.0)) is None
    assert run.overhead(traced, None) is None


def test_build_index_runs_and_passes_its_checks():
    """One warm-up build and one timed build, with the cross-build
    digest check, through the command itself."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build_index", "--seed", "11",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, p.stderr[-3000:]
    result, named = json.loads(lines[-1]), json.loads(lines[-2])
    assert result["correct"] and result["attempted"] == 1 and result["failed"] == 0
    assert named["named"]["build_docs_per_s"]["value"] > 0
    assert set(result["metrics"]) == {"setup_s", "p50_s", "peak_rss_mb"}
