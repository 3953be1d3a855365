"""Smoke test of the benchmark itself, at tiny size.

    python -m pytest perfbench/test_smoke.py -q

Run from the repository root. Each workload runs through the real command
line, untraced and traced, and must report every metric with its unit; an
injected wrong result must be counted as a failure, and no run may leave a
process behind.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402


def _left_running(pid: int) -> list[int]:
    """Processes whose environment names the private scratch directory of
    the run with process id ``pid``: its JVM and Python workers."""
    mark = f"/.perfbench/run-{pid}/".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if mark in f.read():
                    found.append(int(entry))
        except OSError:
            continue
    return found


def _run(workload: str, trace: int) -> dict:
    # Output goes to files, not pipes: a leftover process would hold a pipe
    # open, and reading it to the end would wait for that process too.
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "2", "--trace", str(trace)],
            cwd=ROOT, stdout=out, stderr=err, text=True,
        )
        proc.wait(timeout=600)
        left = _left_running(proc.pid)
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert proc.returncode == 0, stderr[-3000:]
    assert left == [], "the run left processes behind"
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_every_metric(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = layers.LAYER_METRICS if trace else run.END_TO_END
    assert set(out["metrics"]) == set(want)
    for name, unit in want.items():
        m = out["metrics"][name]
        assert m["unit"] == unit
        assert isinstance(m["value"], float) and m["value"] == m["value"], name
        if not trace:
            assert m["value"] > 0, name


def test_missing_program_is_an_error(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""


def test_dropped_row_counts_as_failure(monkeypatch):
    monkeypatch.chdir(ROOT)
    monkeypatch.syspath_prepend(ROOT)
    monkeypatch.setenv("PYTHONPATH", ROOT)
    import harness
    import queries_workload

    scratch = harness.configure_env()
    from etlp_spark.protobuf_vendor import ensure_protobuf

    ensure_protobuf()

    def drop_one_row(df):
        return df.limit(max(df.count() - 1, 0))

    try:
        res = queries_workload.run(7, 2, wrap=drop_one_row)
    finally:
        harness.stop_all()
        shutil.rmtree(scratch, ignore_errors=True)
    assert res["attempted"] >= 1
    assert res["failed"] >= 1
