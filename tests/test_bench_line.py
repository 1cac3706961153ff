"""The bench's gate line: ``bench.emit`` prints one compact JSON line.

The harness keeps only the tail of the bench output, so the line must
stay under ``bench.LINE_BUDGET`` bytes while carrying the gate numbers.
No JVM: ``emit`` only formats a record, and the SIGTERM test drives a
fake scaling worker.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

import bench

REPO = Path(__file__).resolve().parents[1]


def _record(n_queries: int, name_len: int = 12) -> dict:
    pair = {
        "cores_lo": 1, "cores_hi": 4, "order": [1, 4],
        "sec_lo": 16.2, "sec_hi": 4.9,
        "turns_per_sec_lo": 246913.6, "turns_per_sec_hi": 816326.5,
        "efficiency": 0.827,
    }
    return {
        "metric": "parse_route_turns_per_sec",
        "value": 123.456,
        "unit": "sec",
        "queries": {
            f"q{i:02d}_".ljust(name_len, "x"): 1.234 + i for i in range(n_queries)
        },
        "sf": "0.1",
        "bench_rows": 4_000_000,
        "throughput_turns_per_sec": 950000.0,
        "cpus": 4,
        "headline_sec": 4.21,
        "headline_sinks": {"errors": [1000, -42], "default": [5, 7]},
        "scaling": {**pair, "n_pairs": 3, "pairs": [pair, pair, pair]},
    }


def _emit(record, capsys, monkeypatch, tmp_path) -> tuple[str, dict]:
    detail = tmp_path / "BENCH_DETAIL.json"
    monkeypatch.setattr(bench, "DETAIL_PATH", str(detail))
    bench.emit(record)
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1
    assert json.loads(detail.read_text()) == record
    return lines[0], json.loads(lines[0])


def test_fifty_queries_fit_the_budget(capsys, monkeypatch, tmp_path):
    line, parsed = _emit(_record(50), capsys, monkeypatch, tmp_path)
    assert len(line.encode()) <= bench.LINE_BUDGET == 1800
    assert parsed["metric"] == "parse_route_turns_per_sec"
    assert parsed["value"] == 123.456
    assert parsed["throughput_turns_per_sec"] == 950000.0
    assert parsed["scaling"]["efficiency"] == 0.827
    assert "pairs" not in parsed["scaling"]
    assert len(parsed["queries"]) == 50


@pytest.mark.parametrize("n_queries, name_len", [(50, 40), (200, 12)])
def test_over_budget_falls_back_to_suite_total(
    capsys, monkeypatch, tmp_path, n_queries, name_len
):
    record = _record(n_queries, name_len)
    line, parsed = _emit(record, capsys, monkeypatch, tmp_path)
    assert len(line.encode()) <= bench.LINE_BUDGET
    assert "queries" not in parsed
    assert parsed["n_queries"] == n_queries
    assert parsed["queries_total_sec"] == round(
        sum(round(v, 2) for v in record["queries"].values()), 2
    )
    assert parsed["scaling"]["efficiency"] == 0.827
    assert parsed["throughput_turns_per_sec"] == 950000.0


#: a stand-in for the ``--one`` worker: it starts a child of its own
#: (the JVM's place), records both pids, then sleeps
_FAKE_WORKER = """
import subprocess, sys, time
child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"])
with open(sys.argv[1], "w") as f:
    f.write(f"{__import__('os').getpid()} {child.pid}")
time.sleep(600)
"""

_CUT_BENCH = """
import sys
sys.path.insert(0, sys.argv[1])
import bench
bench.DETAIL_PATH = sys.argv[2]
bench._emit_on_signal({"metric": "parse_route_turns_per_sec", "value": 1.5})
bench._run_worker([sys.executable, "-c", sys.argv[3], sys.argv[4]])
"""


def _gone(pid: int) -> bool:
    """Exited (a zombie awaiting an absent reaper counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except FileNotFoundError:
        return True


def test_sigterm_stops_the_scaling_worker(tmp_path):
    pidfile = tmp_path / "pids"
    proc = subprocess.Popen(
        [sys.executable, "-c", _CUT_BENCH, str(REPO),
         str(tmp_path / "detail.json"), _FAKE_WORKER, str(pidfile)],
        stdout=subprocess.PIPE, text=True,
    )
    deadline = time.monotonic() + 60
    while not (pidfile.exists() and len(pidfile.read_text().split()) == 2):
        assert time.monotonic() < deadline and proc.poll() is None
        time.sleep(0.1)
    pids = [int(p) for p in pidfile.read_text().split()]
    try:
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=30)
        assert json.loads(out.splitlines()[-1])["partial"] is True
        deadline = time.monotonic() + 10
        while not all(_gone(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        assert all(_gone(p) for p in pids)
    finally:
        for p in pids:
            if not _gone(p):
                os.kill(p, signal.SIGKILL)
