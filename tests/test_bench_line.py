"""The bench's gate line: ``bench.emit`` prints one compact JSON line.

The harness keeps only the tail of the bench output, so the line must
stay under ``bench.LINE_BUDGET`` bytes while carrying the gate numbers.
No JVM: ``emit`` only formats a record.
"""

from __future__ import annotations

import json

import pytest

import bench


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
