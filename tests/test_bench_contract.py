"""The bench harness's output contract, without Spark: the driver keeps
only the tail of stdout and json-parses the LAST line, so ``bench.emit``
must end with a compact line within ``TAIL_BUDGET`` that keeps the
slowest queries and counts the rest; only the full suite may write the
``FULL_OUT`` record, and only its tail line points at it; and every
record carries the load stamp."""

from __future__ import annotations

import json
import time

import bench


def _result(metric: str, n: int = 207) -> dict:
    queries = {f"query_{i:03d}": round(0.1 + (i * 37 % n) / 10, 3)
               for i in range(n)}
    return {
        "metric": metric,
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        **bench.start_stamp()(),
    }


def test_tail_line_fits_budget_and_keeps_slowest(capsys, tmp_path,
                                                 monkeypatch):
    monkeypatch.setattr(bench, "FULL_OUT", str(tmp_path / "full.json"))
    result = _result("headline_queries_total")
    bench.emit(result, "queries")
    lines = capsys.readouterr().out.strip().splitlines()
    assert json.loads(lines[0]) == result
    tail = lines[-1]
    assert len(tail) <= bench.TAIL_BUDGET
    compact = json.loads(tail)
    kept = compact["queries"]
    assert 0 < len(kept) < 207
    assert len(kept) + compact["elided"] == 207
    slowest = sorted(result["queries"].items(), key=lambda kv: -kv[1])
    assert list(kept.items()) == slowest[:len(kept)]
    # the pointer names the record only the full suite writes
    assert "full" not in compact
    for key in ("metric", "value", "sf", "load1_start", "cpu_steal_share"):
        assert compact[key] == result[key]
    full = _result("all_queries_total")
    bench.emit(full, "queries")
    compact = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert compact["full"] == "full.json"
    assert len(compact["queries"]) + compact["elided"] == 207


def test_only_the_full_suite_writes_full_out(capsys, tmp_path, monkeypatch):
    out = tmp_path / "full.json"
    monkeypatch.setattr(bench, "FULL_OUT", str(out))
    for metric in ("headline_queries_total", "artifact_cold_builds_total"):
        bench.emit(_result(metric), "queries")
        assert not out.exists()
    full = _result("all_queries_total")
    bench.emit(full, "queries")
    assert json.loads(out.read_text()) == full
    capsys.readouterr()


def test_load_stamp_has_the_four_fields():
    stamp = bench.start_stamp()
    time.sleep(0.2)
    fields = stamp()
    assert set(fields) == {
        "load1_start", "load1_end", "cpus", "cpu_steal_share",
    }
    assert fields["load1_start"] >= 0 and fields["load1_end"] >= 0
    assert fields["cpus"] >= 1
    assert 0 <= fields["cpu_steal_share"] <= 1
