"""Smoke test of the benchmark: every workload at its tiny size for a
few seconds, traced, must report every metric NOTES.md names, each with
its unit, and no failed operation. The traced ``egv`` run also covers
index ingest.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())

STREAM_PHASES = {f"streaming.{p}_ms": "ms" for p in
                 ("trigger", "add_batch", "latest_offset", "query_planning", "wal_commit", "commit_offsets")}
SPARK_PER_BATCH = {f"spark.{k}_per_batch": "count" for k in ("jobs", "stages", "tasks")}
EGV_LAYERS = {
    **STREAM_PHASES, **SPARK_PER_BATCH,
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.jobs.p3_ms": "ms", "streaming.jobs.p4_ms": "ms", "streaming.jobs.p5_ms": "ms",
    "streaming.sinks.write_ms": "ms", "streaming.sinks.files": "count",
}
CURATION_QUERIES = ("pagerank_centrality", "eval_span_scrub", "numeric_corr", "shipping_priority", "wordpiece_encode",
                    "multimodal_decode")
INGEST = {
    "ingest_docs_per_s": "docs/s", **{f"ingest.{k}": u for k, u in STREAM_PHASES.items()},
    **{f"ingest.{k}": u for k, u in SPARK_PER_BATCH.items()},
    "streaming.maintainer.stage_s": "s", "streaming.commitlog.commit_ms": "ms", "streaming.maintainer.batch_s": "s",
}
NAMED = {
    "egv": {
        "egv_latency_p50_ms": "ms", "egv_latency_p99_ms": "ms", "egv_latency_samples": "count",
        "egv_processed_eps": "events/s", "backfill_eps": "events/s", "generator.late_max_ms": "ms",
        **EGV_LAYERS, **{f"backfill.{k}": u for k, u in EGV_LAYERS.items()},
        "backfill.spark.shuffle_write_mb_per_batch": "MB", **INGEST,
    },
    "curation_batch": {
        "curation_mix_s": "s",
        **{f"queries.{q}.{p}_s": "s" for q in CURATION_QUERIES for p in ("construct", "exec")},
        "queries.eager_sql_executions": "count", "queries.plan_ms": "ms", "spark.jobs": "count",
        "spark.stages": "count", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
        "sources.artifact.wordpiece_merges_s": "s",
    },
}
EVERY_RUN = {"setup_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio", "session.start_s": "s"}
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _units(spec_metrics) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec_metrics}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_reports_every_metric(workload):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3", "--seconds", "3",
         "--trace", "1", "--tiny"],
        capture_output=True, text=True, timeout=600, cwd=HERE.parent)
    assert out.returncode == 0, out.stderr[-4000:]
    *_, detail_line, last_line = out.stdout.strip().splitlines()
    detail, last = json.loads(detail_line), json.loads(last_line)

    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1, detail["checks_failed"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == _units(SPEC["per_layer"])
    assert {k: v["unit"] for k, v in detail["end_to_end"].items()} == _units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in detail["end_to_end"].values())

    named = {k: v["unit"] for k, v in detail["metrics"].items()}
    want = {**EVERY_RUN, **NAMED[workload]}
    assert {k: named.get(k) for k in want} == want
    assert detail["metrics"]["error_rate"]["value"] == 0
    for stamp in ("load1_start", "load1_end", "nproc", "spark_version", "load_flag"):
        assert stamp in detail
