"""Smoke test of the benchmark itself, at the tiny input sizes.

    python -m pytest perfbench/test_smoke.py -q      (from the repo root)

Runs every workload plain and traced at ``--size tiny`` (a 200-trial
registry, sf0.001 tables, 3 intake batches of 40 docs), which executes
every correctness check, and checks the printed metrics against
``BENCHMARK.json``. About five minutes on 4 cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# spans each workload's traced run must record at least once: a patch
# that silently misses its target would read 0 calls, like a layer the
# workload does not run
MUST_FIRE = {
    "interactive": [
        "parse.parse_registry", "parse.fill_down", "parse.dedup_imps",
        "sinks.write_parquet", "search.search_trials",
        "search.denormalized_export", "search.collect",
        "catalog.relational", "catalog.olap", "catalog.analytics",
        "catalog.temporal", "catalog.similarity", "catalog.pipeline",
        "pipeline.corpus_build", "pipeline.shard_plan_frame",
        "dedup.dedup_decision_frames", "textstats.train_quality_model",
        "textstats.ccnet_bucket_frame", "sources.load_table",
        "imp_dedup.cc_edge_list",
    ],
    "intake": [
        "ingest.intake_batch", "dedup.doc_index", "dedup.banded_signatures",
        "dedup.incremental_probe", "imp_dedup.cc_edge_list",
        "sinks.upsert_parquet",
    ],
}


def bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=180,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_correct_and_reports_every_metric(workload, trace):
    p = bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "10",
              "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    context = json.loads(lines[-2])["context"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, context["problems"]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        trace_file = ROOT / "perfbench" / "_work" / "traces" / f"{workload}-seed7.jsonl"
        spans = [json.loads(x) for x in trace_file.read_text().splitlines()]
        spans = [s for s in spans if "name" in s]
        ids = {s["id"] for s in spans}
        assert spans and all(s["parent"] is None or s["parent"] in ids for s in spans)
        assert any(s["parent"] is not None for s in spans)
        metrics = result["metrics"]
        silent = [n for n in MUST_FIRE[workload] if metrics[f"{n}.calls"]["value"] == 0]
        assert not silent, f"spans that never fired: {silent}"


def test_refuses_to_run_without_the_engine(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = bench(tmp_path, "--workload", "intake", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""
