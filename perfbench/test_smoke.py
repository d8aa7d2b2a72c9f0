"""Smoke test of the benchmark itself (not part of the repository's
tier-1 suite; about two minutes on four cores):

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each workload runs once at the tiny size with tracing on, which prints
the end-to-end figures on the detail line and the per-layer metrics on
the result line. The correctness gates are checked twice: they pass on
the real outputs, and the pure-Python ones fire on corrupted outputs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import _pane_errors, _rows_differ  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    DECLARED = json.load(_fh)


def _run(cwd: str, workload: str, trace: int = 1) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_workload_tiny(workload):
    proc = _run(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, line = [json.loads(x) for x in proc.stdout.strip().splitlines()[-2:]]
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 3
    assert {m["name"]: m["unit"] for m in DECLARED["per_layer"]} == {
        k: v["unit"] for k, v in line["metrics"].items()}
    for m in DECLARED["end_to_end"]:
        fig = detail["figures"][m["name"]]
        assert fig["unit"] == m["unit"] and fig["value"] > 0, m["name"]
    assert detail["figures"]["error_rate"]["value"] == 0
    metrics = {k: v["value"] for k, v in line["metrics"].items()}
    assert metrics["trace.unaccounted_share"] < 0.1
    assert metrics["spark.jobs"] >= 1 and metrics["spark.failed_tasks"] == 0
    if workload == "corpus_dedup":
        assert metrics["extensions.clusters.verified_pairs"] >= 1
        assert 0 < metrics["extensions.dedup.lsh_precision"] <= 1
    else:
        assert metrics["operators.recurrence.tasks"] >= 1
        assert metrics["sources.rows_read"] >= 1


def test_fails_without_the_package(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero, no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "dashboard_lookup", trace=0)
    assert proc.returncode != 0 and proc.stdout.strip() == ""


def test_generators_are_seeded(tmp_path):
    a = gen.doc_corpus(3, 40, str(tmp_path / "a"))
    b = gen.doc_corpus(3, 40, str(tmp_path / "b"))
    assert a == b
    c = gen.capture_log(3, 5, 100, str(tmp_path / "c"))
    d = gen.capture_log(3, 5, 100, str(tmp_path / "d"))
    assert c == d and c["captures"] == 100 + len(gen.FIXTURE_LINES)


class _Row(dict):
    def __getattr__(self, k):
        return self[k]

    def asDict(self):
        return dict(self)


def test_lookup_gates_fire():
    rows = [_Row(Day="2020-01-01", Specimen="2xx", All=2, Resilience=0.5),
            _Row(Day="2020-01-02", Specimen="5xx", All=1, Resilience=0.6)]
    assert _rows_differ(rows, [_Row(r) for r in rows]) is None
    bad = [_Row(rows[0]), _Row(rows[1], Resilience=0.61)]
    assert "Resilience" in _rows_differ(bad, rows)
    assert "rows" in _rows_differ(rows[:1], rows)
    panes = {"specimen_breakdown": [_Row(Specimen="Active", Days=2)],
             "totals": [_Row(Status="All", Total=3)],
             "transition_matrix": [_Row(Count=1)]}
    assert _pane_errors(rows, panes) == []
    panes["transition_matrix"] = [_Row(Count=2)]
    panes["totals"] = [_Row(Status="All", Total=4)]
    assert len(_pane_errors(rows, panes)) == 2


def test_planted_pairs_are_near_duplicates(tmp_path):
    meta = gen.doc_corpus(5, 200, str(tmp_path))
    import pyarrow.parquet as pq

    t = pq.read_table(str(tmp_path))
    text = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    assert meta["planted_pairs"] and len(set(text.values())) == meta["distinct_texts"]
    for a, b in meta["planted_pairs"]:
        assert 0.8 <= gen.jaccard(text[a], text[b]) < 1.0
