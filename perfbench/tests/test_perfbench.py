"""Self-tests of the benchmark: the P/R and span arithmetic, event-log
accounting, and a tiny smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from checks import precision_recall  # noqa: E402
from tracing import (Span, Tracer, bytes_written, covered,  # noqa: E402
                     event_log_stats, self_time)


class TestPrecisionRecall:
    def test_exact(self):
        s = {("a", "uses", "b"), ("b", "cites", "c")}
        assert precision_recall(set(s), s) == (1.0, 1.0)

    def test_extra_and_missing(self):
        want = {(1,), (2,), (3,), (4,)}
        got = {(1,), (2,), (5,)}
        p, r = precision_recall(got, want)
        assert p == pytest.approx(2 / 3)
        assert r == pytest.approx(2 / 4)

    def test_empty_sides(self):
        assert precision_recall(set(), set()) == (1.0, 1.0)
        assert precision_recall(set(), {(1,)}) == (0.0, 0.0)
        assert precision_recall({(1,)}, set()) == (0.0, 0.0)


@pytest.mark.parametrize("vocab_size", [0, 150_000])
def test_canonical_truth_matches_the_package_reference(vocab_size):
    """The benchmark's reference over any page set (kg_update checks the
    surviving pages) agrees with the package's over a prefix."""
    sys.path.insert(0, str(ROOT))
    from hades_spark.pipeline.corpus import (expected_canonical_triples,
                                             gen_pages)
    from workloads import canonical_truth, observed_norms

    pages = gen_pages(300, 5, compute_text=False, vocab_size=vocab_size)
    assert canonical_truth(pages) == expected_canonical_triples(
        300, 5, vocab_size=vocab_size)
    assert 0 < observed_norms(pages[:100]) <= observed_norms(pages)


class TestSpanArithmetic:
    def test_covered_merges_overlaps_and_clips(self):
        assert covered([(1, 3), (2, 4)], 0, 10) == 3
        assert covered([(-5, 1), (9, 20)], 0, 10) == 2
        assert covered([(1, 2), (3, 4)], 0, 10) == 2
        assert covered([], 0, 10) == 0

    def test_self_time_subtracts_direct_children_only(self):
        spans = [Span("op", 1, None, 0.0, 10.0),
                 Span("a", 1, 0, 1.0, 4.0),
                 Span("b", 1, 0, 3.0, 6.0),
                 Span("a.inner", 1, 1, 1.5, 2.0)]
        assert self_time(spans, 0) == pytest.approx(10 - 5)
        assert self_time(spans, 1) == pytest.approx(3 - 0.5)
        assert self_time(spans, 3) == pytest.approx(0.5)

    def test_tracer_nesting_and_groups(self):
        tags = []
        tr = Tracer(tags.append)
        with tr.span("op", 7):
            with tr.span("child", 7):
                pass
        assert [s.parent for s in tr.spans] == [None, 0]
        assert {s.op for s in tr.spans} == {7}
        assert tags == ["span-0", "span-1", "span-0", None]
        assert self_time(tr.spans, 0) <= tr.spans[0].duration


def test_event_log_stats_groups_tasks_by_job_group():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 100, "Finish Time": 350},
         "Task Metrics": {"JVM GC Time": 5, "Disk Bytes Spilled": 7,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 1000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 100, "Finish Time": 200},
         "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 50},
         "Task Metrics": {}},
    ]
    stats = event_log_stats(json.dumps(e) for e in ev)
    assert set(stats) == {"span-0"}
    assert stats["span-0"] == {"jobs": 1, "stages": 1, "tasks": 2,
                               "task_busy_ms": 350, "gc_ms": 5,
                               "spill_bytes": 7, "shuffle_write_bytes": 1000}


def test_bytes_written_counts_new_and_changed_files():
    before = {"a": (10, 1), "b": (20, 1)}
    after = {"a": (10, 1), "b": (25, 2), "c": (5, 3)}
    assert bytes_written(before, after) == 30


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.03"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload",
                         ["kg_build_html", "kg_build_vocab", "kg_update"])
def test_smoke_traced(workload):
    sys.path.insert(0, str(ROOT))
    from workloads import PER_LAYER

    res = _run(workload, 1)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == set(PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs"] > 0
    if workload == "kg_update":
        assert m["update.op_s"] > 0 and m["delete.op_s"] > 0
        assert m["textcore.pages"] > 0
    else:
        assert m["kg.edges"] > 0 and m["update.op_s"] == 0


def test_smoke_end_to_end():
    from run import END_TO_END

    res = _run("kg_build_html", 0)
    assert res["correct"] and res["failed"] == 0
    m = res["metrics"]
    assert set(m) == set(END_TO_END)
    assert all(m[k]["unit"] == u for k, u in END_TO_END.items())
    assert m["triple_precision"]["value"] == 1.0
    assert m["triple_recall"]["value"] == 1.0
    assert m["success_rate"]["value"] == 1.0
    assert m["wall_s"]["value"] > 0 and m["setup_s"]["value"] > 0


def test_fails_without_the_package(tmp_path):
    """A directory holding only the benchmark must exit non-zero without
    printing a result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build_html",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
