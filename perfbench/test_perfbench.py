"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from collections import Counter

import pytest

from perfbench import gen, harness, trace, workloads

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digest(path: str) -> str:
    """sha256 over a file's bytes, or over a directory's file names and bytes."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        with open(path, "rb") as f:
            h.update(f.read())
        return h.hexdigest()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_tables_are_byte_identical_per_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 11)
    gen.write_tables(str(tmp_path / "b"), 11)
    gen.write_tables(str(tmp_path / "c"), 12)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    names = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert names == sorted(f"{t}.parquet" for t in gen.TABLE_ROWS)


def test_tables_hold_the_stated_row_counts_and_unit_embeddings():
    import numpy as np

    tables = gen.star_tables(3)
    assert {t: tables[t].num_rows for t in tables} == gen.TABLE_ROWS
    vecs = np.array(tables["embeddings"]["embedding"].to_pylist())
    assert vecs.shape == (gen.TABLE_ROWS["embeddings"], 64)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)


def test_reviews_tsv_is_byte_identical_per_seed(tmp_path):
    paths = [str(tmp_path / f"{i}.tsv") for i in range(3)]
    for path, seed in zip(paths, (4, 4, 5)):
        gen.write_reviews_tsv(path, seed, 2000)
    assert _digest(paths[0]) == _digest(paths[1])
    assert _digest(paths[0]) != _digest(paths[2])


def test_reviews_tsv_shape(tmp_path):
    path = str(tmp_path / "r.tsv")
    gen.write_reviews_tsv(path, 3, 5000)
    with open(path, encoding="utf-8") as f:
        rows = [line.rstrip("\n").split("\t") for line in f]
    assert rows[0] == gen.REVIEW_COLUMNS
    assert all(len(r) == 15 for r in rows)
    bodies = [r[13] for r in rows[1:]]
    assert 0.01 < sum(b == "" for b in bodies) / len(bodies) < 0.06
    assert 0.08 < sum("  " in b for b in bodies) / len(bodies) < 0.25
    assert not any('"' in b or b != b.strip(" ") for b in bodies)
    assert len(Counter(w for b in bodies for w in b.split(" "))) > 10_000


def _kinds(docs):
    from training_etl_demo_2_spark.operators.text import PII_PATTERNS

    pii = re.compile("|".join(PII_PATTERNS.values()))
    return {
        "langs": Counter(lang for _, lang in docs),
        "pii": sum(bool(pii.search(t)) for t, _ in docs),
        "short": sum(len(t.split(" ")) < 50 for t, _ in docs),
        "symbol": sum("#" in t for t, _ in docs),
        "distinct": len({t for t, _ in docs}),
    }


def test_corpus_plants_the_same_fractions_for_every_seed():
    a, b = gen.corpus_docs(1, 1000), gen.corpus_docs(2, 1000)
    assert len(a) == len(b) == 1000
    assert a != b
    assert _kinds(a) == _kinds(b)
    k = _kinds(a)
    n_pii = round(1000 * gen.CORPUS_FRACTIONS["pii"]) + round(
        1000 * gen.CORPUS_FRACTIONS["pii_twin"]
    )
    assert k["pii"] == n_pii
    assert sum(n for lang, n in k["langs"].items() if lang != "en") == 100
    assert k["distinct"] == 1000  # near-dups and PII twins differ in text


def test_corpus_is_deterministic():
    assert gen.corpus_docs(9, 300) == gen.corpus_docs(9, 300)


# ---------------------------------------------------------------------------
# reference semantics
# ---------------------------------------------------------------------------


def test_expected_word_counts_keeps_empty_tokens(tmp_path):
    path = tmp_path / "t.tsv"
    header = "\t".join(gen.REVIEW_COLUMNS)
    row = ["x"] * 15
    lines = [header]
    for body in ("a b", "a  b", "", "c"):
        row[13] = body
        lines.append("\t".join(row))
    path.write_text("\n".join(lines) + "\n")
    assert workloads.expected_word_counts(str(path)) == Counter(
        {"a": 2, "b": 2, "": 1, "c": 1}
    )


# ---------------------------------------------------------------------------
# tracing helpers
# ---------------------------------------------------------------------------


def test_plan_shape_counts_only_the_final_plan():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- *(2) HashAggregate(keys=[k#1L], functions=[count(1)])
      +- ShuffleQueryStage 0
         +- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS
            +- *(1) Project [id#0L]
               +- BroadcastExchange HashedRelationBroadcastMode
+- == Initial Plan ==
   HashAggregate(keys=[k#1L], functions=[count(1)])
   +- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS
"""
    assert trace.plan_shape(plan) == (6, 2)


def test_union_ms_merges_overlaps():
    assert trace._union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert trace._union_ms([]) == 0


def _ev(**kw):
    return json.dumps(kw)


def test_tree_rss_skips_children_that_still_share_their_parents_memory():
    stats = {  # pid: (ppid, vsize, rss pages)
        10: (1, 500, 50),  # the root: the driver
        11: (10, 4000, 1000),  # the JVM
        12: (11, 4003, 1004),  # a spawn of the JVM, not yet exec'd
        13: (11, 300, 30),  # the Python worker daemon
        14: (13, 320, 60),  # a worker forked from it
        20: (1, 9000, 9000),  # another process on the host
    }
    assert harness.tree_rss_pages(stats, 10) == (50 + 1000 + 30 + 60, 4)


def test_aggregate_eventlog_on_a_tiny_log():
    metrics = {
        "Executor Run Time": 100,
        "Executor CPU Time": 50_000_000,
        "JVM GC Time": 3,
        "Executor Deserialize Time": 2,
        "Result Serialization Time": 1,
        "Memory Bytes Spilled": 0,
        "Disk Bytes Spilled": 7,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 60},
        "Input Metrics": {"Bytes Read": 1000},
        "Output Metrics": {"Bytes Written": 0},
    }

    def task(stage, run, failed=False, accs=()):
        return _ev(
            Event="SparkListenerTaskEnd",
            **{
                "Stage ID": stage,
                "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
                "Task Info": {
                    "Failed": failed,
                    "Getting Result Time": 1,
                    "Accumulables": [{"ID": i, "Update": u} for i, u in accs],
                },
                "Task Metrics": dict(metrics, **{"Executor Run Time": run}),
            },
        )

    plan = {
        "nodeName": "MapInPandas",
        "metrics": [
            {"name": trace.PY_SENT, "accumulatorId": 11},
            {"name": trace.PY_RECEIVED, "accumulatorId": 12},
        ],
        "children": [
            {"nodeName": "Project", "metrics": [], "children": [
                {"nodeName": "Scan parquet", "children": [],
                 "metrics": [{"name": trace.ROWS_OUT, "accumulatorId": 13}]},
            ]},
        ],
    }
    cached = {"RDD ID": 5, "Storage Level": {"Use Memory": True, "Use Disk": True}}
    lines = [
        _ev(Event="org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            executionId=0, sparkPlanInfo=plan),
        # job 0 starts inside the builder span [1000, 1500]
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1100, "Stage IDs": [0]}),
        task(0, 100, accs=[(11, 500), (12, 200), (13, 30)]),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 0, "Submission Time": 1100, "Completion Time": 1300,
            "RDD Info": [cached]}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1300}),
        # job 1 is the action: three tasks, one failed, one straggler
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1600, "Stage IDs": [1, 2]}),
        task(1, 10),
        task(1, 10, failed=True),
        task(1, 40),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": 1, "Submission Time": 1600, "Completion Time": 2000,
            "RDD Info": [cached]}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2100}),
        # outside the window: ignored
        _ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 9000, "Stage IDs": [3]}),
        task(3, 999),
        _ev(Event="SparkListenerBlockUpdated", **{"Block Updated Info": {
            "Block ID": "rdd_5_0", "Memory Size": 300, "Disk Size": 0}}),
        _ev(Event="SparkListenerBlockUpdated", **{"Block Updated Info": {
            "Block ID": "rdd_5_1", "Memory Size": 200, "Disk Size": 0}}),
        _ev(Event="SparkListenerBlockUpdated", **{"Block Updated Info": {
            "Block ID": "rdd_5_0", "Memory Size": 0, "Disk Size": 0}}),
        _ev(Event="SparkListenerBlockUpdated", **{"Block Updated Info": {
            "Block ID": "broadcast_1", "Memory Size": 10**6, "Disk Size": 0}}),
    ]
    out = trace.aggregate_eventlog(lines, (1000, 5000), [(1000, 1500)])
    assert out["jobs"] == 2
    assert out["stages"] == 2
    assert out["tasks"] == 4
    assert out["failed_tasks"] == 1
    assert out["run_ms"] == 160
    assert out["cpu_ms"] == pytest.approx(200)
    assert out["gc_ms"] == 12
    assert out["shuffle_read_bytes"] == 160
    assert out["shuffle_write_bytes"] == 240
    assert out["spill_bytes"] == 28
    assert out["input_bytes"] == 4000
    assert out["task_overhead_ms"] == 4
    assert out["task_skew"] == 4.0  # stage 1 is longest: max 40 / median 10
    assert out["busy_ms"] == 200 + 500
    assert out["eager_jobs"] == 1
    assert out["eager_ms"] == 200
    assert (out["py_bytes_sent"], out["py_bytes_received"], out["py_rows_sent"]) == (500, 200, 30)
    assert out["persists"] == 1  # one cached RDD, seen by two jobs
    assert out["peak_storage_bytes"] == 500


# ---------------------------------------------------------------------------
# metric names
# ---------------------------------------------------------------------------


def _benchmark():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_benchmark_json_names_and_units_are_valid():
    b = _benchmark()
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert tuple(w["name"] for w in b["workloads"]) == workloads.WORKLOADS


def _fake_window():
    rep = workloads.Rep(2.0, [0.5, 1.5], [(0.0, 100.0)], {"job_a_s": 1.0})
    return workloads.Window([rep, rep], [0.1, 0.1], 0.0, 4000.0, [2**30, 2**30])


class _Wl:
    input_rows = 100
    input_bytes = 1000


def test_reported_metrics_match_benchmark_json():
    b = _benchmark()
    e2e = workloads._e2e(_Wl(), [1.0, 2.0, 3.0], _fake_window())
    assert {k: u for k, (_v, u) in e2e.items()} == {m["name"]: m["unit"] for m in b["end_to_end"]}
    assert e2e["setup_s"][0] == 2.0
    assert e2e["peak_rss_mb"][0] == 1024
    ev = trace.aggregate_eventlog([], (0, 1), [])
    queries = trace.QueryRecorder()
    streams = type("S", (), {"spans": [], "batches": 0, "trigger_ms": 0.0})()
    layers = workloads._layers(
        _Wl(), _fake_window(), ev, queries, streams, 0.0,
        session_launch=3.0, session_start=1.0, warmup_s=2.0, overhead=1.0, old_gen_peak=0,
    )
    assert {k: u for k, (_v, u) in layers.items()} == {m["name"]: m["unit"] for m in b["per_layer"]}
