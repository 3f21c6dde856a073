"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests run each workload in-process on tiny generated
tables (scale 0.001) with two of its queries; each starts and stops a
Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402

TWO = {
    "fixed_income": ["q_bd_count", "q_ltn_pricing"],
    "llm_data": ["q_simhash_clusters", "q_text_stats"],
}


def _span(id, t0, t1, parent=None, c0=0, c1=0):
    return tracer.Span(id, "x", f"s{id}", "q", 0, parent, t0, t1, c0, c1)


def test_self_time_on_hand_built_tree():
    # 0 [0,10] has children 1 [1,4] and 2 [3,6] (overlapping) and 4
    # [9,12] (runs past its parent); 1 has child 3 [2,3]
    spans = [
        _span(0, 0.0, 10.0, c0=0, c1=100),
        _span(1, 1.0, 4.0, parent=0, c0=10, c1=40),
        _span(2, 3.0, 6.0, parent=0, c0=40, c1=50),
        _span(3, 2.0, 3.0, parent=1, c0=20, c1=25),
        _span(4, 9.0, 12.0, parent=0, c0=90, c1=100),
    ]
    st = tracer.self_times(spans)
    # root: 10 minus the union [1,6] + [9,10] of its children
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0})
    assert tracer.self_counts(spans) == {0: 50, 1: 25, 2: 10, 3: 5, 4: 10}


def test_plan_nodes_counts_the_final_plan_only():
    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   ResultQueryStage (5)
   +- * Project (4)
      +- Window (3)
         +- ShuffleQueryStage (2), Statistics(sizeInBytes=1.0 KiB)
            +- Exchange (1)
+- == Initial Plan ==
   Project (8)
   +- Window (7)
      +- Exchange (6)

(1) Exchange
Input [1]: [a#1]
"""
    assert tracer.plan_nodes(plan) == [
        "ResultQueryStage", "Project", "Window", "ShuffleQueryStage", "Exchange"]


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        k: v["why"] for k, v in run.WORKLOADS.items()}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (k, u, b) for k, (u, b, _) in run.PER_LAYER.items()]


def test_generated_tables_repeat_per_seed():
    a, b, c = datagen.tables(7, 0.001), datagen.tables(7, 0.001), datagen.tables(8, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_generated_documents_follow_the_test_data():
    docs = datagen.tables(7, 0.001)["documents"]
    texts = docs["text"].to_pylist()
    assert docs.num_rows == 500  # at least 500 at any scale
    assert sum(t.endswith(" dup") for t in texts) == 25
    words = [len(t.removesuffix(" dup").split()) for t in texts]
    assert min(words) >= 10 and max(words) <= 99


def test_cached_tables_are_keyed_by_the_generator(tmp_path):
    out, _ = datagen.ensure(str(tmp_path), 7, 0.001)
    with open(datagen.__file__, "rb") as fh:
        digest = datagen.hashlib.sha256(fh.read()).hexdigest()[:12]
    assert os.path.basename(out) == f"seed7-scale0.001-{digest}"
    assert datagen.ensure(str(tmp_path), 7, 0.001) == (out, 0.0)


def test_wall_s_takes_the_first_three_warm_laps():
    def rec(lap, query, s, ok=True):
        if ok:
            return {"lap": lap, "query": query, "ok": True, "build_s": s / 2, "exec_s": s / 2}
        return {"lap": lap, "query": query, "ok": False, "t0": 10.0, "t1": 10.0 + s}

    records = [
        rec(0, "a", 9.0), rec(0, "b", 9.0),  # cold lap: not counted
        rec(1, "a", 2.0), rec(1, "b", 3.0, ok=False),
        rec(2, "a", 1.5), rec(2, "b", 4.0, ok=False),
        rec(3, "a", 1.8), rec(3, "b", 3.5, ok=False),
        rec(4, "a", 0.5), rec(4, "b", 0.5),  # a fourth lap: not counted
    ]
    assert run.warm_wall_s(records) == pytest.approx(1.5 + 3.0)


@pytest.fixture
def tiny(monkeypatch):
    """Scale 0.001 and two queries per workload."""
    monkeypatch.setattr(run, "SCALE", 0.001)
    for w, names in TWO.items():
        monkeypatch.setitem(run.WORKLOADS[w], "queries", names)


def _main(workload, trace, capsys):
    result = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", str(trace)])
    return result, capsys.readouterr().out


def _printed(out: str, name: str, unit: str) -> bool:
    return any(line.split()[:1] == [name] and line.endswith(unit)
               for line in out.splitlines())


@pytest.mark.parametrize("workload", sorted(TWO))
def test_every_end_to_end_metric_prints(workload, tiny, capsys):
    result, out = _main(workload, 0, capsys)
    assert list(result["metrics"]) == list(run.END_TO_END)
    for name, unit in run.END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0
        assert _printed(out, name, unit)
    assert _printed(out, "query_p50_s", "executions; 3 warm laps)")
    assert _printed(out, "failed_frac", "(0 of 10)")
    assert result["correct"] and result["failed"] == 0
    assert out.splitlines()[-1].startswith('{"correct": true')


@pytest.mark.parametrize("workload", sorted(TWO))
def test_every_per_layer_metric_prints(workload, tiny, capsys):
    result, out = _main(workload, 1, capsys)
    assert list(result["metrics"]) == list(run.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["queries.build_py4j"] > 0 and m["spark.jobs"] > 0
    if workload == "llm_data":  # q_simhash_clusters iterates
        assert m["operators.graph.rounds"] > 0 and m["operators.pinning.pins"] > 0
    else:
        assert m["du.call_s"] > 0 and m["bonds.py4j"] > 0
    for name, (unit, _, _) in run.PER_LAYER.items():
        assert _printed(out, name, unit)
    assert os.path.exists(os.path.join(run.WORK, f"trace-{workload}-seed3.json"))


def test_corrupted_expected_hash_counts_as_failed(tiny, capsys, monkeypatch):
    real = run.oracle_digest

    def corrupted(check, con, sql):
        cols, n, _ = real(check, con, sql)
        return cols, n, "0" * 16

    monkeypatch.setattr(run, "oracle_digest", corrupted)
    result, out = _main("fixed_income", 0, capsys)
    assert result["failed"] == 2 and not result["correct"]
    assert "failed_frac" in out and "CHECK FAIL q_bd_count" in out
