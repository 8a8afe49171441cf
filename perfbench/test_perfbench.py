"""Tests of the benchmark's own code: ``python3 -m pytest perfbench -q``.

None of them starts Spark: input generation, the tail rule and the event
log parser are plain Python, and the query output check runs only the
DuckDB oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import datagen
from perfbench.eventlog import covered_ms, event_lines, parse_event_log
from perfbench.run import QueryRunner, Spans, error_rate, pipeline_step_classifier, tail_percentile
from perfbench.workloads import REL, WORKLOADS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
EVENT_LOG = os.path.join(HERE, "testdata", "eventlog_small.jsonl")


def _tables(path: str, seed: int) -> dict:
    datagen.write_tables(path, 0.002, np.random.default_rng([seed, 0]))
    return {
        f: pq.read_table(os.path.join(path, f))
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    }


def test_same_seed_same_tables_other_seed_other_tables(tmp_path):
    a = _tables(str(tmp_path / "a"), 7)
    b = _tables(str(tmp_path / "b"), 7)
    c = _tables(str(tmp_path / "c"), 8)
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k].equals(b[k]) for k in a)
    # the fixed dimensions are copied; every generated table differs
    generated = [k for k in a if k not in ("region.parquet", "nation.parquet")]
    assert not any(a[k].equals(c[k]) for k in generated)


def test_same_seed_same_filings_other_seed_other_filings():
    a = datagen.raw_filings(np.random.default_rng(3), 40)
    b = datagen.raw_filings(np.random.default_rng(3), 40)
    c = datagen.raw_filings(np.random.default_rng(4), 40)
    assert a == b
    assert a[0] != c[0]
    records, truth = a
    assert truth.entities == 40 and len(truth.seeded_names) == 16
    assert truth.records == len(records)


def test_filings_plant_suffix_and_hyphen_variants():
    records, truth = datagen.raw_filings(np.random.default_rng(5), 30)
    filers = {r["filers"][0]["name"] for r in records}
    # suffix, plural and hyphen spellings are all planted
    assert any(n.endswith("LLC") for n in filers)
    assert any("-" in n for n in filers)
    assert all(name == name.lower() and "-" not in name for name in truth.seeded_names)


@pytest.mark.parametrize(
    "n, index, pct",
    [(5, 4, 100.0), (20, 19, 100.0), (21, 10, 100 * 11 / 21), (32, 21, 68.75), (100, 89, 90.0)],
)
def test_tail_percentile_has_ten_samples_beyond_it(n, index, pct):
    samples = [float(i) for i in range(n)][::-1]
    value, percentile = tail_percentile(samples)
    assert value == float(index)
    assert percentile == pytest.approx(pct)
    if n > 20:
        assert sum(1 for s in samples if s > value) == 10


def test_error_rate_counts_an_injected_wrong_result(tmp_path):
    data = str(tmp_path / "data")
    datagen.write_tables(data, 0.002, np.random.default_rng(1))
    wl = Workload(name="one", why="test", queries=(("q13", REL),))
    runner = QueryRunner(wl, data, data)
    name = runner.ops[0][0]
    from ipes_data_pipeline_spark.oracle import run_oracle

    right = run_oracle(runner.registry[name].oracle, data)
    wrong = right.copy()
    wrong.iloc[0, wrong.columns.get_loc(wrong.columns[-1])] += 1

    def op(pass_no, rows, error=None):
        return {"name": name, "pass": pass_no, "rows": rows, "error": error, "label": f"{name}#{pass_no}"}

    ops = [op(0, len(right)), op(1, len(right)), op(2, len(right) - 1), op(3, None, "ValueError: x")]
    runner.results[name] = right
    assert runner.check(None, ops) and [o["ok"] for o in ops] == [True, True, False, False]
    runner.results[name] = wrong
    problems = runner.check(None, ops)
    assert [o["ok"] for o in ops] == [False, True, False, False]
    assert any("values differ" in p for p in problems)
    failed = sum(1 for o in ops if not o["ok"])
    assert error_rate(len(ops), failed) == 0.75


def test_parser_on_a_recorded_event_log():
    groups = parse_event_log(event_lines(EVENT_LOG))
    build, sink = groups["q13#0:build"], groups["q13#0:sink"]
    for g in (build, sink):
        assert g.counters["jobs"] >= 1
        assert g.counters["stages"] >= 1
        assert g.counters["tasks"] >= g.counters["stages"]
        assert g.counters["task_s"] > 0 and g.counters["cpu_s"] > 0
        assert len(g.intervals) == g.counters["stages"]
    assert sink.counters["shuffle_bytes"] > 0
    assert sum(g.counters["failed_tasks"] for g in groups.values()) == 0


def test_classifier_splits_a_pipeline_op_into_steps():
    op = {"module": "pipeline", "label": "pipeline#0", "start": 100.0,
          "steps": {"bronze": 1.0, "silver": 2.0, "gold": 1.0}}
    classify = pipeline_step_classifier([op])
    assert classify("pipeline#0", 100_500) == "pipeline#0|bronze"
    assert classify("pipeline#0", 102_000) == "pipeline#0|silver"
    assert classify("pipeline#0", 103_500) == "pipeline#0|gold"
    # a job after the last step's window (untimed tail) stays with it
    assert classify("pipeline#0", 105_000) == "pipeline#0|gold"
    assert classify("pipeline#0", 99_000) == "pipeline#0"
    assert classify("q13#0:build", 100_500) == "q13#0:build"


def test_covered_ms_merges_and_clips_intervals():
    assert covered_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert covered_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert covered_ms([], 0, 10) == 0


def test_span_self_time_subtracts_child_coverage():
    spans = Spans("r")
    root = spans.add("op", 0.0, 10.0, None)
    spans.add("build", 1.0, 3.0, root)
    spans.add("sink", 2.0, 5.0, root)
    assert spans.self_times() == pytest.approx([6.0, 2.0, 3.0])
    assert {s["run"] for s in spans.rows} == {"r"}


def test_every_workload_names_registered_queries():
    from ipes_data_pipeline_spark.queries import REGISTRY, load_all

    load_all()
    by_prefix = {n.split("_")[0]: n for n in REGISTRY}
    for wl in WORKLOADS.values():
        assert {p for p, _m in wl.queries} <= by_prefix.keys()
        assert {p for p, _m in wl.queries} >= set(wl.warm_queries)
        # every output is checked against a DuckDB oracle
        assert all(REGISTRY[by_prefix[p]].oracle for p, _m in wl.queries)
