"""Spark-free tests of the benchmark's own logic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from run import END_TO_END  # noqa: E402


# ------------------------------------------------------------ tail percentile


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_insensitive():
    xs = [float(i) for i in range(40)]
    assert stats.tail(xs[::-1]) == stats.tail(xs) == (29.0, 75.0, 40)


@pytest.mark.parametrize("n", [1, 2, 10, 11, 20, 21])
def test_tail_falls_back_to_median_without_enough_samples(n):
    xs = [float(i) for i in range(n)]
    value, pct, count = stats.tail(xs)
    assert pct == 50.0 and count == n
    assert value == statistics.median(xs)


def test_tail_first_percentile_above_median():
    value, pct, n = stats.tail([float(i) for i in range(22)])
    assert (value, n) == (11.0, 22) and pct == pytest.approx(100 * 12 / 22)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail([])


# ------------------------------------------------------------------ self time


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: union is [1, 6]
        _span(3, 0, 8.0, 12.0),  # pokes past the parent's end: clipped to [8, 10]
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[1] == pytest.approx(3.0) and st[2] == pytest.approx(3.0)


def test_self_time_of_nested_spans_sums_to_root_wall_time():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 8.0),
        _span(2, 1, 3.0, 4.0),
        _span(3, 1, 5.0, 7.0),
    ]
    st = stats.self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 3.0, 2: 1.0, 3: 2.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_union_length_merges_touching_and_nested_intervals():
    assert stats.union_length([(0, 1), (1, 2), (0.5, 0.7), (5, 6), (3, 3)]) == 3.0


def test_spark_work_attributes_tasks_to_the_launching_span():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {tracing.SPAN_PROP: "7"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 1100}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Launch Time": 1400},
         "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 20, "Disk Bytes Spilled": 3,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Output Metrics": {"Bytes Written": 9}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Launch Time": 3000},
         "Task Metrics": {"Executor Run Time": 999}},
    ]
    jobs, totals = tracing.spark_work(events)
    assert jobs[0] == {"span": 7, "start": 1.0, "end": 2.0} and jobs[1]["span"] is None
    assert dict(totals[7]) == pytest.approx({
        "spark_jobs": 1, "spark_tasks": 1, "task_s": 0.5, "gc_s": 0.02, "spill_bytes": 3,
        "shuffle_write_bytes": 64, "bytes_written": 9, "task_wait_s": 0.3})
    assert None not in totals


# ----------------------------------------------------------------- generators


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


SMALL = {
    "etl": {"rows": 300, "warm_rows": 200},
    "tpch": {"orders": 1500},
    "llm": {"tiles": 2, "docs_per_tile": 400, "vecs_per_tile": 10},
}


@pytest.mark.parametrize("workload", sorted(gen.PARTS))
def test_generators_are_a_function_of_the_seed(workload, tmp_path):
    a, _ = gen.inputs(workload, str(tmp_path / "a"), 5, SMALL)
    b, _ = gen.inputs(workload, str(tmp_path / "b"), 5, SMALL)
    c, _ = gen.inputs(workload, str(tmp_path / "c"), 6, SMALL)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_etl_expected_rows_follow_keep_first_and_null_gates(tmp_path):
    _, meta = gen.inputs("etl_refresh", str(tmp_path), 1, {"etl": {"rows": 2000, "warm_rows": 500}})
    for entry in meta["etl"]["dates"].values():
        for platform, st in entry["platforms"].items():
            assert 0 < st["expected"] <= st["rows"] - st["dups_removed"]
            assert (st["dups_removed"] > 0) == (platform != "domclick")
    props = gen.etl_properties(meta["etl"])
    assert 0 < props["duplicate_key_share"] < 0.1
    assert 0 < props["malformed_numeric_row_share"] < 0.1


def test_llm_planted_pairs_straddle_the_threshold(tmp_path):
    _, meta = gen.inputs("llm_corpus", str(tmp_path), 1, SMALL)
    props = gen.llm_properties(meta["llm"], 0.5)
    assert props["near_dup_share_above"] > 0 and props["near_dup_share_below"] > 0
    assert meta["llm"]["documents"] == 800 and meta["llm"]["vectors"] == 20


def test_cache_keeps_only_the_newest_entries(tmp_path):
    for seed in range(4):
        gen.inputs("query_mix", str(tmp_path), seed, SMALL)
    left = sorted(os.listdir(tmp_path / "inputs"))
    assert len(left) == gen.KEEP_ENTRIES and left[-1] == "query_mix-s3-orders1500"


def test_shingles_and_jaccard_match_the_engine_definition():
    a = gen.shingle_set("a b  c d")
    assert a == {"a b c", "b c d"}
    assert gen.jaccard(a, gen.shingle_set("a b c e")) == 1 / 3


# --------------------------------------------------------------- metric names


def test_metric_names_and_units_are_well_formed():
    names = list(END_TO_END) + [s["name"] for s in tracing.per_layer_metric_specs()]
    assert len(names) == len(set(names))
    for name in names:
        assert stats.METRIC_NAME.fullmatch(name), name
        assert len(name) <= 64


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert spec["per_layer"] == tracing.per_layer_metric_specs()
    assert [w["name"] for w in spec["workloads"]] == ["etl_refresh", "analytics_mix"]
