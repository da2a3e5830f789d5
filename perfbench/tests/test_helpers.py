"""Tests of the benchmark's own helpers: the tail rule, the tie-aware
top-k comparator, the int8 reference, the pipeline checks and the
event-log parser. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import reference as ref  # noqa: E402
from stats import geomean, rollup, tail  # noqa: E402
from tracing import spark_by_group, spark_op_metrics, union_ms  # noqa: E402


# -- tail rule ---------------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct, n, beyond = tail(xs)
    assert (value, pct, n, beyond) == (90, 90.0, 100, 10)


def test_tail_with_thirty_samples():
    value, pct, n, beyond = tail(list(range(30, 0, -1)))
    assert (value, pct, n, beyond) == (20, 66.7, 30, 10)


def test_tail_never_at_or_below_median():
    value, pct, n, beyond = tail([5, 1, 4, 2, 3])
    assert value == 4 and pct == 80.0 and beyond == 1
    assert tail([7.0, 3.0])[0] == 7.0
    value, pct, _, beyond = tail(list(range(20)))
    assert value == 10 and pct == 55.0 and beyond == 9
    value, pct, _, beyond = tail(list(range(21)))
    assert value == 11 and pct == 57.1 and beyond == 9
    value, pct, _, beyond = tail(list(range(22)))
    assert value == 11 and pct == 54.5 and beyond == 10
    assert tail([4.0]) == (4.0, 100.0, 1, 0)


def test_tail_empty():
    value, _, n, _ = tail([])
    assert np.isnan(value) and n == 0


def test_rollup_is_geomean_of_medians():
    roll = rollup({"a": [1.0, 100.0, 4.0], "b": [9.0]})
    assert roll["p50"] == pytest.approx(geomean([4.0, 9.0])) == pytest.approx(6.0)
    assert roll["tail_samples"] == 4


# -- tie-aware comparator ----------------------------------------------------

def _store():
    ids = np.array([10, 11, 12, 13, 14], dtype=np.int64)
    d = np.array([0.3, 0.1, 0.2, 0.2, 0.9])
    return d, ids, {int(i): p for p, i in enumerate(ids)}


def test_topk_exact_match():
    d, ids, pos = _store()
    assert ref.check_topk([(11, 0.1), (12, 0.2), (13, 0.2)], d, ids, pos, 3) is None


def test_topk_ties_may_swap_at_the_boundary():
    d, ids, pos = _store()
    # k=2: ids 12 and 13 tie for 2nd place, either may be returned
    assert ref.check_topk([(11, 0.1), (13, 0.2)], d, ids, pos, 2) is None
    assert ref.check_topk([(11, 0.1), (12, 0.2)], d, ids, pos, 2) is None


def test_topk_ties_within_tolerance():
    ids = np.array([1, 2, 3], dtype=np.int64)
    d = np.array([0.5, 0.5000005, 0.9])
    pos = {1: 0, 2: 1, 3: 2}
    assert ref.check_topk([(2, 0.5000005)], d, ids, pos, 1) is None


def test_topk_rejects_a_non_tied_swap():
    d, ids, pos = _store()
    problem = ref.check_topk([(11, 0.1), (10, 0.3)], d, ids, pos, 2)
    assert problem is not None


def test_topk_rejects_wrong_distance_count_and_duplicates():
    d, ids, pos = _store()
    assert ref.check_topk([(11, 0.1), (12, 0.25)], d, ids, pos, 2) is not None
    assert ref.check_topk([(11, 0.1)], d, ids, pos, 2) is not None
    assert ref.check_topk([(11, 0.1), (11, 0.1)], d, ids, pos, 2) is not None
    assert ref.check_topk([(11, 0.1), (99, 0.2)], d, ids, pos, 2) is not None


def test_distances_match_engine_rounding():
    store = np.array([[3.0, 4.0], [0.0, 0.0]], dtype=np.float32)
    np.testing.assert_allclose(ref.distances(store, [0.0, 0.0], "euclidean"), [5.0, 0.0])
    cos = ref.distances(store, [3.0, 4.0], "cosine")
    assert cos[0] == 0.0 and np.isnan(cos[1])


# -- int8 reference ----------------------------------------------------------

def test_quantize_reference_rounds_half_away_from_zero():
    x = np.array([0.5 / 127, -0.5 / 127, 1.5 / 127, 2.5 / 127, 1.7, -3.0, 0.0])
    got = ref.quantize_reference(x)
    want = np.array([1, -1, 2, 3, 127, -127, 0]) / 127.0
    np.testing.assert_array_equal(got, want.astype(np.float32))
    assert got.dtype == np.float32


# -- pipeline checks ---------------------------------------------------------

def test_semantic_manifest_invariants():
    good = [(1, 1, True), (2, 1, False), (3, 3, True), (4, 1, False)]
    assert ref.check_semantic_manifest(good, [1, 2, 3, 4]) is None
    assert ref.check_semantic_manifest(good + [(2, 1, False)], [1, 2, 3, 4]) is not None
    assert ref.check_semantic_manifest(good, [1, 2, 3, 4, 5]) is not None
    not_min = [(1, 2, False), (2, 2, True)]
    assert ref.check_semantic_manifest(not_min, [1, 2]) is not None


def test_oracle_parity_is_order_insensitive_and_typed():
    oracle = {"cols": ["a", "b"], "types": {"a": "bigint", "b": "string"},
              "rows": ref.canonical_rows(["b", "a"], [("x", 1), ("y", 2)])}
    types = {"a": "bigint", "b": "string"}
    assert ref.check_oracle(["a", "b"], types, [(2, "y"), (1, "x")], oracle) is None
    assert ref.check_oracle(["a", "b"], types, [(2, "y")], oracle) is not None
    assert ref.check_oracle(["a", "b"], {"a": "int", "b": "string"},
                            [(2, "y"), (1, "x")], oracle) is not None


# -- event log ---------------------------------------------------------------

def _events():
    def task(stage, launch, cpu_ns, gc, shuffle, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": launch + 5},
                "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 1}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "get#1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1002}},
        task(0, 1004, 2_000_000, 3, 100, 0),
        task(0, 1010, 4_000_000, 0, 50, 7),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 1020}},
        task(1, 1021, 1_000_000, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1030},
        # a job outside any group is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1040,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Submission Time": 1041}},
        task(2, 1042, 9_000_000, 9, 9, 9),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1050},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1060,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "get_int8#2"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1070},
    ]


def test_event_log_groups():
    groups = spark_by_group(_events())
    assert set(groups) == {"get#1", "get_int8#2"}
    g = groups["get#1"]
    assert g["jobs"] == 1 and g["tasks"] == 3
    assert g["executor_cpu_ms"] == pytest.approx(7.0)
    assert g["gc_ms"] == 3
    assert g["shuffle_bytes"] == 150
    assert g["spill_bytes"] == 7 + 3  # memory + disk
    assert sorted(g["task_wait_ms"]) == [1, 2, 8]
    assert g["intervals"] == [(1000, 1030)]


def test_event_log_op_roll_up_merges_store_variants():
    m = spark_op_metrics(spark_by_group(_events()), "get")
    assert m["jobs"] == 1.0  # median of 1 job (get#1) and 1 job (get_int8#2)
    assert m["tasks"] == 1.5
    assert m["task_wait_ms"] == 2
    assert spark_op_metrics({}, "get")["jobs"] == 0.0


def test_union_of_intervals():
    assert union_ms([]) == 0.0
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_ms([(20, 30), (0, 40)]) == 40


# -- the benchmark definition matches the code -------------------------------

def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
    assert len(layers.PER_LAYER) <= 128
    import workloads

    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
