"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import run
import spans
import workloads

BENCHMARK = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


@pytest.fixture(scope="module")
def corpus():
    return workloads.load_corpus()


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_generator_deterministic_per_seed(corpus, name):
    a = workloads.generate(name, 7, corpus)
    b = workloads.generate(name, 7, corpus)
    c = workloads.generate(name, 8, corpus)
    assert workloads.row_hash(a) == workloads.row_hash(b)
    assert workloads.row_hash(a) != workloads.row_hash(c)
    ids = a.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)
    assert max(ids) < 10**workloads.ID_DIGITS


def test_hard_negative_families_share_one_digit_multiset(corpus):
    docs = workloads.generate("hard_negatives_ckpt", 3, corpus)
    families: dict[str, set[str]] = {}
    for doc_id, text in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        digits = "".join(sorted(f"{doc_id:0{workloads.ID_DIGITS}d}"))
        families.setdefault(text, set()).add(digits)
    members = [t for t in docs.column("text").to_pylist()]
    assert len(families) == workloads.FAMILIES
    assert all(members.count(text) == workloads.FAMILY_SIZE for text in families)
    assert all(len(multisets) == 1 for multisets in families.values())
    assert len({next(iter(m)) for m in families.values()}) == workloads.FAMILIES


def _true_clusters(expected: dict[str, int]) -> dict[str, str]:
    root: dict[int, str] = {}
    for conv, entity in sorted(expected.items()):
        root.setdefault(entity, conv)
    return {conv: root[entity] for conv, entity in expected.items()}


def test_checker_accepts_truth_and_rejects_one_moved_conversation(corpus):
    docs = workloads.generate("dup_heavy", 1, corpus)
    expected, turns = workloads.expected_conversations(docs)
    assert turns > len(expected) > docs.num_rows
    truth = _true_clusters(expected)
    assert workloads.check_clusters(list(truth), list(truth.values()), expected) is None

    moved = dict(truth)
    conv = next(c for c in moved if c.startswith("d"))
    other = next(v for v in moved.values() if v != moved[conv])
    moved[conv] = other
    assert workloads.check_clusters(list(moved), list(moved.values()), expected)

    dropped = dict(truth)
    dropped.pop(conv)
    assert workloads.check_clusters(list(dropped), list(dropped.values()), expected)

    split = dict(truth)
    split[conv] = conv  # its own singleton
    assert workloads.check_clusters(list(split), list(split.values()), expected)


def test_printed_metric_names_equal_declared():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    samples = [{"error": None}]
    for traced, key in ((False, "end_to_end"), (True, "per_layer")):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        printed = run.make_result({}, samples, traced)["metrics"]
        assert {k: v["unit"] for k, v in printed.items()} == declared
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_result_counts_failed_runs_and_missing_metrics():
    names = {name: 1.0 for name, _ in run.END_TO_END}
    ok = run.make_result(names, [{"error": None}, {"error": None}], False)
    assert (ok["correct"], ok["attempted"], ok["failed"]) == (True, 2, 0)
    bad = run.make_result(names, [{"error": None}, {"error": "moved"}], False)
    assert (bad["correct"], bad["failed"]) == (False, 1)
    assert run.make_result({}, [{"error": None}], False)["correct"] is False


def test_event_log_metrics_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "warm|blocking.block_pairs"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "JVM GC Time": 250, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2**20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3 * 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "JVM GC Time": 750, "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"JVM GC Time": 5}},
    ]
    (tmp_path / "local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = spans.task_metrics_by_group(str(tmp_path))
    assert groups["warm|blocking.block_pairs"] == {
        "gc_s": 1.0, "shuffle_write_mb": 4.0, "spill_mb": 1.0,
    }
    assert groups["None"]["gc_s"] == pytest.approx(0.005)


class _FakeContext:
    def __init__(self):
        self.props: dict = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_tracer_nested_spans_report_self_time_and_restore_groups():
    import time as _time

    spark = _FakeSpark()
    tracer = spans.Tracer(spark, phase="warm")

    def inner():
        assert spark.sparkContext.props["spark.jobGroup.id"] == "warm|lineage.pairs"
        _time.sleep(0.05)

    def outer():
        _time.sleep(0.05)
        tracer._span("lineage.pairs", inner)

    tracer._span("blocking.block_pairs", outer)
    assert "spark.jobGroup.id" not in spark.sparkContext.props
    by_name = {s.name: s for s in tracer.spans}
    outer_span, inner_span = by_name["blocking.block_pairs"], by_name["lineage.pairs"]
    assert inner_span.nested and not outer_span.nested
    assert outer_span.total_wall == pytest.approx(outer_span.wall + inner_span.wall)
    assert tracer.top_level_wall("warm") == outer_span.total_wall
    walls = tracer.layer_walls("warm")
    assert walls["blocking.block_pairs"] == outer_span.wall
    assert walls["lineage"] == inner_span.wall


def test_steal_correction_removes_only_withheld_time():
    from procstat import steal_corrected

    assert steal_corrected(10.0, 35.0, 0.0) == 10.0
    # 3 busy cores delivered while 1 more core's worth was withheld
    assert steal_corrected(12.0, 36.0, 1.0) == pytest.approx(9.0)
    assert steal_corrected(0.0, 0.0, 0.0) == 0.0


def test_every_checkpoint_metric_job_lands_in_the_lineage_layer():
    for stage in (*spans.STAGE_SPANS, "cc_iter_0", "cc_iter_7"):
        assert spans._lineage_span(stage) in spans.LAYERS["lineage"]
