"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics
import threading

import pytest

import corpus
import eventlog
import run
import spans
import stats

# -- stats -------------------------------------------------------------------


@pytest.mark.parametrize("n, rank", [(1, None), (10, None), (11, 1), (20, 10), (100, 90)])
def test_tail_rank_leaves_ten_samples_beyond(n, rank):
    assert stats.tail_rank(n) == rank
    if rank is not None:
        assert n - rank >= stats.TAIL_SAMPLES


def test_summarize_reports_median_count_and_tail():
    s = stats.summarize([float(v) for v in range(100, 0, -1)])
    assert s == {"n": 100, "median": 50.5, "tail_pct": 90, "tail": 90.0}
    small = stats.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "median": 2.0, "tail_pct": None, "tail": None}
    with pytest.raises(ValueError):
        stats.summarize([])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 12.0, 10.1, 9.9, 10.4, 10.8, 9.7]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))


# -- event log ---------------------------------------------------------------


def _job(job, stages, submit, layer=None):
    props = {} if layer is None else {eventlog.LAYER_PROPERTY: layer}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job,
                       "Submission Time": submit, "Stage IDs": stages, "Properties": props})


def _stage(stage, submit, layer=None):
    props = {} if layer is None else {eventlog.LAYER_PROPERTY: layer}
    return json.dumps({"Event": "SparkListenerStageSubmitted",
                       "Stage Info": {"Stage ID": stage, "Submission Time": submit},
                       "Properties": props})


def _task(stage, run_ms, cpu_ns=0, remote=0, local=0, written=0):
    return json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
        "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}})


def test_event_log_attributes_tasks_to_the_submitting_layer():
    log = eventlog.parse_lines([
        _job(0, [0, 1], 1000, "scoring"),
        _stage(0, 1001, "scoring"),
        _task(0, 10, cpu_ns=2_000_000_000, written=3_000_000),
        _task(0, 30, cpu_ns=1_000_000_000, written=1_000_000),
        _stage(1, 1002, "scoring"),
        _task(1, 5, remote=500_000, local=1_500_000),
        # stage 1 is reused (skipped) by a later job of another layer
        _job(1, [1, 2], 1003, "clustering"),
        _stage(2, 1004, "clustering"),
        _task(2, 7),
        # an untagged job counts toward the default layer
        _job(2, [3], 1005),
        _stage(3, 1006),
        _task(3, 1),
        # Spark's own compact layout; a SQL event (skipped unparsed)
        '{"Event":"SparkListenerTaskEnd","Stage ID":3,"Task Metrics":{"Executor Run Time":2}}',
        '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",'
        '"physicalPlanDescription":"SparkListenerTaskEnd"}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Me',  # truncated
    ])
    assert log.stages[1].layer == "scoring"
    got = eventlog.layer_totals(log, (999, 2000), default_layer="pipeline")
    assert got["scoring"]["jobs"] == 1 and got["scoring"]["tasks"] == 3
    assert got["scoring"]["cpu_s"] == pytest.approx(3.0)
    assert got["scoring"]["shuffle_write_mb"] == pytest.approx(4.0)
    assert got["scoring"]["shuffle_read_mb"] == pytest.approx(2.0)
    # heaviest scoring stage is 0 (40 ms of tasks): max 30 / median 20
    assert got["scoring"]["task_skew"] == pytest.approx(1.5)
    assert got["clustering"] == pytest.approx({"jobs": 1, "tasks": 1, "cpu_s": 0.0,
                                               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
                                               "task_skew": 1.0})
    assert got["pipeline"]["jobs"] == 1 and got["pipeline"]["tasks"] == 2


def test_event_log_window_selects_jobs_and_stages():
    log = eventlog.parse_lines([
        _job(0, [0], 100, "a"), _stage(0, 100, "a"), _task(0, 1),
        _job(1, [1], 500, "a"), _stage(1, 500, "a"), _task(1, 1), _task(1, 1),
        _job(2, [2], 900, "a"), _stage(2, 900, "a"), _task(2, 1),
    ])
    got = eventlog.layer_totals(log, (400, 600), default_layer="x")
    assert got["a"]["jobs"] == 1 and got["a"]["tasks"] == 2
    assert eventlog.layer_totals(log, (200, 300), default_layer="x") == {}


def test_read_event_log_reads_every_file(tmp_path):
    (tmp_path / "eventlog_v2_app").mkdir()
    (tmp_path / "eventlog_v2_app" / "events_1_app").write_text(
        _job(0, [0], 10, "a") + "\n" + _stage(0, 10, "a") + "\n")
    (tmp_path / "eventlog_v2_app" / "events_2_app").write_text(_task(0, 4) + "\n")
    log = eventlog.read_event_log(str(tmp_path))
    assert log.stages[0].run_ms == [4]


# -- spans -------------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_self_time_subtracts_covered_part_of_overlapping_children():
    S = spans.Span
    tree = [
        S(0, "pipeline", None, 0.0, 10.0),
        S(1, "tfidf.vectors", 0, 2.0, 6.0),  # concurrent branches overlap
        S(2, "blocking.candidate_pairs", 0, 3.0, 7.0),
        S(3, "scoring", 0, 8.0, 9.0),
        S(4, "blocking.postings", 2, 3.0, 4.0),
    ]
    selfs = spans.self_times(tree)
    assert selfs == pytest.approx({0: 10 - 5 - 1, 1: 4.0, 2: 3.0, 3: 1.0, 4: 1.0})
    layers = spans.layer_times(tree)
    assert layers["pipeline"] == pytest.approx({"wall_s": 10.0, "self_s": 4.0})


def test_layer_wall_counts_nested_spans_of_one_layer_once():
    S = spans.Span
    tree = [S(0, "streaming", None, 0.0, 10.0), S(1, "streaming", 0, 1.0, 3.0)]
    got = spans.layer_times(tree)["streaming"]
    assert got == pytest.approx({"wall_s": 10.0, "self_s": 10.0})


class FakeContext:
    """Records the layer property per thread, like SparkContext would."""

    def __init__(self):
        self.props = {}
        self.seen = []

    def setLocalProperty(self, key, value):
        assert key == eventlog.LAYER_PROPERTY
        self.props[threading.get_ident()] = value

    def job(self, name):
        self.seen.append((name, self.props.get(threading.get_ident())))


def test_tracer_tags_jobs_and_inherits_layer_for_materialize():
    sc = FakeContext()
    tr = spans.Tracer(sc)

    def canonicalize():
        return "lazy"

    def materialize(df):
        sc.job("materialize")
        return df

    def branch():
        sc.job("branch")
        return 1

    def run_pipeline():
        tr_canon()
        tr_mat("df")
        sc.job("driver")
        t = threading.Thread(target=tr_branch)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        return "res"

    tr_canon = tr.wrap("canonicalize", canonicalize)
    tr_mat = tr.wrap(None, materialize)
    tr_branch = tr.wrap("blocking.candidate_pairs", branch)
    assert tr.wrap("pipeline", run_pipeline)() == "res"
    # a layerless wrapper with no earlier call on its thread is a plain call
    assert spans.Tracer(sc).wrap(None, materialize)("x") == "x"

    assert ("materialize", "canonicalize") in sc.seen
    assert ("driver", "pipeline") in sc.seen
    assert ("branch", "blocking.candidate_pairs") in sc.seen
    by_layer = {s.layer: s for s in tr.spans}
    root = by_layer["pipeline"]
    assert root.parent is None
    # the pool thread's span hangs under the pipeline span of the main thread
    assert by_layer["blocking.candidate_pairs"].parent == root.id
    assert [s.layer for s in tr.spans].count("canonicalize") == 2
    # only named calls are recorded as results, not the inherited span
    assert tr.results("canonicalize") == ["lazy"]
    assert tr.results("pipeline") == ["res"]
    assert all(s.end >= s.start for s in tr.spans)


def test_patched_restores_originals():
    from address_match_recommend_spark.plans import pipeline

    original = pipeline.canonicalize
    tr = spans.Tracer()
    with spans.installed(tr):
        assert pipeline.canonicalize is not original
    assert pipeline.canonicalize is original


# -- corpus ------------------------------------------------------------------


TINY = corpus.Workload("tiny", "stream", n_entities=6, vocab_size=200,
                       bootstrap_share=0.5, batch_turns=20)


def test_load_caches_and_reads_back_the_same_corpus(tmp_path):
    first = corpus.load(TINY, 3, str(tmp_path))
    assert os.path.exists(os.path.join(tmp_path, "tiny-6x200-seed3", "_DONE"))
    again = corpus.load(TINY, 3, str(tmp_path))
    for table in ("transcripts", "labeled_pairs"):
        assert getattr(first, table).equals(getattr(again, table))


def test_stream_split_is_seeded_and_covers_each_conversation_once(tmp_path):
    tr = corpus.load(TINY, 3, str(tmp_path)).transcripts
    boot, batches = corpus.stream_split(tr, TINY, seed=3)
    parts = [set(boot["conv_id"])] + [set(b["conv_id"]) for b in batches]
    assert sum(map(len, parts)) == tr["conv_id"].nunique() == len(set().union(*parts))
    assert len(parts[0]) == int(tr["conv_id"].nunique() * TINY.bootstrap_share)
    # whole conversations, each in the batch its first turn falls in
    longest = tr.groupby("conv_id").size().max()
    assert all(abs(len(b) - TINY.batch_turns) < longest for b in batches[:-1])
    assert all(len(b) for b in batches)
    boot2, batches2 = corpus.stream_split(tr, TINY, seed=3)
    assert boot.equals(boot2) and all(a.equals(b) for a, b in zip(batches, batches2))


# -- BENCHMARK.json ----------------------------------------------------------


def test_benchmark_json_lists_what_run_reports():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == run.per_layer_names()
    for m in bench["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert len(bench["per_layer"]) <= 128
