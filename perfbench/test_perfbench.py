"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, gen  # noqa: E402

# ---------------------------------------------------------------------------
# tail-percentile rule
# ---------------------------------------------------------------------------


def test_tail_rule_needs_ten_samples_beyond():
    assert common.tail_supported(100, 90.0)
    assert not common.tail_supported(99, 90.0)
    assert common.tail_supported(1000, 99.0)
    assert not common.tail_supported(999, 99.0)


def test_percentile_interpolates_and_rejects_empty():
    xs = list(range(1, 101))
    assert common.percentile(xs, 50) == pytest.approx(50.5)
    assert common.percentile(xs, 90) == pytest.approx(90.1)
    assert common.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_fixed_tail_percentiles_are_supported_by_the_sample_counts():
    """Each workload's fixed tail leaves >= 10 samples beyond it at the
    smallest sample count a run of the benchmark's length produces."""
    from perfbench import dw_stream, serving

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    p = gen.StreamParams()
    clean_log = p.log_rate * seconds * (1 - p.malformed_share)
    assert common.tail_supported(int(clean_log), dw_stream.TAIL_PCT)
    # one pass of both clients is the least a serving run measures
    assert common.tail_supported(serving.CLIENTS * len(serving.MIX),
                                 serving.TAIL_PCT)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_stream_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a = gen.stream_inputs(7, 3)
    b = gen.stream_inputs(7, 3)
    c = gen.stream_inputs(8, 3)
    assert [(f.name, f.payload) for f in a.files] == [
        (f.name, f.payload) for f in b.files]
    assert a.dims == b.dims and a.docs == b.docs
    assert [f.payload for f in a.files] != [f.payload for f in c.files]


def test_stream_inputs_honor_their_knobs():
    p = gen.StreamParams()
    s = gen.stream_inputs(3, 10, p)
    assert s.log_lines == int(10 * p.log_rate)
    assert abs(s.malformed / s.log_lines - p.malformed_share) < 0.01
    assert 0 < s.out_of_order <= s.log_lines * p.out_of_order_share * 1.5
    # every file is released after all of its events are due
    for f in s.files:
        assert all(f.event_due_s <= f.due_s + 1e-9)
    # order details that miss fall outside the +-5 s join window
    assert 0 < s.details_hit < s.details
    # the last version of each dim pk leads with the newest operate_time
    for rows in s.dims.values():
        for row in rows.values():
            assert list(row)[:2] == ["id", "operate_time"]


def test_doc_batches_repeat_and_carry_near_dups():
    a = gen.doc_batches(5, 4)
    assert a == gen.doc_batches(5, 4)
    assert a != gen.doc_batches(6, 4)
    ids = [d for b in a for d, _ in b]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    texts = [t for b in a for _, t in b]
    # near-dups share all but a word with an earlier doc
    near = 0
    for i, t in enumerate(texts):
        w = t.split()
        for u in texts[:i]:
            v = u.split()
            if len(v) == len(w) and sum(x != y for x, y in zip(v, w)) <= 1:
                near += 1
                break
    share = gen.CorpusParams().near_dup_share
    assert abs(near / len(texts) - share) < 0.1


def test_star_tables_repeat_for_a_seed(tmp_path):
    p = gen.StarParams(sf=0.001)
    n1 = gen.star_tables(4, str(tmp_path / "a"), p)
    n2 = gen.star_tables(4, str(tmp_path / "b"), p)
    assert n1 == n2 and n1["lineitem"] == 6000
    for t in n1:
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        b = (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert a == b, t


# ---------------------------------------------------------------------------
# backlog, freshness and span accounting on a synthetic timeline
# ---------------------------------------------------------------------------


def test_backlog_counts_files_released_but_not_committed():
    released = [1.0, 2.0, 3.0, 4.0]
    # file 1 committed at 2.5; files 2 and 3 at 5.0, so file 4 waits
    # behind them; file 4 at 6.0
    committed = [2.5, 5.0, 5.0, 6.0]
    assert common.backlog_series(released, committed) == [1, 2, 2, 3]
    # a commit at the instant of a release is counted first
    assert common.backlog_series([1.0, 2.0], [2.0, 3.0]) == [1, 1]
    # files never committed stay in the backlog
    assert common.backlog_series([1.0, 2.0, 3.0], [1.5]) == [1, 1, 2]


def test_slope_is_least_squares():
    assert common.slope([1, 2, 3], [2, 4, 6]) == pytest.approx(2.0)
    assert common.slope([0, 1, 2, 3], [1, 0, 1, 0]) == pytest.approx(-0.2)


def test_freshness_is_commit_minus_due():
    assert common.freshness([0.25, 0.5, 0.75], [2.0, 2.0, 3.0]) == [
        1.75, 1.5, 2.25]


def test_busy_seconds_is_the_union_of_intervals():
    assert common.busy_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert common.busy_seconds([]) == 0.0


def test_self_time_subtracts_children_even_across_threads():
    t = common.Tracer(True)
    parent = common.Span(1, "tick", "t1", None, 0.0, 10.0)
    kids = [common.Span(2, "a", "t1", 1, 1.0, 4.0),
            common.Span(3, "b", "t1", 1, 3.0, 6.0),  # overlaps a
            common.Span(4, "c", "t1", 1, 9.0, 12.0)]  # outlives the parent
    t.spans = [parent, *kids]
    st = t.self_times()
    assert st["tick"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st["a"] == pytest.approx(3.0)


def test_tracer_nests_and_disabled_tracer_records_nothing(tmp_path):
    t = common.Tracer(True)
    with t.span("outer", trace_id="q1") as o:
        with t.span("inner") as i:
            pass
    assert i.parent == o.id and i.trace_id == "q1"
    path = tmp_path / "spans.jsonl"
    t.write(str(path))
    names = [json.loads(x)["name"] for x in path.read_text().splitlines()]
    assert names == ["outer", "inner"]
    off = common.Tracer(False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


# ---------------------------------------------------------------------------
# event-log attribution
# ---------------------------------------------------------------------------


def _synthetic_log():
    def task(stage, ms, launch):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": launch + ms},
                "Task Metrics": {"Executor Run Time": ms,
                                 "Executor CPU Time": ms * 10**6,
                                 "JVM GC Time": 1,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                                 "Shuffle Read Metrics": {"Local Bytes Read": 2**20,
                                                          "Remote Bytes Read": 0}}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {"sql.streaming.queryId": "abc"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "q1"}},
        task(0, 100, 1000), task(0, 300, 1000), task(1, 50, 1200),
        task(2, 40, 2000), task(3, 999, 9000),
    ]


def test_attribution_charges_tasks_to_the_launching_span():
    key = {"q1": "q1"}

    def key_of(props):
        return key.get(props.get("spark.jobGroup.id")) or (
            "app" if props.get("sql.streaming.queryId") == "abc" else None)

    per = common.attribute_tasks(_synthetic_log(), key_of, (0.0, 5.0))
    assert set(per) == {"q1", "app"}  # job 2 was submitted after the window
    assert per["q1"]["tasks"] == 3 and per["q1"]["task_ms"] == 450
    assert per["app"]["tasks"] == 1 and per["app"]["jobs"] == 1
    m = common.exec_metrics(per, wall_s=1.0, cores=2)
    assert m["task_s"] == pytest.approx(0.49)
    assert m["core_util"] == pytest.approx(0.49 / 2)
    assert m["shuffle_write_mb"] == pytest.approx(4.0)
    assert m["stages"] == 3.0 and m["jobs"] == 2.0
    # stage 0: max 300 over median 200
    assert m["stage_skew"] == pytest.approx(1.5)


def test_attribution_on_a_tiny_spark_job(tmp_path):
    """A real event log: the job run under a job group is charged to it,
    the one outside any group is not."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("attr-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(log_dir))
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setJobGroup("grp1", "tiny")
        spark.range(1000).repartition(3).count()
        sc.setJobGroup("other", "untracked")
        spark.range(10).count()
    finally:
        spark.stop()
    assert pyspark
    events = common.read_event_log(str(log_dir))
    per = common.attribute_tasks(
        events, lambda p: "grp1" if p.get("spark.jobGroup.id") == "grp1"
        else None, (0.0, float("inf")))
    assert set(per) == {"grp1"}
    assert per["grp1"]["jobs"] >= 1 and per["grp1"]["tasks"] >= 3
    assert per["grp1"]["shuffle_write"] > 0
