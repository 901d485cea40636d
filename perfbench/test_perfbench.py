"""Tests for the benchmark's own helpers, on tiny inputs.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import oracle
from perfbench.trace import (
    Span,
    Tracer,
    assign_jobs,
    nearest_rank,
    read_event_log,
    self_time,
    span_counters,
)


def test_nearest_rank_leaves_the_tail_beyond_it():
    vals = list(range(1, 46))  # 45 samples, shuffled order must not matter
    vals = vals[20:] + vals[:20]
    p75 = nearest_rank(vals, 0.75)
    assert p75 == 34
    assert sum(v > p75 for v in vals) == 11
    assert nearest_rank([5.0], 0.75) == 5.0
    assert nearest_rank([3, 1, 2, 4], 0.5) == 2
    assert nearest_rank([3, 1, 2, 4], 1.0) == 4
    with pytest.raises(ValueError):
        nearest_rank([], 0.5)


def _span(i, start, end, parent=None, name="s"):
    return Span(i, name, parent, "r", start, end)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 4.0, 0),   # overlaps the first: union is [1, 4]
        _span(3, 6.0, 7.0, 0),
        _span(4, 9.0, 12.0, 0),  # runs past the parent: clipped to [9, 10]
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 3 - 1 - 1)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_reports_self_time():
    tr = Tracer("t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert 0 <= tr.self_time(outer.id) <= outer.duration
    out = tr.to_json()
    assert [d["name"] for d in out] == ["outer", "inner"]
    assert out[1]["self_s"] == pytest.approx(inner.duration)


def _write_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def _task(stage, launch, finish, cpu_ns=0, shuffle=0, read=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": finish - launch,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Records Read": read},
            "Output Metrics": {"Records Written": 0},
        },
    }


def test_event_log_joins_jobs_to_spans(tmp_path):
    # spans: root [100, 110] with children a [101, 104] and b [105, 109]
    spans = [_span(0, 100.0, 110.0, name="root"),
             _span(1, 101.0, 104.0, 0, "a"),
             _span(2, 105.0, 109.0, 0, "b")]
    log = tmp_path / "app"
    _write_log(log, [
        {"Event": "SparkListenerApplicationStart"},
        # job 0: tagged with span b's group but submitted inside a's window
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 101500, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "perfbench-r-2"}},
        # job 1: untagged (an engine worker thread) inside a's window
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 102000, "Stage IDs": [1, 2], "Properties": {}},
        # job 2: untagged, inside root but outside both children
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 104500, "Stage IDs": [3]},
        # job 3: outside every span
        {"Event": "SparkListenerJobStart", "Job ID": 3,
         "Submission Time": 200000, "Stage IDs": [4]},
        _task(0, 0, 1000, cpu_ns=2_000_000_000),
        _task(1, 0, 1000, shuffle=10),
        _task(1, 0, 1000, shuffle=20),
        _task(1, 0, 4000, shuffle=30, failed=True),
        _task(3, 0, 500, read=7),
        _task(4, 0, 500),
        # stage 2 of job 1 was skipped: no task events
    ])
    jobs, stages = read_event_log(str(log))
    assert set(jobs) == {0, 1, 2, 3}
    assert jobs[2]["group"] is None
    assert stages[1]["failed"] == 1

    assigned = assign_jobs(spans, jobs)
    assert assigned == {0: [2], 1: [1], 2: [0]}

    total = span_counters(spans, jobs, stages)
    assert total[2].cpu_s == pytest.approx(2.0)
    assert total[1].jobs == 1 and total[1].stages == 1 and total[1].tasks == 3
    assert total[1].shuffle_write_bytes == 60
    assert total[1].failed_tasks == 1
    assert total[1].task_skew == pytest.approx(4.0)  # max 4 s / median 1 s
    assert total[0].jobs == 3
    assert total[0].records_read == 7
    assert total[0].shuffle_write_bytes == 60


@pytest.fixture(scope="module")
def corp():
    return oracle.SearchCorpus(400, seed=3)


def test_oracle_count_matches_a_direct_count(corp):
    from clpspark.ref.wildcard import wildcard_match

    q = oracle.Query("logtype", "* INFO heartbeat seq * ok")
    direct = sum(" INFO heartbeat seq " in line and line.endswith(" ok")
                 for line in corp.lines)
    assert direct > 0
    assert corp.count(q) == direct
    # the literal-fragment shortcut never changes an answer
    for text in ("*checksum*verified*", "* INFO wrote * bytes to *", "*"):
        q = oracle.Query("unpruned", text)
        assert corp.count(q) == sum(wildcard_match(line, text)
                                    for line in corp.lines)


def test_oracle_count_applies_the_time_window(corp):
    stamped = sorted(t for t in corp.ts if t is not None)
    lo, hi = stamped[len(stamped) // 4], stamped[len(stamped) // 2]
    q = oracle.Query("timerange", "*", tge=lo, tle=hi)
    assert corp.count(q) == sum(lo <= t <= hi for t in stamped)
    # count_by_time drops the lines without a timestamp
    everything = oracle.Query("count_by_time", "*", kind="count_by_time")
    assert corp.count(everything) == len(stamped) < len(corp.lines)


def test_oracle_timestamps_read_the_line_head(corp):
    from datetime import datetime, timezone

    i = next(i for i, t in enumerate(corp.ts) if t is not None)
    head = corp.lines[i][:23]
    dt = datetime.strptime(head, "%Y-%m-%d %H:%M:%S.%f")
    assert corp.ts[i] == round(dt.replace(tzinfo=timezone.utc).timestamp()
                               * 1000)


def test_queries_are_seeded(corp):
    a = oracle.build_queries(corp, 3)
    assert a == oracle.build_queries(corp, 3)
    assert len(a) == 10
    assert sum(q.cls == "unpruned" for q in a) == 3
    assert a != oracle.build_queries(corp, 4)


def test_minhash_check_flags_non_pairs(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "doc_id": [1, 2, 3],
        "text": ["a b c d e", "a b c d f", "x y z w v"],
    }), tmp_path / "documents.parquet")
    # docs 1 and 2 share 2 of 4 distinct 3-gram shingles
    ok = [(1, 2, 0.5)]
    assert oracle.minhash_violations(["a", "b", "jaccard"], ok,
                                     str(tmp_path)) == []
    bad = [(1, 3, 0.5), (1, 2, 0.75)]
    assert len(oracle.minhash_violations(["a", "b", "jaccard"], bad,
                                         str(tmp_path))) == 2


TEXT_COLS = ["doc_id", "n_words", "lm_xent", "lm_ppl", "lm_bucket"]


def _text_rows():
    # cut points: head up to 2.0, middle up to 4.0
    return [(1, 10, 0.693147, 2.0, "head"),
            (2, 12, 1.386294, 4.0, "middle"),
            (3, 9, 2.079442, 8.0, "tail"),
            (4, 0, None, None, None)]


def test_text_stats_accepts_a_6th_decimal_rounding_flip():
    import math

    duck = _text_rows()
    spark = list(duck)
    # lm_xent one unit lower, lm_ppl following it through exp and rounding
    x = 2.079441
    spark[2] = (3, 9, x, round(math.exp(x), 6), "tail")
    assert oracle.same_text_stats(TEXT_COLS, spark, TEXT_COLS, duck)
    # column order does not matter
    cols = TEXT_COLS[::-1]
    assert oracle.same_text_stats(cols, [r[::-1] for r in spark],
                                  TEXT_COLS, duck)
    # a document at the head/middle cut may change bucket
    spark[0] = (1, 10, 0.693148, 2.000002, "middle")
    assert oracle.same_text_stats(TEXT_COLS, spark, TEXT_COLS, duck)


def test_text_stats_rejects_real_differences():
    duck = _text_rows()
    for i, row in [(2, (3, 9, 2.079440, 7.999984, "tail")),  # two units
                   (2, (3, 9, 2.079442, 8.0001, "tail")),    # ppl off
                   (2, (3, 9, 2.079442, 8.0, "middle")),     # far from a cut
                   (1, (2, 13, 1.386294, 4.0, "middle")),    # exact column
                   (3, (4, 0, 0.0, 1.0, "head"))]:           # null lost
        spark = list(duck)
        spark[i] = row
        assert not oracle.same_text_stats(TEXT_COLS, spark, TEXT_COLS, duck)
    assert not oracle.same_text_stats(TEXT_COLS, duck[:3], TEXT_COLS, duck)
    assert not oracle.same_text_stats(TEXT_COLS[:-1], [r[:-1] for r in duck],
                                      TEXT_COLS, duck)


def test_benchmark_json_lists_what_run_py_prints():
    import os

    from perfbench.run import E2E, LAYERS, ROOT

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYERS
    assert [w["name"] for w in bench["workloads"]] == ["clp", "curate"]
