"""Tests of the span recorder and the event-log parser.

    python3 -m pytest perfbench/test_spans.py -q

The event log under ``fixtures/`` was captured by ``capture_fixture.py``
at a generated sf0.001: three catalog queries, each built under a
``queries`` span and forced through the noop sink under a ``spark``
span.
"""

from __future__ import annotations

import json
import os

import pytest

import spans

FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def log():
    with open(os.path.join(FIX, "eventlog_sf0.001.jsonl")) as f:
        return spans.parse_event_log(f)


@pytest.fixture(scope="module")
def fixture_spans():
    with open(os.path.join(FIX, "spans_sf0.001.jsonl")) as f:
        return [spans.Span(**json.loads(line)) for line in f]


def _kinds(log, group):
    return sorted(j.kind for j in log.jobs if j.group == group)


def test_job_kind_from_stage_name():
    assert spans.job_kind("parquet at NativeMethodAccessorImpl.java:0") == "parquet"
    assert spans.job_kind("localCheckpoint at dedup.py:12") == "localCheckpoint"
    assert spans.job_kind("save at NativeMethodAccessorImpl.java:0") == "save"
    assert spans.job_kind("collect at Foo.scala:1") == "other"
    assert spans.job_kind("") == "other"


def test_job_kinds_attributed_to_spans(log, fixture_spans):
    by_name = {s.name: f"fixture:{s.sid}" for s in fixture_spans}
    # building a query infers the parquet schema of each table it reads
    assert _kinds(log, by_name["top10_orders.build"]) == ["parquet"]
    assert _kinds(log, by_name["pricing_summary.build"]) == ["parquet"]
    # the shingle-Jaccard operator checkpoints eagerly while it is built
    ngram = _kinds(log, by_name["ngram_jaccard_near_dups.build"])
    assert ngram.count("localCheckpoint") == 2
    assert ngram.count("parquet") == 1
    # forcing through the noop sink ends in a save job
    for q in ("top10_orders", "ngram_jaccard_near_dups", "pricing_summary"):
        assert "save" in _kinds(log, by_name[f"{q}.exec"])
    # every job ran inside some span, and all succeeded
    assert {j.group for j in log.jobs} <= set(by_name.values())
    assert all(j.ok for j in log.jobs)


def test_job_stats_counts_tasks_of_the_given_jobs(log):
    everything = spans.job_stats(log, log.jobs)
    assert everything["jobs"] == len(log.jobs)
    assert everything["tasks"] == len(log.tasks)
    assert everything["failed_tasks"] == 0
    assert everything["executor_run_s"] > 0
    assert everything["scan_rows"] > 0
    assert everything["task_skew"] >= 1.0
    saves = [j for j in log.jobs if j.kind == "save"]
    part = spans.job_stats(log, saves)
    assert part["save_jobs"] == len(saves) and part["parquet_jobs"] == 0
    assert 0 < part["tasks"] < everything["tasks"]


def test_self_times_subtract_direct_children():
    s = [
        spans.Span(0, "pass", "pass", 0.0, 10.0),
        spans.Span(1, "q", "query", 1.0, 9.0, parent=0),
        spans.Span(2, "q.build", "queries", 1.0, 4.0, parent=1),
        spans.Span(3, "q.exec", "spark", 4.5, 8.5, parent=1),
        spans.Span(4, "q2.build", "queries", 9.0, 9.5, parent=0),
    ]
    got = spans.self_times(s)
    assert got["pass"] == pytest.approx(10.0 - 8.0 - 0.5)
    assert got["query"] == pytest.approx(8.0 - 3.0 - 4.0)
    assert got["queries"] == pytest.approx(3.0 + 0.5)
    assert got["spark"] == pytest.approx(4.0)
    assert sum(got.values()) == pytest.approx(10.0)  # the root's wall time
    assert spans.descendants(s, 1) == {1, 2, 3}


def test_self_times_on_captured_spans(fixture_spans):
    got = spans.self_times(fixture_spans)
    root = fixture_spans[0]
    assert sum(got.values()) == pytest.approx(root.dur)
    assert got["queries"] == pytest.approx(
        sum(s.dur for s in fixture_spans if s.layer == "queries")
    )


def test_busy_ms_merges_overlaps_and_clips_to_window():
    iv = [(0, 10), (5, 15), (20, 30), (28, 29), (40, 50)]
    assert spans.busy_ms(iv, 0, 100) == 15 + 10 + 10
    assert spans.busy_ms(iv, 8, 45) == 7 + 10 + 5
    assert spans.busy_ms([], 0, 100) == 0


def test_tracer_nests_and_dumps(tmp_path):
    tr = spans.Tracer("t")
    with tr.span("outer", "pass"):
        with tr.span("inner", "queries"):
            pass
        with tr.span("inner2", "spark"):
            pass
    assert [(s.sid, s.parent) for s in tr.spans] == [(0, None), (1, 0), (2, 0)]
    assert all(s.end >= s.start for s in tr.spans)
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    back = [json.loads(line) for line in path.read_text().splitlines()]
    assert [b["name"] for b in back] == ["outer", "inner", "inner2"]
    assert {b["run_id"] for b in back} == {"t"}


def test_batch_id_from_streaming_job_description():
    job = spans.Job(1, "g", "ingest\nid = x\nrunId = y\nbatch = 7", [], "", 0)
    assert job.batch_id == 7
    assert spans.Job(2, None, "", [], "", 0).batch_id is None
