"""Attribution on a small recorded event log: a 60-document store built
by run() and one 3-id fetch, traced with one job group per span."""

import json
import os

import pytest

from perfbench.tracing import (CLOCK_TOLERANCE_S, Span, _interval_union,
                               attribute, read_event_log)

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def events():
    return read_event_log(os.path.join(FIX, "eventlog_small"))


@pytest.fixture(scope="module")
def spans():
    with open(os.path.join(FIX, "spans_small.json")) as f:
        return [Span(**s) for s in json.load(f)]


def test_counts_per_verb(events, spans):
    m, problems, excess = attribute(events, spans)
    assert problems == [f"{v}: no operation traced"
                        for v in ("scan", "append", "delete", "compact")]
    assert m["spark.run.jobs"] == 14
    assert m["spark.run.tasks"] == 17
    assert m["spark.fetch.jobs"] == 1
    assert m["udf.run.python_evals"] == 4
    assert m["udf.fetch.python_evals"] == 2
    assert m["io.fetch.bytes_read"] == 201803
    assert m["io.fetch.bytes_written"] == 0
    assert m["udf.fetch.to_python_bytes"] == 14632
    assert m["spark.fetch.failed_tasks"] == m["spark.run.failed_tasks"] == 0
    assert 0 <= excess <= CLOCK_TOLERANCE_S


def test_driver_plus_jobs_equals_span_wall(events, spans):
    m, _, _ = attribute(events, spans)
    for verb in ("run", "fetch"):
        wall = m[f"pipeline.{verb}.wall_s"]
        assert m[f"pipeline.{verb}.driver_s"] > 0
        assert (m[f"pipeline.{verb}.driver_s"] + m[f"spark.{verb}.job_wall_s"]
                == pytest.approx(wall, abs=CLOCK_TOLERANCE_S))


def test_run_phases_sum_to_the_run_span(events, spans):
    m, _, _ = attribute(events, spans)
    parts = sum(m[f"pipeline.run.{p}"] for p in (
        "learn_params_s", "learn_fsst_s", "stage_input_s", "waves_s"))
    assert parts == pytest.approx(m["pipeline.run.wall_s"])


def test_a_job_outside_its_span_is_reported(events, spans):
    early = [Span(**{**s.__dict__, "start": s.start + 0.5})
             if s.verb == "fetch" else s for s in spans]
    _, problems, excess = attribute(events, early)
    assert any("(fetch): driver_s + job_wall_s exceeds" in p
               for p in problems)
    assert excess > CLOCK_TOLERANCE_S


def test_interval_union():
    assert _interval_union([]) == 0.0
    assert _interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert _interval_union([(4, 5), (0, 1)]) == 2


def test_reads_zstd_logs(events, tmp_path):
    pa = pytest.importorskip("pyarrow")
    src = os.path.join(FIX, "eventlog_small", "events_1_fixture")
    rolled = tmp_path / "eventlog_v2_app" / "events_1_app.zstd"
    rolled.parent.mkdir()
    with open(src, "rb") as f, pa.CompressedOutputStream(
            str(rolled), "zstd") as out:
        out.write(f.read())
    assert read_event_log(str(tmp_path)) == events
