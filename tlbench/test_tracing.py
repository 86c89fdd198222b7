"""Self-tests of the benchmark's span, self-time and attribution code.

    python3 -m pytest tlbench -q

The pure tests run in milliseconds; the last one runs the dedup pipeline
on the ``tiny`` fixture profile and checks the attribution against the
Spark stages the monitoring API reports.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tlbench.run import _stage_metrics  # noqa: E402
from tlbench.tracing import (  # noqa: E402
    Tracer, attribute, covered, self_time, self_time_by_name,
)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    # intervals reaching outside the window count only inside it
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    t = Tracer("t")
    root = t.add("pass", 0.0, 10.0)
    kids = [t.add("a", 1.0, 4.0, root.id), t.add("b", 3.0, 6.0, root.id)]
    assert self_time(root, kids) == pytest.approx(5.0)
    assert self_time(kids[0], []) == pytest.approx(3.0)


def test_stage_spans_follow_timings_in_order():
    t = Tracer("t")
    call = t.add("run_pipeline", 100.0, 110.0)
    spans = t.add_stage_spans(call, {"canonical": 1.5, "signed": 0.0,
                                     "pairs": 2.5})
    assert [(s.name, s.start, s.end) for s in spans] == [
        ("canonical", 100.0, 101.5), ("signed", 101.5, 101.5),
        ("pairs", 101.5, 104.0)]
    assert all(s.parent == call.id for s in spans)
    assert self_time(call, spans) == pytest.approx(6.0)


def test_attribute_picks_deepest_span_holding_the_start():
    t = Tracer("t")
    with t.span("pass") as p:
        pass
    p.start, p.end = 0.0, 10.0
    call = t.add("run_pipeline", 0.5, 9.5, p.id)
    scored, clusters = t.add_stage_spans(call, {"scored": 4.0, "clusters": 5.0})
    records = [
        {"start": 1.0, "end": 2.0, "metrics": {"cpu_s": 1.0}},
        {"start": 6.0, "end": 12.0, "metrics": {"cpu_s": 2.0}},
        {"start": 0.2, "end": 0.3, "metrics": {"cpu_s": 3.0}},
        {"start": 50.0, "end": 51.0, "metrics": {"cpu_s": 4.0}},
    ]
    attribute(t, records, "spark.stage")
    parents = {s.attrs["cpu_s"]: s.parent for s in t.spans
               if s.name == "spark.stage"}
    assert parents == {1.0: scored.id, 2.0: clusters.id, 3.0: p.id, 4.0: None}
    # a child running past its parent's end only covers the parent's window
    assert self_time(clusters, t.children()[clusters.id]) == pytest.approx(
        clusters.duration - (clusters.end - 6.0))


def test_self_time_by_name_sums_every_span_of_a_name():
    t = Tracer("t")
    for start in (0.0, 10.0):
        p = t.add("pass", start, start + 4.0)
        t.add("scored", start + 1.0, start + 2.0, p.id)
    assert self_time_by_name(t) == {"pass": 6.0, "scored": 2.0}


def test_stage_metrics_sum_and_skew():
    t = Tracer("t")
    st = t.add("pairs", 0.0, 3.0, None, rows_out=7)
    common = {"gc_s": 0.1, "shuffle_write_mb": 1.0, "shuffle_read_mb": 2.0,
              "spill_mb": 0.0}
    kids = [
        t.add("spark.stage", 0.1, 1.0, st.id, tasks=4, cpu_s=1.0,
              task_p50_s=0.5, task_max_s=2.0, **common),
        t.add("spark.stage", 1.0, 2.0, st.id, tasks=1, cpu_s=0.5,
              task_p50_s=0.0, task_max_s=9.0, **common),
        t.add("spark.job", 0.1, 2.0, st.id, job_id=3),
    ]
    m = _stage_metrics(st, kids)
    assert m["wall_s"] == 3.0 and m["rows_out"] == 7 and m["jobs"] == 1
    assert m["tasks"] == 5 and m["task_cpu_s"] == pytest.approx(1.5)
    assert m["shuffle_read_mb"] == pytest.approx(4.0)
    # single-task stages carry no skew
    assert m["task_skew"] == pytest.approx(4.0)


@pytest.fixture(scope="module")
def spark():
    from tlbench.run import PARTITIONS, SLOTS, _prepare_env
    from translink.session import get_spark

    _prepare_env()
    session = get_spark(master=f"local[{SLOTS}]", app_name="tlbench-selftest",
                        shuffle_partitions=PARTITIONS)
    yield session
    session.stop()


def test_tiny_pipeline_stages_attribute_to_pipeline_spans(spark):
    from translink import fixtures
    from translink.config import LinkConfig
    from translink.pipeline import STAGES, run_pipeline
    from tlbench.tracing import SparkRest

    rest = SparkRest(spark)
    df = fixtures.to_spark(spark, fixtures.generate("tiny", seed=42)[
        "transcripts"]).localCheckpoint(eager=True)
    rest.poll()
    before = set(rest.stages)
    t = Tracer("selftest")
    with t.span("pass") as p:
        res = run_pipeline(spark, df, LinkConfig(shuffle_partitions=4))
    call = t.add("run_pipeline", p.start, p.end, p.id)
    stages = t.add_stage_spans(call, res["timings"])
    assert [s.name for s in stages] == STAGES
    assert stages[-1].end <= p.end + 0.05
    rest.poll()
    fresh = [v for k, v in rest.stages.items() if k not in before]
    assert fresh, "the monitoring API reported no stages for the pass"
    attribute(t, fresh, "spark.stage")
    kids = t.children()
    owners = {s.parent for s in t.spans if s.name == "spark.stage"}
    by_id = {s.id: s.name for s in t.spans}
    # every Spark stage of the pass lands on a pipeline stage (or the pass
    # itself for the few ms between stages), never outside the trace
    assert owners <= {s.id for s in stages} | {p.id, call.id}
    assert {by_id[o] for o in owners} & {"pairs", "scored", "clusters"}
    assert sum(m["metrics"]["tasks"] for m in fresh) > 0
    on_stages = [k for s in stages for k in kids.get(s.id, [])]
    assert len(on_stages) >= 0.9 * len(fresh)
    # Spark work inside a stage leaves it less self time than wall time
    busy = [s for s in stages if kids.get(s.id)]
    assert all(self_time(s, kids[s.id]) < s.duration for s in busy)
    # the pass's self time plus its stages' spans account for its duration
    covered_by_stages = covered([(s.start, s.end) for s in stages],
                                p.start, p.end)
    assert covered_by_stages == pytest.approx(p.duration, abs=0.5)
