"""Spans recorded from outside the engine, and Spark stage attribution.

The benchmark opens a span around every public call it makes (setup,
each pass, each pipeline call, invalidate + resume, each streaming
micro-batch). Pipeline-stage spans are rebuilt from the ``timings`` dict
the pipelines return: stages run eagerly and in order, so stage k starts
where stage k-1 ended. Spark stages and jobs, read from the monitoring
REST API, become child spans of the deepest span whose window holds
their submission time. Nothing inside ``translink`` is touched.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.parse
import urllib.request
from datetime import datetime, timezone


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "attrs")

    def __init__(self, id, parent, name, start, end=None, attrs=None):
        self.id = id
        self.parent = parent
        self.name = name
        self.start = start
        self.end = end
        self.attrs = attrs or {}

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "start": self.start, "end": self.end, "attrs": self.attrs}


class Tracer:
    """In-memory span store. Times are epoch seconds (``time.time``), the
    clock Spark's REST API reports in."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._open: list[Span] = []

    def add(self, name, start, end, parent=None, **attrs) -> Span:
        span = Span(next(self._ids), parent, name, start, end, attrs)
        self.spans.append(span)
        return span

    def span(self, name: str, **attrs) -> "_Open":
        return _Open(self, name, attrs)

    def add_stage_spans(self, parent: Span, timings: dict) -> list[Span]:
        """Child spans of a pipeline call from its ``timings`` (ordered,
        eager stages; a resumed stage reads 0.0 and gets an empty span)."""
        out, t = [], parent.start
        for name, dur in timings.items():
            out.append(self.add(name, t, t + dur, parent.id))
            t += dur
        return out

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def ancestors(self, span: Span) -> list[Span]:
        by_id = {s.id: s for s in self.spans}
        out = []
        while span.parent is not None:
            span = by_id[span.parent]
            out.append(span)
        return out

    def dump(self) -> dict:
        kids = self.children()
        return {
            "trace_id": self.trace_id,
            "spans": [
                {**s.as_dict(), "self_s": self_time(s, kids.get(s.id, []))}
                for s in self.spans
            ],
            "self_time_s": self_time_by_name(self),
        }


class _Open:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        parent = self.tracer._open[-1].id if self.tracer._open else None
        self.span = self.tracer.add(self.name, time.time(), None, parent,
                                    **self.attrs)
        self.tracer._open.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.tracer._open.pop()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, kids: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    return span.duration - covered([(k.start, k.end) for k in kids],
                                   span.start, span.end)


def self_time_by_name(tracer: Tracer) -> dict[str, float]:
    """Self time summed per span name; Spark stage and job spans fold
    into one ``spark.stage`` / ``spark.job`` row each."""
    kids = tracer.children()
    out: dict[str, float] = {}
    for s in tracer.spans:
        out[s.name] = out.get(s.name, 0.0) + self_time(s, kids.get(s.id, []))
    return {k: round(v, 4) for k, v in sorted(out.items())}


def attribute(tracer: Tracer, items: list[dict], name: str) -> None:
    """Parent each Spark record (``start``/``end``/``metrics``) to the
    deepest span whose window holds its start: the layer it ran for."""
    depth = {s.id: len(tracer.ancestors(s)) for s in tracer.spans}
    hosts = [s for s in tracer.spans if s.end is not None
             and not s.name.startswith("spark.")]
    for it in items:
        best = None
        for s in hosts:
            if s.start <= it["start"] <= s.end and (
                best is None or depth[s.id] > depth[best.id]
                or (depth[s.id] == depth[best.id] and s.duration < best.duration)
            ):
                best = s
        tracer.add(name, it["start"], max(it["end"], it["start"]),
                   best.id if best else None, **it["metrics"])


def _epoch(ts: str | None) -> float | None:
    """Spark REST timestamps read ``2026-10-17T07:05:12.345GMT``."""
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Reader of Spark's monitoring REST API. Stages and jobs are fetched
    after each measured operation (the UI keeps only the most recent
    thousand) and de-duplicated by id."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = urllib.parse.urlsplit(sc.uiWebUrl)
        # the UI listens on every interface; talk to it over loopback
        self.base = (f"http://127.0.0.1:{url.port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.stages: dict[tuple, dict] = {}
        self.jobs: dict[int, dict] = {}
        self.busy_s = 0.0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def poll(self) -> None:
        t0 = time.perf_counter()
        for st in self._get("/stages?status=complete&withSummaries=true"
                            "&quantiles=0.5,1.0"):
            key = (st["stageId"], st["attemptId"])
            if key in self.stages:
                continue
            start, end = _epoch(st.get("submissionTime")), _epoch(
                st.get("completionTime"))
            if start is None or end is None:
                continue
            run_q = (st.get("taskMetricsDistributions") or {}).get(
                "executorRunTime") or [0.0, 0.0]
            self.stages[key] = {"start": start, "end": end, "metrics": {
                "stage_id": st["stageId"],
                "tasks": st.get("numCompleteTasks", 0),
                "run_s": st.get("executorRunTime", 0) / 1e3,
                "cpu_s": st.get("executorCpuTime", 0) / 1e9,
                "gc_s": st.get("jvmGcTime", 0) / 1e3,
                "shuffle_write_mb": st.get("shuffleWriteBytes", 0) / 1e6,
                "shuffle_read_mb": (st.get("shuffleRemoteBytesRead", 0)
                                    + st.get("shuffleLocalBytesRead", 0)) / 1e6,
                "spill_mb": st.get("diskBytesSpilled", 0) / 1e6,
                "task_p50_s": run_q[0] / 1e3,
                "task_max_s": run_q[-1] / 1e3,
            }}
        for job in self._get("/jobs?status=succeeded"):
            start, end = _epoch(job.get("submissionTime")), _epoch(
                job.get("completionTime"))
            if job["jobId"] in self.jobs or start is None or end is None:
                continue
            self.jobs[job["jobId"]] = {"start": start, "end": end,
                                       "metrics": {"job_id": job["jobId"]}}
        self.busy_s += time.perf_counter() - t0


def stream_listener(spark, tracer: Tracer):
    """A ``StreamingQueryListener`` that records one span per micro-batch.
    Events arrive asynchronously, so the caller parents the batch spans
    once the query has ended."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _BatchSpans(StreamingQueryListener):
        def __init__(self):
            self.terminated = 0
            self.batches: list[Span] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.strptime(
                p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
            ).replace(tzinfo=timezone.utc).timestamp()
            self.batches.append(tracer.add(
                "stream.batch", start, start + p.batchDuration / 1e3,
                None, batch_id=p.batchId, rows=p.numInputRows,
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    listener = _BatchSpans()
    spark.streams.addListener(listener)
    return listener
