#!/usr/bin/env python3
"""translink benchmark: one workload per run, through the public entry
points only.

    python3 tlbench/run.py --workload dedup_mixed --seed 42 --seconds 8 --trace 0

Prints per-sample lines, then as the last line of stdout one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The traced
run also writes its spans and per-layer self time to
``.tlbench_work/trace-<workload>-<seed>.json``. See tlbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".tlbench_work")
CATALOG = os.path.join(WORK, "catalog")

WORKLOADS = ("dedup_mixed", "link_resume")
#: Task slots: one driver process, three local task threads. The cold pass
#: is bound by JIT compilation and code generation, not by slots: at 8.5k
#: turns it took the same 16-18 s on one, two or three. On a 4-vCPU host
#: the fourth is left to the compiler and GC threads.
SLOTS = min(3, len(os.sched_getaffinity(0)))
#: Shuffle partitions: one per task slot, since the inputs are a few MB.
PARTITIONS = SLOTS
#: Driver heap for local mode; the engine's 20g default does not fit a
#: shared 15 GB host and is far beyond what these inputs need.
DRIVER_MEM = "3g"
#: Generate + load repetitions behind the reported set-up time.
SETUP_REPS = 3
#: pair_f1 each pass must reach: the BASELINE gate. Both workloads score
#: labeled pairs at the shared blocking key, where both reach 1.0.
F1_GATE = {"dedup_mixed": 0.99, "link_resume": 0.99}
#: Stages recomputed after the simulated crash: the last one, so a resume
#: is the catalog's read path (manifest, fingerprints, read-back of every
#: earlier stage) plus one recomputed stage. About a second long, it fits
#: eight samples in a run; a crash that also drops ``clusters`` or
#: ``link_scored`` makes a 3 s resume that still sped up by a quarter over
#: the few that fit, so its median moved with how many did.
CRASHED = {"dedup_mixed": ("members",), "link_resume": ("link_matched",)}
#: Untimed resumes before the timed ones. Right after the cold pass the
#: JIT is still compiling the resume path, and the first two or three
#: resumes run up to a third slower than the ones after them.
WARMUP_RESUMES = 3

END_TO_END = {
    "setup_s": "s", "turns_per_s": "1/s", "turns_per_cpu_s": "1/s",
    "resume_s": "s", "pair_f1": "ratio",
}
STAGES = ("canonical", "signed", "pairs", "scored", "clusters", "members",
          "link_a_prep", "link_b_prep", "link_scored", "link_matched")
STAGE_SUFFIX = {
    "wall_s": "s", "task_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "tasks": "count",
    "task_skew": "ratio", "rows_out": "count",
}
EXTRA_LAYER = {
    "pairs.per_conv": "ratio", "scored.survival": "ratio",
    "scored.edge_yield": "ratio", "clusters.jobs": "count",
    "link_scored.match_yield": "ratio", "catalog.write_mb": "MB",
    "stream.batches": "count", "stream.first_result_s": "s",
    "stream.batch_p50_s": "s", "stream.batch_max_s": "s",
    "setup.session_s": "s", "setup.generate_s": "s", "setup.load_s": "s",
    "warmup_s": "s", "host.steal_s": "s", "host.loadavg": "count",
    # JVM heap growth moves it by a quarter between runs of one input, so
    # it is a per-layer reading, not a gated end-to-end metric
    "peak_rss_mb": "MB",
    "trace.overhead": "ratio",
    "input.turns": "count", "input.convs": "count", "input.a_turns": "count",
    "input.b_turns": "count", "input.exact_dup_share": "ratio",
    "input.near_dup_share": "ratio", "input.hot_key_size": "count",
    "input.drops": "count",
}
PER_LAYER = {
    **{f"{s}.{k}": u for s in STAGES for k, u in STAGE_SUFFIX.items()},
    **EXTRA_LAYER,
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run of one workload: set-up, warm-up, the timed window, the
    crash-resume, checks, and (traced) per-layer attribution."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from tlbench.procfs import RssSampler
        from tlbench.tracing import Tracer

        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.tracer = Tracer(f"{workload}-{seed}-{int(time.time())}")
        # only the traced run reports memory; the untraced one samples
        # none, so no /proc walk runs beside its timed work
        self.rss = RssSampler() if trace else None
        self.spark = self.rest = self.listener = None
        self.attempted = self.failed = 0
        self.samples: list[dict] = []
        self.expected: dict[str, int] = {}
        self.f1: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.trace_busy_s = 0.0
        self.peak_rss_mb = 0.0
        self.props: dict = {}

    # -- process lifetime --------------------------------------------------

    def start_session(self) -> float:
        from translink.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{SLOTS}]",
                               app_name="tlbench",
                               shuffle_partitions=PARTITIONS)
        if self.trace:
            from tlbench.tracing import SparkRest

            self.rest = SparkRest(self.spark)
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, end the Spark driver JVM (it exits when its stdin
        closes) and wait for every process this run started."""
        from tlbench.procfs import descendants

        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    # -- checks --------------------------------------------------------------

    def _check(self, kind: str, value: int) -> bool:
        """A result checksum must match every earlier pass of this run and
        every earlier run of this checkout on the same input."""
        path = os.path.join(WORK, "checksums.json")
        known = {}
        if os.path.exists(path):
            with open(path) as fh:
                known = json.load(fh)
        key = f"{self.workload}/{self.seed}/{self.props['digest']}/{kind}"
        want = self.expected.setdefault(kind, known.get(key, value))
        if key not in known:
            known[key] = value
            with open(path + ".tmp", "w") as fh:
                json.dump(known, fh, indent=1, sort_keys=True)
            os.replace(path + ".tmp", path)
        if value != want:
            print(f"[tlbench] {kind} checksum {value} != expected {want}",
                  file=sys.stderr)
        return value == want

    def judge(self, kind: str, df, cols: list[str], f1_of) -> tuple[bool, float]:
        """Check one result: its checksum, and the pair F1 against the gate.
        The F1 is scored on the first result of each kind only; a later
        result with the same checksum holds the same assignment, so the
        same F1."""
        from tlbench import workloads as wl

        ok = self._check(kind, wl.checksum(df, cols))
        if kind not in self.f1:
            self.f1[kind] = f1_of(df)
        f1 = self.f1[kind]
        return ok and f1 >= F1_GATE[self.workload], f1

    def op(self, name: str, fn, timed: bool = True) -> dict | None:
        """Run one operation. ``fn(span)`` returns ``(ok, sample)``, the
        sample holding its ``Meter`` reading of the engine call alone (the
        checks after it are not timed); a raise or a failed check counts as
        failed."""
        self.attempted += 1
        with self.tracer.span(name, timed=timed) as span:
            try:
                ok, sample = fn(span)
            except Exception:  # one failed operation must not end the run
                traceback.print_exc()
                ok, sample = False, {}
        span.attrs["ok"] = ok
        sample.update(op=name, timed=timed, ok=ok)
        self.samples.append(sample)
        print(json.dumps({"sample": sample}), flush=True)
        if not ok:
            self.failed += 1
            return None
        self._poll()
        return sample

    def _poll(self) -> None:
        if self.rest is not None:
            self.rest.poll()

    # -- workloads -----------------------------------------------------------

    def setup(self, build) -> dict:
        """Session start once, then ``SETUP_REPS`` x (generate, load); the
        last repetition's inputs are the ones measured."""
        with self.tracer.span("setup"):
            with self.tracer.span("session"):
                session_s = self.start_session()
            gen, load = [], []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                with self.tracer.span("generate"):
                    inputs = build["generate"]()
                t1 = time.perf_counter()
                with self.tracer.span("load"):
                    inputs.update(build["load"](inputs))
                gen.append(t1 - t0)
                load.append(time.perf_counter() - t1)
        self.layer.update({
            "setup.session_s": session_s,
            "setup.generate_s": _median(gen),
            "setup.load_s": _median(load),
        })
        self.setup_s = session_s + _median([g + l for g, l in zip(gen, load)])
        self._poll()
        return inputs

    def run_dedup(self) -> None:
        from tlbench.procfs import Meter
        from translink.config import LinkConfig
        from translink.evaluate import pairwise_prf
        from translink.fixtures import to_spark
        from translink.pipeline import run_pipeline
        from tlbench import workloads as wl

        cfg = LinkConfig(shuffle_partitions=PARTITIONS)

        def generate():
            pool = wl.generate(wl.DEDUP_PROFILE, self.seed)
            fx = wl.restrict(pool, wl.select_bases(pool["transcripts"],
                                                   wl.DEDUP_BASE))
            return {"fx": fx, "props": wl.input_properties(fx)}

        def load(inp):
            spark = self.spark
            return {
                "df": to_spark(spark, inp["fx"]["transcripts"])
                .localCheckpoint(eager=True),
                "labels": spark.createDataFrame(inp["fx"]["labeled_pairs"])
                .localCheckpoint(eager=True),
            }

        inp = self.setup({"generate": generate, "load": load})
        self.props = {**inp["props"], "a_turns": 0, "b_turns": 0, "drops": 0,
                      "digest": wl.digest(inp["fx"]["transcripts"])}
        turns = inp["props"]["turns"]

        def one_pass(span):
            t0 = time.time()
            with Meter() as m:
                res = run_pipeline(self.spark, inp["df"], cfg, workdir=CATALOG)
            call = self.tracer.add("run_pipeline", t0, time.time(), span.id)
            stages = self.tracer.add_stage_spans(call, res["timings"])
            ok, f1 = self.judge(
                "clusters", res["clusters"], ["conv_id", "cluster_id"],
                lambda df: pairwise_prf(inp["labels"], df)["f1"])
            if self.trace and ok and span.name == "pass":
                self._count_rows(stages, res, cfg)
            return ok, {"turns": turns, "pair_f1": f1, **m.reading()}

        self.measure(one_pass)

    def run_link(self) -> None:
        from tlbench.procfs import Meter
        from translink.config import LinkConfig
        from translink.evaluate import pairwise_prf
        from translink.fixtures import to_spark
        from translink.linkage import run_link_pipeline
        from translink.streaming.link import (
            incremental_link, prepare_reference, read_match_store,
        )
        from tlbench import workloads as wl

        cfg = LinkConfig(shuffle_partitions=PARTITIONS)
        landing = os.path.join(WORK, "landing")

        def generate():
            import pandas as pd

            pool = wl.generate(wl.LINK_PROFILE, self.seed)
            a, b, cross = wl.split_sides(pool)
            keep = wl.select_bases(pd.concat([a, b]), wl.LINK_BASE)
            sides = wl.restrict({"a": a, "b": b, "cross": cross}, keep)
            a, b, cross = sides["a"], sides["b"], sides["cross"]
            shutil.rmtree(landing, ignore_errors=True)
            wl.write_drops(b, landing)
            both = set(a["conv_id"]) | set(b["conv_id"])
            ec = pool["expected_clusters"]
            props = wl.input_properties({
                "transcripts": pd.concat([a, b]),
                "expected_clusters": ec[ec["conv_id"].isin(both)],
            })
            props.update(a_turns=len(a), b_turns=len(b), drops=wl.DROPS,
                         digest=wl.digest(pd.concat([a, b])))
            return {"a": a, "b": b, "cross": cross, "props": props}

        def load(inp):
            spark = self.spark
            return {
                "a_df": to_spark(spark, inp["a"]).localCheckpoint(eager=True),
                "b_df": to_spark(spark, inp["b"]).localCheckpoint(eager=True),
                "labels": spark.createDataFrame(inp["cross"])
                .localCheckpoint(eager=True),
            }

        inp = self.setup({"generate": generate, "load": load})
        self.props = inp["props"]
        turns = self.props["turns"]

        def judge(kind, matches):
            return self.judge(
                kind, matches, ["conv_id_a", "conv_id_b"],
                lambda df: pairwise_prf(inp["labels"],
                                        wl.match_clusters(df))["f1"])

        def stream(span):
            store = os.path.join(WORK, "store")
            ckpt = os.path.join(WORK, "stream_ckpt")
            for d in (store, ckpt):
                shutil.rmtree(d, ignore_errors=True)
            with Meter() as m:
                with self.tracer.span("prepare_reference"):
                    prepare_reference(self.spark, inp["a_df"], store, cfg)
                with self.tracer.span("incremental_link") as call:
                    incremental_link(self.spark, landing, store, ckpt,
                                     cfg).awaitTermination()
            if self.listener is not None:
                self._stream_layers(call)
            ok, f1 = judge("stream_matches", read_match_store(self.spark, store))
            return ok, {"turns": turns, "pair_f1": f1, **m.reading()}

        def link(span):
            t0 = time.time()
            with Meter() as m:
                res = run_link_pipeline(self.spark, inp["a_df"], inp["b_df"],
                                        cfg, workdir=CATALOG)
            call = self.tracer.add("run_link_pipeline", t0, time.time(),
                                   span.id)
            stages = self.tracer.add_stage_spans(call, res["timings"])
            ok, f1 = judge("matches", res["matches"])
            if self.trace and ok and span.name == "pass":
                self._count_rows(stages, res, cfg)
            return ok, {"turns": turns, "pair_f1": f1, **m.reading()}

        self.measure(link)
        if self.trace:
            # the streaming leg runs after the window, in the traced run
            # only: its per-batch numbers are per-layer readings, and it
            # would not fit the untraced run's budget
            from tlbench.tracing import stream_listener

            self.listener = stream_listener(self.spark, self.tracer)
            self.op("stream", stream, timed=False)

    def measure(self, run) -> None:
        """The timed pass, then crash-resumes: ``WARMUP_RESUMES`` to warm
        the resume path, then timed ones until ``seconds`` have elapsed.

        The timed pass is the cold job, the first in the JVM. A settled JVM
        takes about five passes, and the run budget cannot pay for them
        (see README), so every second after set-up is spent on timed work
        instead of on an untimed warm-up pass."""
        if self.rss:
            self.rss.reset()
        shutil.rmtree(CATALOG, ignore_errors=True)
        if self.op("pass", run) is None:
            return
        self.layer["catalog.write_mb"] = _du_mb(CATALOG)
        with self.tracer.span("warmup") as warm:
            for _ in range(WARMUP_RESUMES):
                self.crash_and_resume(run, timed=False)
        self.layer["warmup_s"] = warm.duration
        with self.tracer.span("window"):
            t0 = time.perf_counter()
            while True:
                self.crash_and_resume(run)
                if time.perf_counter() - t0 >= self.seconds:
                    break
        if self.rss:
            self.peak_rss_mb = self.rss.peak_mb

    def crash_and_resume(self, run, timed: bool = True) -> dict | None:
        """A simulated crash (the ``CRASHED`` stages' checkpoints dropped
        from the catalog manifest), then the rerun that recomputes them."""
        from translink.catalog import Catalog

        catalog = Catalog(self.spark, CATALOG)
        for stage in CRASHED[self.workload]:
            catalog.invalidate(stage)
        return self.op("resume", run, timed=timed)

    # -- per-layer attribution (traced run) ------------------------------------

    def _count_rows(self, stages, res, cfg) -> None:
        """Rows out of each stage of a timed pass, counted after the pass
        from the materialized stage outputs."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        frames = {"link_a_prep": "a_prep", "link_b_prep": "b_prep",
                  "link_scored": "scored", "link_matched": "matches"}
        for span in stages:
            df = res[frames.get(span.name, span.name)]
            span.attrs["rows_out"] = df.count()
            if span.name in ("scored", "link_scored"):
                span.attrs["edges"] = df.filter(
                    F.col("score") >= cfg.threshold).count()
        self.trace_busy_s += time.perf_counter() - t0

    def _stream_layers(self, call) -> None:
        t0 = time.perf_counter()
        deadline = time.time() + 30
        while self.listener.terminated < 1 and time.time() < deadline:
            time.sleep(0.1)
        for b in self.listener.batches:
            b.parent = call.id
        batches = [b for b in self.listener.batches if b.attrs["rows"] > 0]
        durs = [b.duration for b in batches]
        self.layer.update({
            "stream.batches": len(batches),
            "stream.first_result_s": (
                min(b.end for b in batches) - call.start if batches else 0.0),
            "stream.batch_p50_s": _median(durs),
            "stream.batch_max_s": max(durs, default=0.0),
        })
        self.trace_busy_s += time.perf_counter() - t0

    def per_layer(self) -> dict:
        from tlbench.tracing import attribute

        t0 = time.perf_counter()
        self.rest.poll()
        attribute(self.tracer, list(self.rest.stages.values()), "spark.stage")
        attribute(self.tracer, list(self.rest.jobs.values()), "spark.job")
        kids = self.tracer.children()
        timed = [s for s in self.tracer.spans if s.name == "pass"
                 and s.attrs["timed"] and s.attrs["ok"]]
        per_stage: dict[str, dict[str, list[float]]] = {}
        for p in timed:
            for call in kids.get(p.id, []):
                for st in kids.get(call.id, []):
                    m = _stage_metrics(st, kids.get(st.id, []))
                    for k, v in m.items():
                        per_stage.setdefault(st.name, {}).setdefault(
                            k, []).append(v)
        out = {name: 0.0 for name in PER_LAYER}
        for st, ms in per_stage.items():
            for k, vs in ms.items():
                if f"{st}.{k}" in out:
                    out[f"{st}.{k}"] = _median(vs)
        jobs = per_stage.get("clusters", {}).get("jobs")
        out["clusters.jobs"] = _median(jobs) if jobs else 0.0
        edges = {s: _median(per_stage.get(s, {}).get("edges", []))
                 for s in ("scored", "link_scored")}

        def ratio(a, b):
            return a / b if b else 0.0

        out["pairs.per_conv"] = ratio(out["pairs.rows_out"],
                                      out["signed.rows_out"])
        out["scored.survival"] = ratio(out["scored.rows_out"],
                                       out["pairs.rows_out"])
        out["scored.edge_yield"] = ratio(edges["scored"], out["scored.rows_out"])
        out["link_scored.match_yield"] = ratio(out["link_matched.rows_out"],
                                               out["link_scored.rows_out"])
        window = [x for x in self.samples if x["timed"] and x["ok"]]
        out.update({k: v for k, v in self.layer.items() if k in out})
        out["peak_rss_mb"] = self.peak_rss_mb
        out["host.steal_s"] = sum(x["steal_s"] for x in window)
        out["host.loadavg"] = _median([x["loadavg"] for x in window])
        out.update({f"input.{k}": v for k, v in self.props.items()
                    if f"input.{k}" in out})
        self.trace_busy_s += self.rest.busy_s + time.perf_counter() - t0
        out["trace.overhead"] = ratio(
            self.trace_busy_s, sum(x.get("wall_s", 0.0) for x in self.samples))
        return out

    def end_to_end(self) -> dict:
        passes = [x for x in self.samples if x["op"] == "pass" and x["timed"]
                  and x["ok"]]
        resumes = [x for x in self.samples if x["op"] == "resume"
                   and x["timed"] and x["ok"]]
        turns = passes[0]["turns"] if passes else 0
        return {
            "setup_s": self.setup_s,
            "turns_per_s": turns / _median([x["wall_s"] for x in passes])
            if passes else 0.0,
            "turns_per_cpu_s": turns / _median([x["cpu_s"] for x in passes])
            if passes else 0.0,
            "resume_s": _median([x["wall_s"] for x in resumes]),
            "pair_f1": _median([x["pair_f1"] for x in passes]),
        }

    def run(self) -> dict:
        with self.rss or contextlib.nullcontext():
            {"dedup_mixed": self.run_dedup,
             "link_resume": self.run_link}[self.workload]()
        print(json.dumps({"inputs": self.props}), flush=True)
        if self.trace:
            values, units = self.per_layer(), PER_LAYER
            dump = self.tracer.dump()
            path = os.path.join(
                WORK, f"trace-{self.workload}-{self.seed}.json")
            with open(path, "w") as fh:
                json.dump({**dump, "per_layer": values, "inputs": self.props,
                           "samples": self.samples}, fh, indent=1)
            print(f"[tlbench] trace written to {path}", file=sys.stderr)
            print(json.dumps({"self_time_s": dump["self_time_s"]}), flush=True)
        else:
            values, units = self.end_to_end(), END_TO_END
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()},
        }


def _stage_metrics(stage, kids) -> dict:
    """Per-layer numbers of one pipeline-stage span from the Spark stages
    and jobs attributed to it."""
    sparks = [k.attrs for k in kids if k.name == "spark.stage"]
    skews = [s["task_max_s"] / max(s["task_p50_s"], 1e-3)
             for s in sparks if s["tasks"] > 1]
    m = {
        "wall_s": stage.duration,
        "task_cpu_s": sum(s["cpu_s"] for s in sparks),
        "gc_s": sum(s["gc_s"] for s in sparks),
        "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in sparks),
        "shuffle_read_mb": sum(s["shuffle_read_mb"] for s in sparks),
        "spill_mb": sum(s["spill_mb"] for s in sparks),
        "tasks": sum(s["tasks"] for s in sparks),
        "task_skew": max(skews, default=0.0),
        "jobs": sum(1 for k in kids if k.name == "spark.job"),
    }
    for k in ("rows_out", "edges"):
        if k in stage.attrs:
            m[k] = stage.attrs[k]
    return m


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python UDF workers import the engine from it."""
    for sub in ("catalog", "store", "stream_ckpt", "landing", "spark-local",
                "tmp"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "TRANSLINK_LOCAL_DIR": local,
        "TRANSLINK_DRIVER_MEM": DRIVER_MEM,
        "TRANSLINK_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
    })


def main(argv=None) -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import translink
    except ImportError as exc:
        print(f"[tlbench] cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(translink.__file__).startswith(ROOT + os.sep):
        print(f"[tlbench] the engine imported from {translink.__file__}, "
              f"not from the checkout at {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    _prepare_env()
    os.chdir(WORK)  # Spark's warehouse and metastore dirs land here
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        t1 = time.perf_counter()
        bench.close()
    print(f"[tlbench] measured {t1 - t0:.1f}s, stopped in "
          f"{time.perf_counter() - t1:.1f}s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
