"""Streaming-vs-batch throughput + time-to-first-result (BASELINE.md parity).

The reference publishes a batch-vs-streaming table (1,200 vs 2,800 files/s,
8.3 s vs 0.1 s to first result; ``docs/STREAMING_WALKER.md:131-137``). This
harness measures the engine's analog on the same corpus and writes
BENCH/STREAMING.json (+ a markdown table to stdout for BENCH/STREAMING.md):

  - batch lane: one-shot canonicalize + sign over the full transcript
    table; first result == last result, so time-to-first == total wall.
  - streaming lane: the transcript table split into N parquet drops in a
    landing dir, drained by ``incremental_signatures`` (foreachBatch,
    ``availableNow``, ``maxFilesPerTrigger`` bounded) — time-to-first is
    the completion of the FIRST non-empty micro-batch, recorded by a
    ``StreamingQueryListener`` as its progress event arrives, while later
    drops are still queued.

Both lanes do identical per-row work (same canonicalize/minhash stages),
so the comparison isolates pipelining, exactly like the reference's table.
DRAM-weather bracket stamps ride along (memory-file discipline: this
host's bandwidth swings 10-100x between hours).

Usage: python scripts/bench_streaming.py [--sf-dir /root/testdata/sf0.1]
           [--drops 16] [--files-per-trigger 2] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.bench_membw import measure  # noqa: E402


class FirstResult(StreamingQueryListener):
    """Completion time (epoch seconds) of the first micro-batch that read
    rows, taken from its progress event: trigger start plus the batch's
    own duration. Unlike ``query.recentProgress``, which keeps only the
    last ~100 events, the listener sees every batch."""

    def __init__(self):
        self.done_at: float | None = None
        self.terminated = False

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if self.done_at is None and p.numInputRows > 0:
            start = datetime.strptime(
                p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
            ).replace(tzinfo=timezone.utc).timestamp()
            self.done_at = start + p.batchDuration / 1e3

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated = True


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--drops", type=int, default=16)
    ap.add_argument("--scale", type=int, default=1,
                    help="union N conv_id-disjoint copies of the derived "
                         "transcripts — shows time-to-first staying flat "
                         "while the batch wall grows with the corpus")
    ap.add_argument("--files-per-trigger", type=int, default=2)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--json-out",
                    default=os.path.join(REPO, "BENCH", "STREAMING.json"))
    args = ap.parse_args()

    membw_pre = round(measure(8, 128, 2), 2)

    from translink.config import LinkConfig
    from translink.canonicalize import canonicalize
    from translink.session import get_spark
    from translink.signatures import with_exact_digest, with_minhash
    from translink.streaming.incremental import incremental_signatures

    cfg = LinkConfig()
    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=max(32, 2 * args.cpus),
                      app_name="translink-stream-bench")
    # the transcripts table is derived from events exactly as the entry
    # file's queries derive it (same corpus every artifact measures)
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    turns = entrymod.derive_transcripts(spark, args.sf_dir)
    if args.scale > 1:
        base = turns
        copies = [base] + [
            base.withColumn("conv_id", F.concat(F.lit(f"v{i}_"), "conv_id"))
            for i in range(1, args.scale)
        ]
        turns = copies[0]
        for c in copies[1:]:
            turns = turns.unionByName(c)
    n_rows = turns.count()

    work = tempfile.mkdtemp(prefix="translink_stream_bench_")
    landing = os.path.join(work, "landing")
    try:
        # one parquet file per drop == one walker batch of the reference
        turns.repartition(args.drops).write.parquet(landing)

        # -- batch lane: results exist only when the whole pass finishes --
        t0 = time.time()
        # the stream's columns: the batch `signed` stage's, without the
        # corpus-wide shingle_hashes
        signed = with_minhash(
            with_exact_digest(
                canonicalize(spark.read.parquet(landing), cfg)), cfg,
            include_shingles=False)
        signed.write.mode("overwrite").parquet(os.path.join(work, "batch_out"))
        batch_wall = round(time.time() - t0, 3)

        # -- streaming lane: drain the same drops micro-batch-wise --------
        first = FirstResult()
        spark.streams.addListener(first)
        t0 = time.time()
        q = incremental_signatures(
            spark, landing,
            store_dir=os.path.join(work, "store"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            cfg=cfg, available_now=True,
            max_files_per_trigger=args.files_per_trigger,
        )
        # availableNow: the query stops by itself once every drop drained
        while q.isActive:
            q.awaitTermination(5)
        stream_wall = round(time.time() - t0, 3)
        # listener events arrive asynchronously: wait for the termination
        # event, after which every progress event has been delivered
        deadline = time.time() + 30
        while not first.terminated and time.time() < deadline:
            time.sleep(0.1)
        spark.streams.removeListener(first)
        # the first micro-batch that read rows has signatures on disk
        # while the remaining drops are still queued
        first_s = (first.done_at - t0) if first.done_at is not None else None
        time_to_first = round(first_s, 3) if first_s is not None else None
    finally:
        shutil.rmtree(work, ignore_errors=True)

    membw_post = round(measure(8, 128, 2), 2)
    out = {
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "drops": args.drops,
        "files_per_trigger": args.files_per_trigger,
        "turn_rows": n_rows,
        "batch": {
            "wall_s": batch_wall,
            "rows_per_s": round(n_rows / batch_wall, 1),
            "time_to_first_result_s": batch_wall,
        },
        "streaming": {
            "wall_s": stream_wall,
            "rows_per_s": round(n_rows / stream_wall, 1),
            "time_to_first_result_s": time_to_first,
        },
        "membw_stamps": {"pre": membw_pre, "post": membw_post},
    }
    os.makedirs(os.path.dirname(args.json_out), exist_ok=True)
    with open(args.json_out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, indent=1))
    print()
    print("| lane | wall (s) | turn rows/s | time to first result (s) |")
    print("|---|---|---|---|")
    print(f"| batch (one-shot) | {batch_wall} | "
          f"{out['batch']['rows_per_s']} | {batch_wall} |")
    print(f"| streaming (availableNow, {args.drops} drops) | {stream_wall} "
          f"| {out['streaming']['rows_per_s']} | {time_to_first} |")


if __name__ == "__main__":
    main()
