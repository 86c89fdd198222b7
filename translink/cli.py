"""Command-line entry point — the analog of the reference's clap CLI
(``src/main.rs:23-57``): input, output, performance profile, format.

Ships via spark-submit (the primary file is ``scripts/submit_job.py`` —
spark-submit cannot run ``-m`` modules; ``scripts/make_pyfiles.py`` builds
the deterministic package zip)::

    spark-submit --py-files dist/translink.zip scripts/submit_job.py ...
    python -m translink.cli --input t.parquet --workdir work    # local

The profile presets mirror the reference's standard/high/ultra performance
modes (``src/main.rs:88-121``).
"""

from __future__ import annotations

import argparse
import json
import sys

from translink.config import PROFILES, LinkConfig
from translink.evaluate import pairwise_prf
from translink.pipeline import run_pipeline
from translink.report import cluster_report, elect_primary, global_stats, write_report
from translink.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="translink",
        description="PySpark record-linkage over conversation transcripts",
    )
    p.add_argument("--input", required=True,
                   help="transcripts parquet path (conv_id, turn_idx, role, text, tool, ts)")
    p.add_argument("--workdir", default=None,
                   help="checkpoint/lineage directory (enables resume)")
    p.add_argument("--output", default=None, help="report output path")
    p.add_argument("--format", choices=["json", "csv", "text"], default="json")
    p.add_argument("--mode", choices=["report", "remove", "interactive"],
                   default="report",
                   help="report: describe duplicate groups; remove: write "
                        "the deduplicated dataset (one primary per cluster) "
                        "to --output; interactive: confirm each group on the "
                        "console before dropping (reference OperationMode, "
                        "src/config.rs:41-47)")
    p.add_argument("--config", default=None,
                   help="YAML config file (translink.config.load_config)")
    p.add_argument("--profile", choices=sorted(PROFILES), default="standard")
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument("--min-turns", type=int, default=None)
    p.add_argument("--max-block-size", type=int, default=None)
    p.add_argument("--master", default=None,
                   help="spark master override (omit under spark-submit)")
    p.add_argument("--labels", default=None,
                   help="labeled-pairs parquet for F1 evaluation")
    p.add_argument("--link-b", default=None, metavar="PATH",
                   help="second transcripts parquet: run two-corpus record "
                        "linkage (--input is side A) instead of the dedup "
                        "pipeline; writes the match report to --output")
    p.add_argument("--link-model", choices=["blend", "fs", "meta"],
                   default="blend",
                   help="linkage scorer (linkage.run_link_pipeline "
                        "model): the engine's similarity blend, the "
                        "Fellegi-Sunter EM-fit posterior, or the "
                        "schema-free bipartite meta-blocking weight "
                        "(metablocking.link_meta_pairs)")
    p.add_argument("--progress", nargs="?", const=True, default=False,
                   type=float, metavar="SECONDS",
                   help="live per-stage progress lines on stderr (reference "
                        "src/utils/progress.rs); optional polling interval "
                        "in seconds (default 10)")
    return p


def config_from_args(args) -> LinkConfig:
    import dataclasses

    from translink.config import load_config

    # precedence (low -> high): profile preset, YAML file, TRANSLINK_* env,
    # explicit CLI flags — the reference's file-then-env order
    # (src/config.rs:64-105) with CLI on top.
    cfg = load_config(path=args.config, base=PROFILES[args.profile])
    overrides = {}
    if args.threshold is not None:
        overrides["threshold"] = args.threshold
    if args.min_turns is not None:
        overrides["min_turns"] = args.min_turns
    if args.max_block_size is not None:
        overrides["max_block_size"] = args.max_block_size
    cfg = dataclasses.replace(cfg, **overrides) if overrides else cfg
    return cfg.validate()


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = config_from_args(args)
    spark = get_spark(master=args.master,
                      shuffle_partitions=cfg.shuffle_partitions)
    transcripts = spark.read.parquet(args.input)
    if args.link_b:
        return _run_linkage(spark, transcripts, args, cfg)
    # Resume keys on input CONTENT (file listing + sizes + mtimes), not the
    # path string: overwriting the input at the same path must invalidate
    # checkpointed stages instead of silently returning stale clusters.
    from translink.catalog import input_content_fingerprint

    result = run_pipeline(
        spark, transcripts, cfg,
        workdir=args.workdir,
        input_fingerprint=input_content_fingerprint(spark, args.input),
        progress=args.progress,
    )
    members = result["members"]
    stats = global_stats(members)
    stats["timings_s"] = result["timings"]
    if args.labels:
        labels = spark.read.parquet(args.labels)
        stats["evaluation"] = pairwise_prf(labels, result["clusters"])
    if args.mode == "remove":
        if not args.output:
            raise SystemExit("--mode remove requires --output")
        from translink.report import deduplicate

        kept = deduplicate(members).select(
            "conv_id", "cluster_id", "n_turns", "total_chars", "max_ts"
        )
        kept.write.mode("overwrite").parquet(args.output)
        stats["output"] = args.output
        stats["kept"] = stats["n_clusters"]
    elif args.mode == "interactive":
        if not args.output:
            raise SystemExit("--mode interactive requires --output")
        from pyspark.sql import functions as F

        from translink.report import interactive_select

        drop = interactive_select(members)
        drop_df = spark.createDataFrame(
            [(c,) for c in drop] or [(None,)], "conv_id string"
        ).filter(F.col("conv_id").isNotNull())
        kept = members.join(drop_df, "conv_id", "left_anti").select(
            "conv_id", "cluster_id", "n_turns", "total_chars", "max_ts"
        )
        kept.write.mode("overwrite").parquet(args.output)
        stats["output"] = args.output
        stats["dropped"] = len(drop)
    elif args.output:
        write_report(members, args.output, fmt=args.format)
        stats["output"] = args.output
    else:
        cluster_report(members).orderBy("n_members", ascending=False).show(
            20, truncate=False
        )
    print(json.dumps(stats, default=str))
    return 0


def _run_linkage(spark, a_turns, args, cfg) -> int:
    """Two-corpus linkage entry (--link-b): match side A (--input) against
    side B, write/show the match report, print a one-line stats JSON —
    the CLI face of linkage.run_link_pipeline."""
    from pyspark.sql import functions as F

    from translink.catalog import input_content_fingerprint
    from translink.linkage import run_link_pipeline
    from translink.report import write_link_report

    b_turns = spark.read.parquet(args.link_b)
    # same resume discipline as the dedup path: with --workdir, every
    # linkage stage checkpoints under a (config, model, input-content)
    # fingerprint and a rerun resumes after the last completed stage
    fp = (
        input_content_fingerprint(spark, args.input)
        + "+" + input_content_fingerprint(spark, args.link_b)
    )
    result = run_link_pipeline(
        spark, a_turns, b_turns, cfg,
        workdir=args.workdir,
        input_fingerprint=fp,
        model=args.link_model,
        threshold=args.threshold,
        progress=args.progress,
    )
    sort_col = "match_weight" if args.link_model == "fs" else "score"
    # the frame feeds a count AND a write/show — run_link_pipeline has
    # already materialized it (catalog stage or localCheckpoint)
    matches = result["matches"]
    stats = {
        "model": args.link_model,
        "n_matches": matches.count(),
        "timings_s": result["timings"],
    }
    if args.output:
        write_link_report(matches, args.output, fmt=args.format,
                          sort_col=sort_col)
        stats["output"] = args.output
    else:
        matches.orderBy(F.col(sort_col).desc()).show(20, truncate=False)
    print(json.dumps(stats, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
