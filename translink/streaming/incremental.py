"""Structured-Streaming ingestion — the reference's pipelined streaming mode.

The reference processes files as the walker discovers them through bounded
mpsc channels with batch/timeout flushing (``src/pipeline/streaming.rs``,
``src/walker_hp.rs:175-232``). The Spark-native equivalent is a file-source
``readStream`` over the transcript landing directory with ``foreachBatch``:
each micro-batch canonicalizes + signs only the newly arrived conversations
and appends to the signature store, alongside the raw turns; full or
incremental re-clustering runs on the batch side from the store (T5: the
reference's terminal hash stage also defers global grouping to flush time).

Split conversations are handled at READ time: the store keeps the raw turns
of every batch, and ``read_signature_store`` detects conv_ids that arrived
across multiple batches and re-canonicalizes them from the turn store —
their per-batch partial signatures are discarded. No whole-conversation-
per-file drop convention is required for correctness.

Re-clustering a drop (``recluster_incremental``) builds its candidate pairs
with the batch pipeline's carried digests, band table and exact-pair
predicate, and scores them with the batch ``scored`` step itself
(``pipeline.score_candidates``): batch and streaming dedup share one pair
core.

``availableNow`` trigger = the reference's Flush/Shutdown drain semantics;
``maxFilesPerTrigger`` = its bounded channel capacity (backpressure, T4).
No event-time windows/watermarks are needed — the reference has none either
(SURVEY §2.9): its "streaming" is pipelined ingestion, not event-time logic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from translink.canonicalize import canonicalize
from translink.config import LinkConfig
from translink.signatures import with_exact_digest, with_minhash

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

SIGNATURES = "signatures"
TURNS = "turns"


def _signed(turns: DataFrame, cfg: LinkConfig) -> DataFrame:
    """Canonicalize and sign turns into the batch ``signed`` stage's
    columns (no corpus-wide ``shingle_hashes``: scoring reshingles each
    candidate pair side itself). No repartition: a micro-batch is small,
    and a ``shuffle_partitions``-way split would write that many files."""
    return with_minhash(
        with_exact_digest(canonicalize(turns, cfg)), cfg, include_shingles=False
    )


def stream_transcript_dir(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream of transcript rows from a landing directory of
    parquet drops (one file = one walker batch)."""
    return (
        spark.readStream
        .schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


def incremental_signatures(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    cfg: LinkConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 4,
):
    """Run the signature stages incrementally over a transcript stream.

    Each micro-batch appends (a) the raw turns and (b) the per-conversation
    signatures of the arriving rows to the store, both stamped with the
    batch id. Signatures of conversations split across batches are partial
    per batch — ``read_signature_store`` repairs them from the turn store.
    Returns the StreamingQuery; with ``available_now`` the call drains all
    pending files then stops (Flush/Shutdown semantics).
    ``max_files_per_trigger`` bounds each micro-batch (the reference's
    channel capacity / batch-size knob, ``src/main.rs:141-159``).
    """
    cfg = cfg or LinkConfig()
    os.makedirs(store_dir, exist_ok=True)
    stream = stream_transcript_dir(spark, landing_dir, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stamped = batch_df.withColumn(
            "_batch_id", F.lit(int(batch_id)).cast("long")
        )
        stamped.write.mode("append").parquet(os.path.join(store_dir, TURNS))
        (
            _signed(batch_df, cfg)
            .withColumn("_batch_id", F.lit(int(batch_id)).cast("long"))
            .write.mode("append").parquet(os.path.join(store_dir, SIGNATURES))
        )

    writer = (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_signature_store(
    spark: SparkSession, store_dir: str, cfg: LinkConfig | None = None
) -> DataFrame:
    """One complete signature row per conv_id from the append-only store.

    Conversations whose rows all landed in a single batch use their streamed
    signature directly. A conv_id that appears in MULTIPLE batches is
    re-canonicalized from the turn store; which turns count is governed by
    ``cfg.stream_redelivery``:

      - split/append delivery (later batches carry NEW turn_idx values):
        turns union, per-(conv_id, turn_idx) latest batch wins.
      - replacement re-delivery (the newest batch re-ships the WHOLE
        conversation, possibly with turns removed/redacted): the newest
        batch replaces earlier ones entirely — merge-only semantics cannot
        represent deletion, it would keep the stale turns.

    ``'auto'`` (default) classifies per conversation: the newest batch
    replaces iff it is a complete delivery (contains turn 0 and a contiguous
    turn range); ``'merge'``/``'replace'`` force one behavior. A producer
    whose PARTIAL deliveries can look complete — prefix-only corrections, or
    out-of-order fragments where the turn-0 fragment lands last — must set
    ``'merge'`` explicitly (and accept that deletion is then unrepresentable). The repair cost is proportional to the
    multi-batch conversations only, not the corpus.
    """
    cfg = cfg or LinkConfig()
    sig = spark.read.parquet(os.path.join(store_dir, SIGNATURES))
    multi = (
        sig.groupBy("conv_id")
        .agg(F.countDistinct("_batch_id").alias("_nb"))
        .filter(F.col("_nb") > 1)
        .select("conv_id")
    )
    clean = sig.join(multi, "conv_id", "left_anti").drop("_batch_id")
    turns = spark.read.parquet(os.path.join(store_dir, TURNS)).join(
        multi, "conv_id", "left_semi"
    )
    if cfg.stream_redelivery != "merge":
        last = turns.groupBy("conv_id").agg(F.max("_batch_id").alias("_last_b"))
        newest = turns.join(last, "conv_id").filter(
            F.col("_batch_id") == F.col("_last_b")
        )
        if cfg.stream_redelivery == "replace":
            replace_ids = last.select("conv_id")
        else:  # auto: newest batch is a complete (deletion-capable) delivery
            replace_ids = (
                newest.groupBy("conv_id")
                .agg(
                    F.min("turn_idx").alias("_mn"),
                    F.max("turn_idx").alias("_mx"),
                    F.countDistinct("turn_idx").alias("_nd"),
                )
                .filter((F.col("_mn") == 0) & (F.col("_nd") == F.col("_mx") + 1))
                .select("conv_id")
            )
        flagged = turns.join(last, "conv_id").join(
            replace_ids.withColumn("_replace", F.lit(True)), "conv_id", "left"
        )
        turns = flagged.filter(
            F.col("_replace").isNull() | (F.col("_batch_id") == F.col("_last_b"))
        ).drop("_last_b", "_replace")
    # latest batch wins per turn SLOT, keeping every row that batch shipped
    # for the slot: batch canonicalize keeps ALL rows sharing a turn_idx
    # (array_sort keeps duplicates), so picking one row here (the previous
    # row_number formulation) would diverge from a batch run over the same
    # delivery — and nondeterministically when the duplicates tie on
    # _batch_id but differ in text
    w = Window.partitionBy("conv_id", "turn_idx")
    merged_turns = (
        turns.withColumn("_lb", F.max("_batch_id").over(w))
        .filter(F.col("_batch_id") == F.col("_lb"))
        .drop("_lb", "_batch_id")
    )
    repaired = _signed(merged_turns, cfg)
    # project the streamed rows onto the signed columns: batches written
    # before signing dropped ``shingle_hashes`` still carry it, and which
    # file's schema Spark reads the directory with depends on file order
    return clean.select(*repaired.columns).unionByName(repaired)


def recluster_incremental(
    spark: SparkSession,
    signed: DataFrame,
    prev_clusters: DataFrame,
    new_ids: DataFrame,
    cfg: LinkConfig | None = None,
) -> DataFrame:
    """Re-cluster only the components affected by newly arrived/changed
    conversations (the reference re-groups at every flush,
    ``src/pipeline/streaming_hash.rs:132-202``; at 10^12-turn scale a full
    re-cluster per drop is not an option).

    ``signed``: the full signature store (old + new). ``prev_clusters``:
    (conv_id, cluster_id) of the previous run over the OLD corpus.
    ``new_ids``: (conv_id) of conversations new or changed since.

    Candidate generation is ASYMMETRIC — new signatures join against the
    full corpus on the blocking keys (attribute + LSH bands + exact digest),
    so the join size scales with the drop, not the corpus; because the new
    side is small, the asymmetric join needs no salt cap. Old-old pair
    scores are unchanged by construction, so their components are already
    correct in ``prev_clusters``; only components reachable from a new edge
    are re-solved with connected components. Labels are content-determined
    (component minimum conv_id).

    Equivalence contract: the result is byte-identical to a one-shot batch
    run over the merged corpus whenever no attribute/LSH block exceeds
    ``cfg.max_block_size`` (asserted in tests/test_streaming.py). It holds
    because the candidate pairs are scored by the batch pipeline's own
    ``scored`` step (``pipeline.score_candidates``, sketch prefilter
    included) and split off the exact path by the same carried digests
    and predicate. When a block overflows, batch mode salts it — a
    size-dependent partition that can drop different in-block pairs
    run-over-run — while the incremental path scores every new-touching
    pair in the block, so incremental recall is >= the salted batch run
    there.
    """
    from translink.clustering import connected_components
    from translink.pipeline import (
        EXACT_COLS, attr_block_keys, exact_band_keys, exact_pair,
        score_candidates, with_exact_cols,
    )
    from translink.scoring import edges

    cfg = cfg or LinkConfig()

    # -- candidate pairs touching at least one new conversation ----------
    keyed = with_exact_cols(signed)
    new_keyed = keyed.join(new_ids, "conv_id", "left_semi")

    def touching(block_keys, keys: list[str]) -> DataFrame:
        # every new row against every row sharing a key with it; both
        # sides carry their exact digests through the join
        side = ["conv_id", *EXACT_COLS]
        return (
            block_keys(new_keyed, cfg).alias("a")
            .hint("MERGE")
            .join(
                block_keys(keyed, cfg).alias("b"),
                on=[*(F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys),
                    F.col("a.conv_id") != F.col("b.conv_id")],
            )
            .select(*(F.col(f"{s}.{c}").alias(f"{c}_{s}")
                      for c in side for s in "ab"))
        )

    pairs = (
        touching(attr_block_keys, ["block_key"])
        .union(touching(exact_band_keys, ["band_id", "band_hash"]))
        .select(
            F.least("conv_id_a", "conv_id_b").alias("conv_id_a"),
            F.greatest("conv_id_a", "conv_id_b").alias("conv_id_b"),
            exact_pair().alias("_exact"),
        )
        .distinct()
    )
    # exact path: byte-equal new-old/new-new pairs become edges directly
    exact_new_edges = pairs.filter("_exact").select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )
    scored = score_candidates(
        pairs.filter(~F.col("_exact")).select("conv_id_a", "conv_id_b"),
        signed, cfg,
    )
    sim_new_edges = edges(scored, cfg).select("src", "dst")
    new_edges = exact_new_edges.union(sim_new_edges).localCheckpoint(eager=True)

    # -- affected components: previous clusters touching any new edge -----
    endpoints = (
        new_edges.select(F.col("src").alias("conv_id"))
        .union(new_edges.select(F.col("dst").alias("conv_id")))
        .distinct()
    )
    affected = (
        prev_clusters.join(endpoints, "conv_id", "left_semi")
        .select("cluster_id").distinct()
    )
    prev_affected = prev_clusters.join(affected, "cluster_id", "left_semi")
    prev_star = prev_affected.filter(
        F.col("conv_id") != F.col("cluster_id")
    ).select(F.col("cluster_id").alias("src"), F.col("conv_id").alias("dst"))
    comps = connected_components(new_edges.union(prev_star), cfg)

    untouched = prev_clusters.join(affected, "cluster_id", "left_anti")
    resolved_ids = comps.select("conv_id")
    singles = (
        signed.select("conv_id")
        .join(resolved_ids, "conv_id", "left_anti")
        .join(untouched.select("conv_id"), "conv_id", "left_anti")
        .select("conv_id", F.col("conv_id").alias("cluster_id"))
    )
    return untouched.unionByName(comps).unionByName(singles)
