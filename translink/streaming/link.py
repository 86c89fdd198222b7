"""Streaming record linkage — new records matched on arrival.

The batch linkage (``translink.linkage``) answers "which B record is the
same entity as this A record" over two complete corpora. The streaming
version answers it AS B ARRIVES: a static reference corpus A (the
warehouse, yesterday's deduplicated export) and a landing directory of
B-side transcript drops; every micro-batch links its new conversations
against A and appends the resolved matches. Reference analog: the
streaming walker feeding the grouping stages one batch at a time
(``src/pipeline/streaming_hash.rs:132-202``) — here feeding a two-corpus
matcher instead of a dedup grouper.

Assignment semantics (documented, not hidden): the batch engine's greedy
mutual-best becomes FIRST-COME-FIRST-SERVED across batches — an A record
assigned in an earlier batch is never re-assigned, and a B conversation
is decided exactly once, on its first delivery (both via anti-joins
against the match store, sized by matches so far). Within one batch the
scoring and resolution ARE the batch core (``linkage._score_and_resolve``,
the one ``run_link_pipeline`` runs), so a corpus delivered as a single
drop produces exactly the batch result, scores included. The order
of drops can change WHICH of two competing matches wins — that is the
inherent price of deciding online; the alternative (deferring every
contested A) is the batch job, which this module does not replace.

Replay safety: each batch writes to its own ``batch_id=N`` partition with
dynamic overwrite, and the already-assigned anti-joins read only
partitions ``< N`` — a re-run of batch N (foreachBatch is at-least-once)
overwrites its own output instead of double-appending, and never sees its
own half-written matches as "taken".

Scale shape: the static side is prepped ONCE (canonicalize + block key +
shingles, persisted to the store as a catalog stage under the config
fingerprint, re-read per batch — no driver-held state, no broadcast);
per-batch cost is the batch's own blocking + the sparse A-candidate join,
and the anti-joins scan only the match store (|matches|, not |A|).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from translink.catalog import Catalog, hadoop_fs
from translink.config import LinkConfig
from translink.fellegi_sunter import FSParams
from translink.linkage import _score_and_resolve, prep_corpus as _prep
from translink.streaming.incremental import stream_transcript_dir

A_PREP = "link_a_prep"
MATCHES = "link_matches"
#: The match store's fixed schema (``batch_id`` is its partition column).
#: Reading with it runs no schema-inference job per micro-batch.
MATCH_SCHEMA = (
    "conv_id_a string, conv_id_b string, score double, batch_id long"
)


def prepare_reference(
    spark: SparkSession,
    a_turns: DataFrame,
    store_dir: str,
    cfg: LinkConfig | None = None,
) -> str:
    """Canonicalize + block + shingle the static A corpus once, persisted
    to ``store_dir`` as a catalog stage stamped with ``cfg.fingerprint()``
    so every micro-batch re-reads columnar parquet instead of re-running
    the A-side lineage. Returns the stage path."""
    cfg = cfg or LinkConfig()
    cat = Catalog(spark, store_dir)
    cat.write_stage(A_PREP, _prep(a_turns, cfg), cfg.fingerprint())
    return cat.stage_path(A_PREP)


def incremental_link(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    cfg: LinkConfig | None = None,
    threshold: float | None = None,
    available_now: bool = True,
    model: str = "blend",
    fs_params=None,
    min_match_prob: float = 0.95,
):
    """Link a stream of B-side transcript drops against the prepared A.

    ``prepare_reference`` must have run against ``store_dir`` first, with
    a config of the same fingerprint (engine version included): a store
    prepped otherwise raises ``ValueError`` before the stream starts.
    Drops must deliver whole conversations (the walker contract; for
    split/re-delivered conversations, assemble upstream with
    ``translink.streaming.assemble`` or the turn-store repair in
    ``translink.streaming.incremental``). Returns the StreamingQuery;
    with ``available_now`` it drains pending files then stops.

    ``model`` picks the scorer, with the same meaning as in
    ``linkage.run_link_pipeline``: ``"blend"`` ranks and thresholds on the
    similarity blend; ``"fs"`` on the Fellegi–Sunter match weight
    (``score`` in the match store then IS the weight), thresholded at
    the weight whose posterior equals ``min_match_prob``. FS parameters
    must be FIXED for a stream (``fs_params``, default ``FSParams()``,
    or pre-fit offline with ``fs_em_fit`` on a historical sample) — a
    per-batch EM re-fit would let the decision boundary drift between
    batches, making match decisions depend on arrival grouping.
    """
    if model not in ("blend", "fs"):
        raise ValueError(f"unknown link model: {model}")
    cfg = cfg or LinkConfig()
    params = fs_params or FSParams()
    cat = Catalog(spark, store_dir)
    fp = cfg.fingerprint()
    if not cat.has_stage(A_PREP, fp):
        found = cat.lineage().get(A_PREP, {}).get("fingerprint")
        held = (
            f"holds {A_PREP} without a recorded schema (written by an "
            f"older engine)" if found == fp else
            f"holds {A_PREP} with fingerprint {found!r}, this config's "
            f"is {fp!r}"
        )
        raise ValueError(
            f"reference store {store_dir!r} {held}: rerun prepare_reference"
        )
    matches_path = os.path.join(store_dir, MATCHES)
    stream = stream_transcript_dir(spark, landing_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        a_prep = cat.read_stage(A_PREP)
        b_prep = _prep(batch_df, cfg)
        prior = _read_matches_before(spark, store_dir, int(batch_id))
        if prior is not None:
            # first-come-first-served: taken A records and already-decided
            # B conversations never re-enter the assignment
            a_prep = a_prep.join(
                prior.select(F.col("conv_id_a").alias("conv_id")),
                "conv_id", "left_anti",
            )
            b_prep = b_prep.join(
                prior.select(F.col("conv_id_b").alias("conv_id")),
                "conv_id", "left_anti",
            )
        _, matches = _score_and_resolve(
            a_prep, b_prep, cfg, model, threshold, min_match_prob,
            fs_params=params, cols=["conv_id_a", "conv_id_b", "score"],
        )
        out = matches.withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        (
            out.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(matches_path)
        )

    writer = (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_matches_before(
    spark: SparkSession, store_dir: str, batch_id: int
) -> DataFrame | None:
    """Matches from strictly earlier batches (replay safety), or None on
    the first batch (match store not written yet). Existence is checked
    through the Hadoop FileSystem API, so a remote store works; every read
    error of an existing store propagates."""
    _, fs, path = hadoop_fs(spark, os.path.join(store_dir, MATCHES))
    if not fs.exists(path):
        return None
    m = read_match_store(spark, store_dir)
    return m.filter(F.col("batch_id") < F.lit(batch_id))


def read_match_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Every streamed match: (conv_id_a, conv_id_b, score, batch_id).
    One row per A and per B by construction (the per-batch anti-joins)."""
    return spark.read.schema(MATCH_SCHEMA).parquet(
        os.path.join(store_dir, MATCHES)
    )
