"""Stage 3 — candidate pair generation (broadcast-free self-join).

The reference compares records inside each hash bucket with an O(n^2) sweep
(``src/pipeline/stats.rs:296-326``). The Spark-native equivalent is an equi
self-join on the blocking key, executed sort-merge (never broadcast: the two
sides are the same table; the session pins autoBroadcastJoinThreshold=-1 and
we hint MERGE). Each unordered pair is emitted exactly once via
``a.conv_id < b.conv_id`` (J1/J2 in SURVEY §2.5).

Block sizes are pre-bounded by the salt (blocking.with_salt), so the join's
per-key fan-out — and therefore every shuffle partition's output — is capped
at max_block_size^2 regardless of input scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from translink.config import LinkConfig
from translink.blocking import with_salt


#: Columns carried to the scorer for each pair side.
PAIR_PAYLOAD = ["canon_text", "n_turns", "total_chars"]


def candidate_pairs(
    blocked: DataFrame,
    cfg: LinkConfig | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Self-join on ``(block_key, salt)`` -> one row per unordered candidate
    pair: ``conv_id_a < conv_id_b`` with each side's payload columns.

    Input must already carry ``block_key`` and ``salt``.
    """
    cfg = cfg or LinkConfig()
    payload_cols = payload_cols if payload_cols is not None else PAIR_PAYLOAD
    keep = ["conv_id", "block_key", "salt", *payload_cols]
    # Pin the self-join's partition count. AQE sizes reducer partitions by
    # INPUT bytes, but a blocked self-join fans out ~max_block_size× per
    # input row and the real cost sits in the per-pair projection downstream
    # (Levenshtein/Jaccard/JW) — byte-based coalescing starves that
    # projection of cores (measured at sf0.1: AQE coalesced the 4.3 MiB join
    # inputs to 2 partitions and a levenshtein pass over the 566k-pair
    # fan-out ran 98 s on a 32-core session; pinned it runs on all cores).
    # An explicit numPartitions marks the exchange user-specified, which AQE
    # coalescing leaves alone; the join reuses this exact partitioning
    # (ClusteredDistribution on the equi-keys), so no second exchange.
    left = blocked.select(*keep).repartition(
        cfg.shuffle_partitions, "block_key", "salt"
    )
    right = left
    joined = (
        left.alias("a")
        .hint("MERGE")
        .join(
            right.alias("b"),
            on=[
                F.col("a.block_key") == F.col("b.block_key"),
                F.col("a.salt") == F.col("b.salt"),
                F.col("a.conv_id") < F.col("b.conv_id"),
            ],
        )
    )
    cols = [
        F.col("a.conv_id").alias("conv_id_a"),
        F.col("b.conv_id").alias("conv_id_b"),
        F.col("a.block_key").alias("block_key"),
        # the pair's (shared) salt — free to emit, saves callers that need it
        # a second build of the salted table
        F.col("a.salt").alias("salt"),
    ]
    for c in payload_cols:
        cols.append(F.col(f"a.{c}").alias(f"{c}_a"))
        cols.append(F.col(f"b.{c}").alias(f"{c}_b"))
    return joined.select(*cols)


def lsh_candidate_pairs(
    band_keys: DataFrame,
    cfg: LinkConfig | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Candidate pairs from LSH band keys: the salted band self-join.

    ``band_keys`` is the exploded (conv_id, band_id, band_hash) table; each
    ``payload_cols`` column must already sit on it beside ``conv_id`` and
    rides the self-join as ``<col>_a``/``<col>_b``. There is no payload
    join-back by id and no per-pair aggregate: a pair that collides in
    several bands is emitted once per band, and the caller dedups the
    union of its lanes (one ``distinct`` on the ids), so keep the carried
    columns narrow. Band buckets are salt-bounded like attribute blocks.
    """
    cfg = cfg or LinkConfig()
    payload_cols = list(payload_cols or [])

    salted = with_salt(band_keys, ["band_id", "band_hash"], cfg)
    # same fan-out-aware pinning as candidate_pairs (see comment there)
    left = salted.select(
        "conv_id", "band_id", "band_hash", "salt", *payload_cols
    ).repartition(cfg.shuffle_partitions, "band_id", "band_hash", "salt")
    cols = [
        F.col("a.conv_id").alias("conv_id_a"),
        F.col("b.conv_id").alias("conv_id_b"),
    ]
    for c in payload_cols:
        cols.append(F.col(f"a.{c}").alias(f"{c}_a"))
        cols.append(F.col(f"b.{c}").alias(f"{c}_b"))
    return (
        left.alias("a")
        .hint("MERGE")
        .join(
            left.alias("b"),
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.salt") == F.col("b.salt"),
                F.col("a.conv_id") < F.col("b.conv_id"),
            ],
        )
        .select(*cols)
    )
