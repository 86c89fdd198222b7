"""Driver orchestrator — the ordered stage fold.

Mirrors ``Pipeline::execute`` (reference ``src/pipeline/mod.rs:52-119``):
stages run in fixed cheap-to-expensive order (P1 filter cascade), records
that resolve early (exact digests) short-circuit past similarity scoring
(the reference's early ``Duplicates`` termination, ``:92-95``), and every
stage output checkpoints through the Catalog so a killed run resumes at the
first stage whose checkpoint is missing or stale (F6 idempotence).

Each candidate pair costs one pass per stage: ``pairs`` carries both exact
digests of each side through the blocking self-joins, and ``scored`` makes
one Arrow crossing per pair after its payload joins. The ``scored`` step is
``score_candidates``; the streaming re-cluster
(``streaming.incremental.recluster_incremental``) runs it too, over pairs
built from the same carried digests (``EXACT_COLS``), band table and
exact-pair predicate — one dedup pair core for batch and streaming.

Stage graph::

    transcripts
      └─ canonicalize            (1 shuffle: groupBy conv_id)
           └─ signatures          (map-only: digests + minhash)
                ├─ exact edges    (1 shuffle: window over digest)        ─┐
                ├─ attribute blocking + salt + self-join ─┐               │
                └─ LSH band keys + salt + band self-join ─┴─ pairs        ├─ edges
                     (both carry the digests; drop exact pairs, distinct) │
                     └─ sketch joins → sketch filter → text joins         │
                          └─ one cascade kernel (shingle jaccard, bounds, │
                             Jaro-Winkler) → threshold                   ─┘
                               └─ connected components (iterative, ~2 shuffles/round)
                                    └─ clusters (+ singletons) → report
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from translink.blocking import band_hashes_expr, with_block_key, with_salt
from translink.candidates import candidate_pairs, lsh_candidate_pairs
from translink.canonicalize import canonicalize
from translink.catalog import Catalog
from translink.clustering import clusters_by_contraction
from translink.config import LinkConfig
from translink.report import elect_primary
from translink.scoring import edges as threshold_edges
from translink.scoring import score_pairs
from translink.signatures import with_exact_digest, with_minhash

#: Ordered stage names — checkpoint identities in the catalog manifest.
STAGES = ["canonical", "signed", "pairs", "scored", "clusters", "members"]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: LinkConfig | None = None,
    workdir: str | None = None,
    input_fingerprint: str = "",
    progress: bool | float = False,
) -> dict:
    """Run the full linkage pipeline; returns a dict with every stage's
    DataFrame plus ``timings`` (stage -> wall seconds).

    With ``workdir`` set, each stage persists via the Catalog and a rerun
    reuses any stage whose (config, input) fingerprint matches — delete the
    workdir (or pass a changed config) to force recompute.

    ``progress`` enables the live progress surface (translink.progress):
    True -> per-stage task progress lines every 10s on stderr, a number ->
    that polling interval; stage-boundary completion lines ride the same
    sink.
    """
    from translink.progress import make_reporter

    cfg = cfg or LinkConfig()
    cat = Catalog(spark, workdir) if workdir else None
    fp = cfg.fingerprint() + ":" + input_fingerprint
    timings: dict[str, float] = {}
    reporter = make_reporter(spark, progress)
    _stage = stage_runner(cat, fp, timings, reporter)

    with reporter:
        return _run_stages(transcripts, cfg, _stage, timings, cat)


def stage_runner(cat, fp: str, timings: dict, reporter):
    """The ONE checkpoint-or-resume stage discipline, shared by the dedup
    pipeline and ``linkage.run_link_pipeline``: with a catalog, a stage
    whose (config, input) fingerprint matches is read back instead of
    recomputed; without one, each stage still materializes once
    (block-manager checkpoint) because downstream stages consume every
    stage 2-3x and recomputing signature/scoring lineage per consumer
    would dominate the run."""

    def _stage(name: str, build) -> DataFrame:
        t0 = time.time()
        if cat is not None:
            if cat.has_stage(name, fp):
                df = cat.read_stage(name)
                timings[name] = 0.0  # resumed, not recomputed
                reporter.sink(f"[pipeline] stage {name}: resumed from checkpoint")
                return df
            df = cat.write_stage(name, build(), fp)
        else:
            df = build().localCheckpoint(eager=True)
        timings[name] = round(time.time() - t0, 3)
        reporter.sink(f"[pipeline] stage {name}: done in {timings[name]:.1f}s")
        return df

    return _stage


#: The exact digests every candidate pair carries through its blocking
#: join, per side: the 8-byte xxhash64 and the md5 as its 16 raw bytes.
EXACT_COLS = ["digest", "_md5"]


def with_exact_cols(signed: DataFrame) -> DataFrame:
    """``signed`` plus the carried md5 bytes (``_md5``)."""
    return signed.withColumn("_md5", F.unhex("digest_md5"))


def attr_block_keys(keyed: DataFrame, cfg: LinkConfig) -> DataFrame:
    """Attribute blocking (A1 analog) gated to short conversations
    (``cfg.attr_max_chars``), where shingle statistics are too thin for
    LSH; long conversations are covered by the LSH lane."""
    if cfg.attr_max_chars is not None:
        keyed = keyed.filter(F.col("total_chars") <= cfg.attr_max_chars)
    return with_block_key(keyed, cfg)


def exact_band_keys(keyed: DataFrame, cfg: LinkConfig) -> DataFrame:
    """LSH band blocking (A4 analog): ``lsh_band_keys``' explode, with the
    carried digests beside ``conv_id`` on every band row."""
    return keyed.select(
        "conv_id", *EXACT_COLS,
        F.posexplode(band_hashes_expr(cfg.lsh_bands, cfg.lsh_rows))
        .alias("band_id", "band_hash"),
    )


def exact_pair() -> F.Column:
    """A pair equal on BOTH carried digests — resolved on the exact path.

    It holds for exactly the pairs ``exact_edges`` links (digest AND
    digest_md5), so its complement is what gets scored: a pair that
    collides on the 64-bit xxhash64 alone is scored, never silently
    lost."""
    return (
        (F.col("digest_a") == F.col("digest_b"))
        & (F.col("_md5_a") == F.col("_md5_b"))
    )


def score_candidates(
    pairs: DataFrame, signed: DataFrame, cfg: LinkConfig
) -> DataFrame:
    """Score candidate ``(conv_id_a, conv_id_b)`` pairs — the ``scored``
    stage, shared by ``run_pipeline`` and the streaming re-cluster.

    Pair-side similarity runs as a cheap-to-expensive cascade (P1), and the
    JOINS follow it — canon_text only ships for pairs that pass the sketch
    filter:
      1. MinHash-sketch estimated jaccard with a conservative margin below
         the exact bound, over a 64-byte/side payload. It is a loose
         filter, not the main cut: on the `small` fixture 798 of 1,694
         candidate pairs pass it;
      2. text joins, then score_pairs(cascade=True): Levenshtein in the JVM
         projection under one mapInPandas kernel that reshingles each pair
         side, takes exact jaccard, applies both bounds and runs
         Jaro-Winkler for the survivors only.
    """
    from translink.scoring import jaccard_lower_bound

    # minhash_sketch packs one byte per position-scrambled signature
    # component (8 lanes per long): per-pair agreement = zero bytes of
    # the lane-wise XOR, counted with flat codegen arithmetic — no
    # array allocation, and 64 bytes per side through the join instead
    # of the 528-byte tagged array (the est join is the pipeline's
    # biggest shuffle; minhash values are incompressible, so bytes here
    # are pure memory/network bandwidth). A non-matching component
    # falsely agrees with p=1/256 per lane, so the sketch estimate is
    # >= the positional estimate: the prefilter only ever passes MORE
    # pairs — the thresholded edge set is unchanged.
    sk = signed.select("conv_id", F.col("minhash_sketch").alias("_sk"))
    k = cfg.num_hashes
    agree_terms = []
    for p in range(k // 8):
        x = F.element_at("_sk_a", p + 1).bitwiseXOR(F.element_at("_sk_b", p + 1))
        for j in range(8):
            lane = F.shiftrightunsigned(x, 8 * j).bitwiseAND(F.lit(255))
            agree_terms.append(F.when(lane == 0, 1).otherwise(0))
    est = sum(agree_terms[1:], agree_terms[0]) / k
    bound = jaccard_lower_bound(cfg)
    # margin = 3 sigma of the k-sample MinHash estimate at its
    # worst-case variance (sigma <= 0.5/sqrt(k), at j=0.5), SCALED
    # with the configured signature length — a fixed margin is <1
    # sigma at small valid k (e.g. k=8) and silently drops true
    # pairs; pairs the scaled margin drops are (p > 0.997) below the
    # exact bound anyway
    margin = 1.5 / (k ** 0.5)
    survivors = (
        pairs
        .join(sk.select(F.col("conv_id").alias("conv_id_a"),
                        F.col("_sk").alias("_sk_a")), "conv_id_a")
        .join(sk.select(F.col("conv_id").alias("conv_id_b"),
                        F.col("_sk").alias("_sk_b")), "conv_id_b")
        .filter(est >= max(0.0, bound - margin))
        .select("conv_id_a", "conv_id_b")
    )
    payload = signed.select("conv_id", "canon_text")
    enriched = (
        survivors
        .join(
            payload.select(
                F.col("conv_id").alias("conv_id_a"),
                F.col("canon_text").alias("canon_text_a"),
            ),
            "conv_id_a",
        )
        .join(
            payload.select(
                F.col("conv_id").alias("conv_id_b"),
                F.col("canon_text").alias("canon_text_b"),
            ),
            "conv_id_b",
        )
    )
    return score_pairs(enriched, cfg, cascade=True).select(
        "conv_id_a", "conv_id_b",
        "token_jaccard", "levenshtein_sim", "jaro_winkler", "score",
    )


def _run_stages(transcripts, cfg, _stage, timings, cat) -> dict:
    canonical = _stage("canonical", lambda: canonicalize(transcripts, cfg))
    signed = _stage(
        "signed",
        # repartition: signature cost is per-row CPU; spread it over the
        # session's full parallelism regardless of upstream byte sizes.
        # shingle_hashes are NOT computed/transferred here: the corpus-wide
        # column would be ~10x the minhash over the Arrow channel and is
        # only needed for prefilter survivors, for whom the scored stage
        # recomputes it (a few k rows, not the corpus)
        lambda: with_minhash(
            with_exact_digest(canonical), cfg,
            repartition=cfg.shuffle_partitions, include_shingles=False,
        ),
    )

    def _build_pairs() -> DataFrame:
        # Every lane carries both exact digests of each side through its
        # own self-join, so a pair already resolved on the exact path drops
        # before the one distinct, with no join back by id.
        keyed = with_exact_cols(signed)
        blocked = with_salt(
            attr_block_keys(keyed, cfg), ["block_key"], cfg,
            # sorted-neighborhood order: near-dups share a long text prefix
            # (one edit leaves the rest byte-identical), so text-sorted
            # chunks keep them together when a block overflows; comparisons
            # short-circuit at the first differing byte
            order_cols=["canon_text"],
        )
        attr_pairs = candidate_pairs(blocked, cfg, payload_cols=EXACT_COLS)
        bands = exact_band_keys(keyed, cfg)
        lsh_pairs = lsh_candidate_pairs(bands, cfg, payload_cols=EXACT_COLS)
        if cfg.use_meta_lane:
            from translink.metablocking import (
                cnp_prune, filter_blocks, meta_block_pairs, purge_blocks,
                shingle_block_keys,
            )

            # the purged key table feeds the lane's volume forecast and
            # meta_block_pairs, which reads it three times (per-node key
            # counts + both sides of the self-join): checkpoint it once so
            # the canonicalize/shingle/explode lineage runs a single time
            # (q_cluster_graph_stats discipline)
            meta_keys = purge_blocks(
                filter_blocks(shingle_block_keys(signed, cfg), cfg), cfg
            ).localCheckpoint(eager=True)
        if cfg.pair_budget is not None:
            # Pre-flight backpressure (T4 analog): price every lane's exact
            # self-join fan-out from block sizes alone and refuse to start
            # the O(pairs) work when a lane exceeds the budget. The LSH
            # forecast re-salts the band table (one extra window pass —
            # only paid when a budget is configured); the salted keys here
            # are byte-identical to lsh_candidate_pairs' own salting, so
            # the forecast equals the join's true row count.
            from translink.blocking import enforce_pair_budget, volume_forecast

            lanes_fc = [
                volume_forecast(blocked, ["block_key", "salt"], "attr"),
                volume_forecast(
                    with_salt(bands, ["band_id", "band_hash"], cfg),
                    ["band_id", "band_hash", "salt"], "lsh",
                ),
            ]
            if cfg.use_meta_lane:
                lanes_fc.append(volume_forecast(meta_keys, ["key"], "meta"))
            enforce_pair_budget(lanes_fc, cfg.pair_budget)
        pair_cols = ["conv_id_a", "conv_id_b",
                     *[f"{c}_{s}" for c in EXACT_COLS for s in "ab"]]
        lanes = [attr_pairs.select(*pair_cols), lsh_pairs.select(*pair_cols)]
        if cfg.use_meta_lane:
            # Opt-in lane 3: CNP-pruned shingle meta-blocking graph
            # (translink/metablocking.py) — recall insurance for pairs all
            # of whose MinHash bands miss (P[miss] is nonzero at any
            # band/row setting). Its pairs pick up both digests by id.
            meta = cnp_prune(meta_block_pairs(meta_keys, cfg), cfg)
            dig = keyed.select("conv_id", *EXACT_COLS)
            meta_pairs = meta.select("conv_id_a", "conv_id_b")
            for s in "ab":
                meta_pairs = meta_pairs.join(
                    dig.select(F.col("conv_id").alias(f"conv_id_{s}"),
                               *[F.col(c).alias(f"{c}_{s}") for c in EXACT_COLS]),
                    f"conv_id_{s}",
                )
            lanes.append(meta_pairs.select(*pair_cols))
        cand = lanes[0]
        for lane in lanes[1:]:
            cand = cand.union(lane)
        # Pairs equal on BOTH digests are resolved on the exact path —
        # exclude them from similarity scoring (the reference's early exit,
        # src/pipeline/mod.rs:92-95). Then one distinct over the ids,
        # however many lanes and bands emitted the pair.
        return (
            cand.filter(~exact_pair())
            .select("conv_id_a", "conv_id_b").distinct()
        )

    pairs = _stage("pairs", _build_pairs)

    scored = _stage("scored", lambda: score_candidates(pairs, signed, cfg))

    def _build_clusters() -> DataFrame:
        # exact-dup groups contract to their reps BEFORE the CC loop: the
        # dup mass (the bulk of the graph in a crawl corpus) never rides a
        # round's shuffle; label-identical to star-edges-into-the-loop
        sim_edges = threshold_edges(scored, cfg).select("src", "dst")
        return clusters_by_contraction(signed, sim_edges, cfg)

    clusters = _stage("clusters", _build_clusters)
    members = _stage("members", lambda: elect_primary(clusters, canonical))

    return {
        "canonical": canonical,
        "signed": signed,
        "pairs": pairs,
        "scored": scored,
        "clusters": clusters,
        "members": members,
        "timings": timings,
        "catalog": cat,
    }
