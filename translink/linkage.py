"""Two-corpus record linkage (A-vs-B matching, no self-pairs).

The dedup pipeline's self-join answers "which records in THIS corpus are
the same entity"; classic record linkage asks the cross-corpus version:
"which record in corpus B is the same entity as this record in corpus A"
(a re-delivered export vs the warehouse, yesterday's crawl vs today's, two
vendors' transcript dumps). The reference's grouping machinery
(``src/pipeline/streaming_hash.rs:132-202``) only ever sees one corpus;
this module generalizes the same blocking + scoring stack to two, then
resolves scored pairs to a one-to-one assignment instead of transitive
clusters.

Scale shape (identical discipline to the dedup path):
  - both corpora are tagged and unioned, and ONE salt window over the
    union bounds every block by the COMBINED population — a hot key that
    is small in A but huge in B is still capped at ``max_block_size``
    (overflow observable via ``blocking.oversized_blocks`` on the salted
    union like any other salted table).
  - the A×B pair join is the same broadcast-free sort-merge self-join as
    ``candidates.candidate_pairs``: the side tags order ``'a' < 'b'``, so
    ``a._side < b._side`` plays the role the dedup path's
    ``conv_id_a < conv_id_b`` plays — a two-sided join predicate that
    keeps both join subtrees byte-identical (one exchange, reused) while
    emitting each cross-corpus pair exactly once and no within-corpus
    pairs at all.
  - match resolution is two window ranks (greedy mutual-best), never an
    iterative auction: cost is two shuffles over the THRESHOLDED pair
    set, which blocking keeps sparse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from translink.blocking import with_block_key, with_salt
from translink.config import LinkConfig
from translink.scoring import score_pairs

#: Columns carried to the scorer for each pair side (matches
#: candidates.PAIR_PAYLOAD so score_pairs composes unchanged).
LINK_PAYLOAD = ["canon_text", "n_turns", "total_chars"]


def link_candidate_pairs(
    a: DataFrame,
    b: DataFrame,
    cfg: LinkConfig | None = None,
    payload_cols: list[str] | None = None,
    id_col: str = "conv_id",
) -> DataFrame:
    """A×B candidate pairs across two blocked corpora.

    Inputs carry ``id_col``, ``block_key`` and the payload columns (i.e.
    the output of ``with_block_key`` over each side — NOT yet salted: the
    salt must be computed over the union, see module docstring). Ids may
    collide across corpora — the salt's deterministic ordering key ends
    with ``(id, side)``, total even when the same id appears on both sides.

    Output: one row per (A-record, B-record) sharing ``(block_key,
    salt)``: ``{id}_a, {id}_b, block_key, salt`` plus ``{col}_a/{col}_b``
    for each payload column. Pairs split across salt sub-blocks of an
    oversized block are sacrificed — the engine's standard bounded-skew
    trade, same contract as the dedup self-join.
    """
    cfg = cfg or LinkConfig()
    payload_cols = payload_cols if payload_cols is not None else LINK_PAYLOAD
    keep = [id_col, "block_key", *payload_cols]
    tagged = (
        a.select(*keep).withColumn("_side", F.lit("a"))
        .unionByName(b.select(*keep).withColumn("_side", F.lit("b")))
        .withColumn("_sid", F.concat_ws("#", "_side", id_col))
    )
    # one content key only: canon_text when carried, else the length proxy
    # (NOT both — a capped/cleaned canon_text can tie where total_chars
    # differs, and a second order key would fork the chunk assignment from
    # the ANSI-SQL twin, which tiebreaks straight to the id)
    order = ["canon_text"] if "canon_text" in tagged.columns else (
        ["total_chars"] if "total_chars" in tagged.columns else []
    )
    salted = with_salt(
        tagged, ["block_key"], cfg, id_col="_sid",
        # sorted-neighborhood chunk order: text first (cross-corpus matches
        # share a long byte-identical prefix), then id, side last — ordering
        # by side first (the old ``_sid`` key) would segregate the corpora
        # into different chunks and sacrifice exactly the A-x-B pairs the
        # linkage exists to find
        order_cols=[*order, id_col, "_side"],
    ).repartition(
        # fan-out-aware partition pinning — see candidates.candidate_pairs
        cfg.shuffle_partitions, "block_key", "salt"
    )
    if cfg.pair_budget is not None:
        # same pre-flight backpressure as run_pipeline's dedup lanes: price
        # the exact A×B fan-out (cross-side products per salted block) from
        # block sizes alone and refuse before the join materializes a pair
        from translink.blocking import (
            bipartite_volume_forecast, enforce_pair_budget,
        )

        enforce_pair_budget(
            [bipartite_volume_forecast(
                salted, ["block_key", "salt"], "link")],
            cfg.pair_budget,
        )
    joined = (
        salted.alias("a")
        .hint("MERGE")
        .join(
            salted.alias("b"),
            on=[
                F.col("a.block_key") == F.col("b.block_key"),
                F.col("a.salt") == F.col("b.salt"),
                # two-sided predicate (not pushable to either input), so
                # both join subtrees stay identical -> one exchange,
                # reused; emits exactly the A-side x B-side cross pairs
                F.col("a._side") < F.col("b._side"),
            ],
        )
    )
    cols = [
        F.col(f"a.{id_col}").alias(f"{id_col}_a"),
        F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        F.col("a.block_key").alias("block_key"),
        F.col("a.salt").alias("salt"),
    ]
    for c in payload_cols:
        cols.append(F.col(f"a.{c}").alias(f"{c}_a"))
        cols.append(F.col(f"b.{c}").alias(f"{c}_b"))
    return joined.select(*cols)


def mutual_best_matches(
    scored: DataFrame,
    cfg: LinkConfig | None = None,
    threshold: float | None = None,
    id_col: str = "conv_id",
) -> DataFrame:
    """Resolve scored cross-corpus pairs to a one-to-one match set.

    Greedy mutual-best in two deterministic window ranks: (1) each A
    record keeps only its best-scoring B candidate (ties -> smallest B
    id); (2) each B record keeps only its best surviving A suitor (ties
    -> smallest A id). Every A and every B appears at most once in the
    result. This is the standard greedy approximation of optimal
    one-to-one assignment — linear in the pair set, no iterative
    auction/Hungarian pass, and exactly reproducible in ANSI SQL (two
    ``row_number`` QUALIFYs), which an iterative assignment is not.

    Pairs below ``threshold`` (default ``cfg.threshold``) never match.

    Plan note: the rank runs BEFORE the threshold filter (equivalent for
    ``row_number() = 1``: a side's best-above-threshold candidate IS its
    global best whenever any candidate clears the threshold, under the
    identical (score, id) ordering). Filtering first lets Catalyst push
    ``score >= thr`` into the candidate join as a join condition, where
    the full blend — Levenshtein + array Jaccard — is re-evaluated in
    the interpreted per-row join loop instead of the codegen'd
    projection: measured 2.2× the whole query's wall at sf0.01. The
    window is a pushdown barrier (the predicate is not over the
    partition key), so the blend is evaluated exactly once, map-side,
    in codegen.
    """
    cfg = cfg or LinkConfig()
    thr = cfg.threshold if threshold is None else threshold
    a, b = f"{id_col}_a", f"{id_col}_b"
    wa = Window.partitionBy(a).orderBy(F.col("score").desc(), F.col(b).asc())
    best_a = (
        scored.withColumn("_rk", F.row_number().over(wa))
        .filter((F.col("_rk") == 1) & (F.col("score") >= F.lit(float(thr))))
        .drop("_rk")
    )
    wb = Window.partitionBy(b).orderBy(F.col("score").desc(), F.col(a).asc())
    return (
        best_a.withColumn("_rk", F.row_number().over(wb))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def unlinkable_records(
    a_records: DataFrame,
    scored: DataFrame,
    cfg: LinkConfig | None = None,
    threshold: float | None = None,
    id_col: str = "conv_id",
) -> DataFrame:
    """A-side records the linkage cannot match — the coverage diagnostic.

    A record is unlinkable when it has NO candidate pair at all (blocking
    never collided it with any B record) or its best-scoring candidate
    falls below ``threshold`` (default ``cfg.threshold``). Public linkage
    engines ship this as the "unlinkables" analysis: the fraction of the
    corpus that cannot be linked at a given threshold bounds achievable
    recall BEFORE any model tuning, and separates blocking misses
    (``n_candidates = 0`` — fix the blocking keys) from scoring misses
    (``best_score < threshold`` — fix the comparison or the threshold).

    Scale shape: one aggregate over the SPARSE scored pair set (grouped by
    the A-side id), one key join back to the A corpus — no new pair
    generation, no window, nothing quadratic. ``best_score`` is a MAX
    (accumulation-order-free), so the column is exactly reproducible in
    ANSI SQL over the same pair scores.

    Returns ``({id}_a, n_candidates, best_score)`` — ``best_score`` NULL
    and ``n_candidates = 0`` for blocking misses.
    """
    cfg = cfg or LinkConfig()
    thr = cfg.threshold if threshold is None else threshold
    a = f"{id_col}_a"
    best = scored.groupBy(a).agg(
        F.count("*").alias("n_candidates"),
        F.max("score").alias("best_score"),
    )
    return (
        a_records.select(F.col(id_col).alias(a))
        .join(best, a, "left")
        .filter(
            F.col("best_score").isNull()
            | (F.col("best_score") < F.lit(float(thr)))
        )
        .select(
            a,
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long"))
            .alias("n_candidates"),
            "best_score",
        )
    )


def prep_corpus(turns: DataFrame, cfg: LinkConfig | None = None) -> DataFrame:
    """Canonicalize + block-key + shingles for one linkage side — the one
    side-prep format, used by ``run_link_pipeline``,
    ``streaming.link`` (the reference side and every micro-batch) and the
    driver's linkage and dedup-pair queries; ``total_chars`` rides along
    for the FS comparison vectors.

    ``shingles`` is ``array<bigint>``: deduped 64-bit hashes of the word
    ``cfg.shingle_size``-grams from ``make_shingle_udf``, the kernel the
    dedup scorer uses (set sizes, and so ``jaccard_from_arrays``, equal the
    string shingles of ``shingles_expr``). The canonical rows are first
    repartitioned to ``cfg.shuffle_partitions`` by ``conv_id``: the kernel
    is per-row CPU, and canonicalize's small post-``groupBy`` shuffle is
    otherwise coalesced by AQE onto one task. A fixed-count repartition is
    never coalesced (same reasoning as ``with_minhash(repartition=...)``).
    """
    from translink.canonicalize import canonicalize
    from translink.signatures import make_shingle_udf

    cfg = cfg or LinkConfig()
    c = with_block_key(canonicalize(turns, cfg), cfg).repartition(
        cfg.shuffle_partitions, "conv_id"
    )
    return c.select(
        "conv_id", "block_key", "canon_text", "total_chars",
        make_shingle_udf(cfg.shingle_size)(F.col("canon_text"))
        .alias("shingles"),
    )


def _score_and_resolve(
    a_prep: DataFrame,
    b_prep: DataFrame,
    cfg: LinkConfig,
    model: str,
    threshold: float | None = None,
    min_match_prob: float = 0.95,
    fs_params=None,
    stage=None,
    cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The A×B core shared by ``run_link_pipeline`` and
    ``streaming.link.incremental_link``: candidate pairs and scoring, the
    model's ranking ``score`` + threshold + report columns, then
    mutual-best resolution. Returns ``(scored, matches)``.

    ``stage(name, build)`` wraps the ``link_scored`` and ``link_matched``
    steps (the batch path's catalog stages; ``build()`` when None).
    ``fs_params`` fixes the Fellegi–Sunter model; None fits it by EM over
    the scored stage. ``cols`` overrides the model's match columns.
    """
    stage = stage or (lambda _name, build: build())
    if model == "meta":
        from translink.metablocking import link_meta_pairs, shingle_block_keys

        scored = stage(
            "link_scored",
            lambda: link_meta_pairs(
                shingle_block_keys(a_prep, cfg),
                shingle_block_keys(b_prep, cfg),
                cfg,
            ).withColumnRenamed("weight", "score"),
        )
        ranked, thr = scored, threshold
        keep = ["conv_id_a", "conv_id_b", "common_keys", "score"]
    else:
        scored = stage(
            "link_scored",
            lambda: score_pairs(
                link_candidate_pairs(
                    a_prep, b_prep, cfg,
                    payload_cols=["canon_text", "shingles", "total_chars"],
                ),
                cfg,
                include_jaro_winkler=(model == "blend"),
            ),
        )
        if model == "fs":
            from translink.fellegi_sunter import (
                comparison_vectors, fs_em_fit, fs_posterior_literal_expr,
                fs_weight_expr, fs_weight_threshold,
            )

            gammas = comparison_vectors(scored, cfg)
            params = (
                fs_em_fit(gammas) if fs_params is None else fs_params
            )
            ranked = (
                gammas.withColumn("match_weight", fs_weight_expr(params))
                .withColumn("match_prob", fs_posterior_literal_expr(params))
                .withColumn("score", F.col("match_weight"))
            )
            thr = fs_weight_threshold(min_match_prob, params)
            keep = ["conv_id_a", "conv_id_b", "match_weight", "match_prob"]
        else:
            ranked, thr = scored, threshold
            keep = ["conv_id_a", "conv_id_b", "token_jaccard",
                    "levenshtein_sim", "score"]
    matches = stage(
        "link_matched",
        lambda: mutual_best_matches(ranked, cfg, threshold=thr)
        .select(*(cols or keep)),
    )
    return scored, matches


def run_link_pipeline(
    spark,
    a_turns: DataFrame,
    b_turns: DataFrame,
    cfg: LinkConfig | None = None,
    workdir: str | None = None,
    input_fingerprint: str = "",
    model: str = "blend",
    threshold: float | None = None,
    min_match_prob: float = 0.95,
    progress: bool | float = False,
) -> dict:
    """Resumable two-corpus linkage — the linkage entry point, under the
    same checkpoint/lineage discipline as ``pipeline.run_pipeline``.

    Canonicalize each side, block on the shared attribute key, shingle
    once per record, generate salted A×B candidates, score, and resolve
    to one-to-one matches (``_score_and_resolve``, the core the streaming
    linkage shares). With ``workdir`` set, each stage (both side preps,
    the scored A×B pair set, the resolved matches) persists via the
    Catalog with the (config, model, input) fingerprint and per-partition
    lineage; a rerun resumes any stage whose fingerprint matches, so a
    failed or interrupted linkage job picks up after its last completed
    stage — including the expensive scored-pair stage.

    ``model="blend"`` scores with the similarity blend (Jaro-Winkler
    included) and ``threshold`` (default ``cfg.threshold``); matches are
    ``(conv_id_a, conv_id_b, token_jaccard, levenshtein_sim, score)``.
    ``"fs"`` scores with the Fellegi–Sunter EM posterior (ranking on the
    match weight, keeping pairs whose posterior is at least
    ``min_match_prob``; the EM itself is deterministic driver arithmetic
    over the checkpointed scored stage, so resume cannot change the fit);
    matches are ``(conv_id_a, conv_id_b, match_weight, match_prob)``.
    ``"meta"`` scores with the bipartite meta-blocking key-set Jaccard
    weight (translink/metablocking.py — schema-free: co-occurrence
    evidence over combined-purged shingle blocks, no pairwise text
    scorer; the cheapest lane, and the fallback when the corpora's
    attribute keys do not align).

    Random-u calibration and term-frequency adjustment compose on the
    returned ``scored`` frame: ``fs_em_fit(comparison_vectors(scored),
    fixed_u=fs_u_from_random_pairs(a_prep, b_prep))`` and
    ``fs_score_tf(..., prefix_tf(a_prep.unionByName(b_prep)), ...)``.

    Returns ``{a_prep, b_prep, scored, matches, timings}``.
    """
    from translink.catalog import Catalog
    from translink.pipeline import stage_runner
    from translink.progress import make_reporter

    if model not in ("blend", "fs", "meta"):
        raise ValueError(f"unknown link model: {model}")
    cfg = cfg or LinkConfig()
    cat = Catalog(spark, workdir) if workdir else None
    fp = f"{cfg.fingerprint()}:{model}:{input_fingerprint}"
    timings: dict[str, float] = {}
    reporter = make_reporter(spark, progress)
    _stage = stage_runner(cat, fp, timings, reporter)

    with reporter:
        a_prep = _stage("link_a_prep", lambda: prep_corpus(a_turns, cfg))
        b_prep = _stage("link_b_prep", lambda: prep_corpus(b_turns, cfg))
        scored, matches = _score_and_resolve(
            a_prep, b_prep, cfg, model, threshold, min_match_prob,
            stage=_stage,
        )
    return {
        "a_prep": a_prep, "b_prep": b_prep, "scored": scored,
        "matches": matches, "timings": timings,
    }
