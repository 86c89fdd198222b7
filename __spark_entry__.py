"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship linkage pipeline on sf0.001.
``queries()`` exposes every oracle-checkable operator of the translink engine
(SURVEY.md §2) over a transcripts table derived deterministically from the
shared ``events`` parquet — the same derivation is expressed in DuckDB SQL in
``oracle_sql()`` so both engines compute from identical inputs. Exact
duplicates (every 5th user's conversations, re-keyed ``_dup``) and near
duplicates (``_nd`` with one perturbed turn) are planted inside the
derivation itself, so dedup queries return non-trivial, checkable results.

Engine-internal fast paths (xxhash64 digests, MinHash/LSH) are not
reproducible in ANSI SQL; oracle-checked queries therefore cluster on the
canonical text / md5 (semantically identical — the digest is an optimization
over text equality), while LSH/SimHash queries are exposed rows-only.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from translink.blocking import with_block_key, with_salt
from translink.candidates import candidate_pairs
from translink.canonicalize import canonicalize
from translink.config import LinkConfig
from translink.pipeline import run_pipeline
from translink.scoring import score_pairs
from translink.signatures import with_exact_digest

# Engine config used by every oracle-checked query: rank-mode salt is exactly
# reproducible in ANSI SQL (row_number), unlike the default hash salt.
CFG = LinkConfig(salt_mode="rank")

#: Stricter edge threshold for the cluster-stability split report: base
#: clusters re-clustered at this score must not scatter for their evidence
#: to count as uniformly strong (shared literal with the DuckDB twin).
STRICT_THRESHOLD = 0.90

#: Literal threshold grid for the edge-level calibration sweep (shared
#: between the Spark explode and the DuckDB VALUES grid).
SWEEP_GRID = [0.50, 0.55, 0.60, 0.65, 0.70, 0.75, 0.80, 0.85, 0.90, 0.95]

TURNS_PER_CONV = 8
#: canonicalize() caps each turn's cleaned text at cfg.turn_text_cap chars;
#: the DuckDB canonical CTE must apply the IDENTICAL substr or any turn
#: past the cap diverges canon_text (and every downstream oracle) at once
TURN_TEXT_CAP = CFG.turn_text_cap
EXACT_DUP_MOD = 5      # user_id % 5 == 0 -> planted exact duplicate convs
NEAR_DUP_MOD = 5       # user_id % 5 == 1 -> planted near duplicate convs


# --------------------------------------------------------------------------
# Shared input derivation: events -> transcripts(conv_id, turn_idx, role,
# text, tool, ts). Must stay semantically identical to _TRANSCRIPTS_SQL.
# --------------------------------------------------------------------------

def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A NULL user_id event cannot be assigned to any conversation — drop it
    # at the source (entry validation). Without the filter the two engines
    # DIVERGE: Spark's concat null-propagates (conv_id NULL) while DuckDB's
    # concat treats NULL as '' (conv_id 'conv__0000').
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id").isNotNull()
    )
    # ts nulls-first EXPLICITLY: Spark's ascending default is NULLS FIRST
    # while DuckDB's is NULLS LAST — one NULL ts row would silently shift
    # every subsequent rn (and so conv_id/turn_idx) between the engines
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), "event_id"
    )
    turns0 = (
        ev.withColumn("rn", F.row_number().over(w))
        .select(
            F.concat(
                F.lit("conv_"),
                F.lpad(F.col("user_id").cast("string"), 6, "0"),
                F.lit("_"),
                F.lpad(
                    F.floor((F.col("rn") - 1) / TURNS_PER_CONV).cast("string"),
                    4, "0",
                ),
            ).alias("conv_id"),
            ((F.col("rn") - 1) % TURNS_PER_CONV).cast("int").alias("turn_idx"),
            F.when(F.col("event_id") % 3 == 0, F.lit("user"))
            .when(F.col("event_id") % 3 == 1, F.lit("assistant"))
            .otherwise(F.lit("tool")).alias("role"),
            F.concat(
                F.coalesce("event_type", F.lit("")),
                F.lit(" "),
                F.coalesce("props", F.lit("")),
            ).alias("text"),
            F.when(F.col("event_id") % 3 == 2, F.col("event_type")).alias("tool"),
            F.col("ts"),
            F.col("user_id"),
        )
    )
    dup = (
        turns0.filter(F.col("user_id") % EXACT_DUP_MOD == 0)
        .select(
            F.concat("conv_id", F.lit("_dup")).alias("conv_id"),
            "turn_idx", "role", "text", "tool",
            (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
        )
    )
    near = (
        turns0.filter(F.col("user_id") % NEAR_DUP_MOD == 1)
        .select(
            F.concat("conv_id", F.lit("_nd")).alias("conv_id"),
            "turn_idx", "role",
            F.when(F.col("turn_idx") == 0, F.concat("text", F.lit(" xq")))
            .otherwise(F.col("text")).alias("text"),
            "tool",
            (F.col("ts") + F.expr("INTERVAL 2 DAY")).alias("ts"),
        )
    )
    base = turns0.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    return base.unionByName(dup).unionByName(near)


#: DuckDB CTEs producing the identical transcripts + canonical tables.
_TRANSCRIPTS_SQL = f"""
base AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts NULLS FIRST, event_id) AS rn
  FROM events WHERE user_id IS NOT NULL
),
turns0 AS (
  SELECT
    concat('conv_', lpad(CAST(user_id AS VARCHAR), 6, '0'), '_',
           lpad(CAST(CAST(floor((rn - 1) / {TURNS_PER_CONV}) AS BIGINT) AS VARCHAR), 4, '0')) AS conv_id,
    CAST((rn - 1) % {TURNS_PER_CONV} AS INT) AS turn_idx,
    CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
         ELSE 'tool' END AS role,
    concat(coalesce(event_type, ''), ' ', coalesce(props, '')) AS text,
    CASE WHEN event_id % 3 = 2 THEN event_type ELSE NULL END AS tool,
    ts, user_id
  FROM base
),
transcripts_derived AS (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM turns0
  UNION ALL
  SELECT concat(conv_id, '_dup'), turn_idx, role, text, tool,
         ts + INTERVAL 1 DAY
  FROM turns0 WHERE user_id % {EXACT_DUP_MOD} = 0
  UNION ALL
  SELECT concat(conv_id, '_nd'), turn_idx, role,
         CASE WHEN turn_idx = 0 THEN concat(text, ' xq') ELSE text END,
         tool, ts + INTERVAL 2 DAY
  FROM turns0 WHERE user_id % {NEAR_DUP_MOD} = 1
),
canonical AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
         string_agg(regexp_replace(coalesce(role, ''), '[\\x1e\\x1f]', '', 'g')
                      || chr(30)
                      || substr(regexp_replace(coalesce(text, ''),
                                               '[\\x1e\\x1f]', '', 'g'),
                                1, {TURN_TEXT_CAP}),
                    chr(31) ORDER BY turn_idx) AS canon_text,
         min(ts) AS first_ts,
         max(ts) AS max_ts
  FROM transcripts_derived GROUP BY conv_id
)
"""

#: DuckDB expression for the engine's word-3-gram shingle set of a column.
#: Tokenization is the engine's TOKENIZE_PATTERN verbatim (ASCII-separator
#: class — single backslashes survive a standard SQL string literal, and
#: RE2 parses the same \xNN escapes as Python re / Java regex), so the
#: shingle family cannot drift between the engines.
def _shingles_sql(col: str, n: int = 3) -> str:
    from translink.signatures import TOKENIZE_PATTERN

    toks = (
        f"list_filter(string_split_regex(lower({col}), "
        f"'{TOKENIZE_PATTERN}'), t -> t <> '')"
    )
    return (
        f"list_filter(list_distinct(CASE WHEN len({toks}) <= {n} "
        f"THEN [array_to_string({toks}, ' ')] "
        f"ELSE list_transform(generate_series(1, len({toks}) - {n} + 1), "
        f"i -> array_to_string(({toks})[i:i + {n - 1}], ' ')) END), s -> s <> '')"
    )


def _cos_sql(a: str, b: str) -> str:
    """DuckDB twin of translink.ann._cos_expr, guard included: NULL for
    NULL/ragged/NULL-element/zero-norm operands. Unguarded, DuckDB would
    silently score such pairs with a PARTIAL dot product (list_zip pads
    ragged pairs with NULL, and list_sum SKIPS NULLs) while Spark's fold
    null-propagates — a planted 2-dim vector shifted real neighbors out of
    the top-k. One filter catches every NULL product (ragged pad, NULL
    element, NULL list → list_zip yields a NULL pair); zero norms fall out
    of the ``> 0`` comparison (list_sum of an empty list is NULL); the
    NOT-isnan guard maps NaN/Inf-element cosines to NULL exactly as the
    Spark side's nanvl does — both engines order NaN above every real
    double, so an unguarded NaN would win every top-k in both and still
    hash-mismatch any query that filters on the score."""
    dot = f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
    na = f"sqrt(list_sum(list_transform({a}, x -> x * x)))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> x * x)))"
    return (
        f"CASE WHEN len(list_filter(list_zip({a}, {b}), "
        f"p -> p[1] * p[2] IS NULL)) = 0 AND ({na}) * ({nb}) > 0 "
        f"AND NOT isnan({dot} / ({na} * {nb})) "
        f"THEN {dot} / ({na} * {nb}) END"
    )


_BLOCKED_SQL = f"""
blocked AS (
  SELECT conv_id, n_turns, total_chars, canon_text, max_ts,
         concat(CAST(n_turns AS VARCHAR), '|',
                CAST(CAST(floor(total_chars / {CFG.length_bucket}) AS BIGINT) AS VARCHAR)) AS block_key,
         {_shingles_sql('canon_text')} AS shingles
  FROM canonical
),
salted AS (
  SELECT *,
         CAST(count(*) OVER (PARTITION BY block_key) AS BIGINT) AS block_size,
         CAST(floor((row_number() OVER (PARTITION BY block_key
                                        ORDER BY canon_text, conv_id) - 1)
                    / {CFG.max_block_size}) AS INT) AS salt
  FROM blocked
),
cand_pairs AS (
  SELECT a.conv_id AS conv_id_a, b.conv_id AS conv_id_b,
         a.block_key AS block_key, a.salt AS salt,
         a.canon_text AS canon_text_a, b.canon_text AS canon_text_b,
         a.shingles AS shingles_a, b.shingles AS shingles_b
  FROM salted a JOIN salted b
    ON a.block_key = b.block_key AND a.salt = b.salt
   AND a.conv_id < b.conv_id
)
"""


def _spark_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canonicalize(derive_transcripts(spark, sf_dir), CFG)


def _spark_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from translink.linkage import prep_corpus

    signed = prep_corpus(derive_transcripts(spark, sf_dir), CFG)
    return with_salt(signed, ["block_key"], CFG, order_cols=["canon_text"])


def _spark_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingles ride the join as precomputed arrays (computed O(n), not O(pairs))
    pairs = candidate_pairs(
        _spark_salted(spark, sf_dir), CFG, payload_cols=["canon_text", "shingles"]
    )
    return score_pairs(pairs, CFG, include_jaro_winkler=False)


def _clusters_from_scored(
    spark: SparkSession, sf_dir: str, scored: DataFrame
) -> DataFrame:
    """Thresholded similarity edges over exact-contracted digest groups ->
    large-star/small-star CC over the sparse contracted graph -> every
    conversation labeled (translink.clustering.clusters_by_contraction;
    label-identical to the old star-edges-into-the-loop composition). The
    ONE cluster-assembly definition shared by the clusters query and
    q_cluster_similarity (which passes a checkpointed scored input so the
    scoring lineage runs once for both the edges and the per-cluster
    mean)."""
    from translink.clustering import clusters_by_contraction

    sim_edges = scored.filter(F.col("score") >= CFG.threshold).select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )
    c = _spark_canonical(spark, sf_dir)
    return clusters_by_contraction(with_exact_digest(c), sim_edges, CFG)


def _spark_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-blocked edges + exact star edges -> CC -> every
    conversation labeled (the oracle-checkable cluster slice)."""
    return _clusters_from_scored(
        spark, sf_dir, _spark_scored_pairs(spark, sf_dir)
    )


def _exact_members(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """digest_md5-keyed exact-cluster membership base — every conversation
    with its ``cluster_id`` (min conv_id of its digest group) and
    ``group_size``, plus any carried ``extra`` columns. The ONE definition
    of the md5 exact-cluster slice that five queries window over."""
    c = with_exact_digest(_spark_canonical(spark, sf_dir))
    w = Window.partitionBy("digest_md5")
    return c.select(
        "conv_id", *extra, "digest_md5",
        F.min("conv_id").over(w).alias("cluster_id"),
        F.count("*").over(w).alias("group_size"),
    )


#: Two-corpus linkage CTEs (A = base conversations, B = the planted
#: ``_dup``/``_nd`` re-delivery corpus): blocking salted over the COMBINED
#: population with the side-disambiguated ordering key, then A×B cross
#: pairs only — the DuckDB twin of translink.linkage.link_candidate_pairs.
#: cand_pairs carries the numeric payloads so both the heuristic blend
#: (_SCORE_SQL) and the Fellegi–Sunter comparison vectors compose on top.
_LINK_SQL = f"""
link_tagged AS (
  SELECT conv_id, canon_text, n_turns, total_chars,
         CASE WHEN ends_with(conv_id, '_dup') OR ends_with(conv_id, '_nd')
              THEN 'b' ELSE 'a' END AS side,
         concat(CAST(n_turns AS VARCHAR), '|',
                CAST(CAST(floor(total_chars / {CFG.length_bucket}) AS BIGINT) AS VARCHAR)) AS block_key,
         {_shingles_sql('canon_text')} AS shingles
  FROM canonical
),
link_salted AS (
  SELECT *,
         CAST(floor((row_number() OVER (PARTITION BY block_key
                                        ORDER BY canon_text, conv_id, side)
                     - 1) / {CFG.max_block_size}) AS INT) AS salt
  FROM link_tagged
),
cand_pairs AS (
  SELECT a.conv_id AS conv_id_a, b.conv_id AS conv_id_b,
         a.canon_text AS canon_text_a, b.canon_text AS canon_text_b,
         a.shingles AS shingles_a, b.shingles AS shingles_b,
         a.n_turns AS n_turns_a, b.n_turns AS n_turns_b,
         a.total_chars AS total_chars_a, b.total_chars AS total_chars_b
  FROM link_salted a JOIN link_salted b
    ON a.block_key = b.block_key AND a.salt = b.salt
   AND a.side < b.side
)
"""

_SCORE_SQL = f"""
scored AS (
  SELECT conv_id_a, conv_id_b,
         CASE WHEN len(list_distinct(list_concat(shingles_a, shingles_b))) = 0
              THEN 0.0
              ELSE len(list_intersect(shingles_a, shingles_b))
                   / len(list_distinct(list_concat(shingles_a, shingles_b)))
         END AS token_jaccard,
         1.0 - levenshtein(canon_text_a[1:{CFG.lev_text_cap}], canon_text_b[1:{CFG.lev_text_cap}])
               / greatest(length(canon_text_a[1:{CFG.lev_text_cap}]),
                          length(canon_text_b[1:{CFG.lev_text_cap}]), 1) AS levenshtein_sim,
         canon_text_a = canon_text_b AS is_exact
  FROM cand_pairs
),
scored_final AS (
  SELECT conv_id_a, conv_id_b, token_jaccard, levenshtein_sim,
         CASE WHEN is_exact THEN 1.0
              ELSE (token_jaccard * {CFG.w_jaccard} + levenshtein_sim * {CFG.w_levenshtein})
                   / {CFG.w_jaccard + CFG.w_levenshtein} END AS score
  FROM scored
)
"""


# --------------------------------------------------------------------------
# Driver entry points
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full linkage pipeline over sf0.001-derived transcripts;
    returns (conv_id, cluster_id, cluster_size) for every conversation."""
    transcripts = derive_transcripts(spark, "/root/testdata/sf0.001")
    result = run_pipeline(spark, transcripts, CFG)
    clusters = result["clusters"]
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "conv_id", "cluster_id", F.count("*").over(w).alias("cluster_size")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- q01: canonicalization (stage 0; O2 stable turn ordering) ---------
    def q_canonicalize(spark, sf_dir):
        return _spark_canonical(spark, sf_dir).select(
            "conv_id", "n_turns", "total_chars",
            F.md5("canon_text").alias("canon_md5"),
            "first_ts", "max_ts",
        )
    q["canonicalize"] = q_canonicalize

    # -- q02: exact-duplicate clusters (A1+A5+C2 hash-and-group) ----------
    def q_exact(spark, sf_dir):
        return (
            _exact_members(spark, sf_dir)
            .select("conv_id", "cluster_id", "group_size")
            .filter(F.col("group_size") >= 2)
        )
    q["exact_dup_clusters"] = q_exact

    # -- q03: blocking stats (A1 group-by-size analog + A6 dup/unique) ----
    def q_blocks(spark, sf_dir):
        b = with_block_key(_spark_canonical(spark, sf_dir), CFG)
        return (
            b.groupBy("block_key")
            .agg(F.count("*").alias("block_size"))
            .filter(F.col("block_size") >= 2)
        )
    q["block_stats"] = q_blocks

    # -- q04: salted candidate pairs (P8 skew bound + J1 self-join) -------
    def q_pairs(spark, sf_dir):
        # candidate_pairs emits the pair's shared salt directly — one build
        # of the salted table, no re-join
        return candidate_pairs(
            _spark_salted(spark, sf_dir), CFG, payload_cols=[]
        ).select("conv_id_a", "conv_id_b", "block_key", "salt")
    q["candidate_pairs"] = q_pairs

    # -- blocking-quality evaluation (Christen 2012 ch. 7) -----------------
    def q_blocking_eval(spark, sf_dir):
        """Pairs completeness / pairs quality of the engine's salted
        attribute blocking against the corpus's PLANTED true pairs (every
        ``<conv>``/``<conv>_dup`` and ``<conv>``/``<conv>_nd`` twin the
        derivation creates). One full-outer pair join + one aggregate."""
        from translink.evaluate import blocking_quality_frame

        cand = candidate_pairs(
            _spark_salted(spark, sf_dir), CFG, payload_cols=[]
        ).select("conv_id_a", "conv_id_b")
        conv = _spark_canonical(spark, sf_dir).select("conv_id")
        truth = (
            conv.filter(F.col("conv_id").endswith("_dup")).select(
                F.expr("substring(conv_id, 1, length(conv_id) - 4)")
                .alias("conv_id_a"),
                F.col("conv_id").alias("conv_id_b"),
            )
            .unionByName(
                conv.filter(F.col("conv_id").endswith("_nd")).select(
                    F.expr("substring(conv_id, 1, length(conv_id) - 3)")
                    .alias("conv_id_a"),
                    F.col("conv_id").alias("conv_id_b"),
                )
            )
        )
        return blocking_quality_frame(cand, truth)
    q["blocking_eval"] = q_blocking_eval

    # -- Meta-blocking lane (translink/metablocking.py): shingle blocking +
    #    block purging -> evidence-weighted blocking graph -> CNP prune.
    #    Shingle (not token) keys: on this corpus — as on any corpus big
    #    enough — every bare token's block exceeds the purge bound, while
    #    word n-grams keep their selectivity at scale.
    def _meta_weighted(spark, sf_dir):
        from translink.metablocking import (
            meta_block_pairs, purge_blocks, shingle_block_keys,
        )

        # the purged key table feeds the self-join (twice) and the per-node
        # counts — checkpoint it once so the canonicalize/explode lineage
        # runs a single time (q_cluster_graph_stats discipline)
        from translink.metablocking import filter_blocks

        keys = purge_blocks(
            filter_blocks(
                shingle_block_keys(_spark_canonical(spark, sf_dir), CFG), CFG
            ),
            CFG,
        ).localCheckpoint(eager=True)
        return meta_block_pairs(keys, CFG)

    def q_meta_shingle_pairs(spark, sf_dir):
        """Evidence-weighted blocking-graph edges of the shingle lane:
        common-block count (CBS) + key-set Jaccard weight (JS) per pair
        sharing >= 1 purged shingle block."""
        return _meta_weighted(spark, sf_dir)
    q["meta_shingle_pairs"] = q_meta_shingle_pairs

    def q_meta_shingle_pairs_pruned(spark, sf_dir):
        """CNP-pruned meta-blocking graph: per node keep the top
        ``meta_top_k`` neighbors by (weight DESC, id ASC); an edge
        survives if either endpoint retains it."""
        from translink.metablocking import cnp_prune

        return cnp_prune(_meta_weighted(spark, sf_dir), CFG)
    q["meta_shingle_pairs_pruned"] = q_meta_shingle_pairs_pruned

    def q_meta_shingle_pairs_wnp(spark, sf_dir):
        """WNP-pruned meta-blocking graph: keep an edge iff its integer
        common-block count reaches the average of either endpoint's
        neighborhood (adaptive threshold, vs CNP's fixed cardinality)."""
        from translink.metablocking import wnp_prune

        return wnp_prune(_meta_weighted(spark, sf_dir))
    q["meta_shingle_pairs_wnp"] = q_meta_shingle_pairs_wnp

    def q_link_meta_pairs(spark, sf_dir):
        """Cross-corpus (bipartite) meta-blocking: CNP-pruned evidence-
        weighted A×B pairs over combined-purged shingle keys — the
        blocking fallback for linkage when attribute keys do not align.
        A = base conversations, B = the planted re-delivery corpus."""
        from translink.metablocking import (
            cnp_prune_bipartite, link_meta_pairs, shingle_block_keys,
        )

        canonical = _spark_canonical(spark, sf_dir)
        is_b = (F.col("conv_id").endswith("_dup")
                | F.col("conv_id").endswith("_nd"))
        # each side's key table feeds the combined purge, the per-side
        # node counts and the cross join — checkpoint once per side so
        # the canonicalize/explode lineage runs once, not 4-6x
        ka = shingle_block_keys(canonical.filter(~is_b), CFG) \
            .localCheckpoint(eager=True)
        kb = shingle_block_keys(canonical.filter(is_b), CFG) \
            .localCheckpoint(eager=True)
        return cnp_prune_bipartite(link_meta_pairs(ka, kb, CFG), CFG)
    q["link_meta_pairs"] = q_link_meta_pairs

    def q_link_meta_matches(spark, sf_dir):
        """Schema-free record linkage end to end: the bipartite meta graph
        resolved to a one-to-one match set by greedy mutual-best on the
        key-set Jaccard weight (threshold = cfg.threshold on the weight).
        No attribute keys, no similarity scorer — co-occurrence evidence
        alone carries the assignment."""
        from translink.linkage import mutual_best_matches
        from translink.metablocking import (
            link_meta_pairs, shingle_block_keys,
        )

        canonical = _spark_canonical(spark, sf_dir)
        is_b = (F.col("conv_id").endswith("_dup")
                | F.col("conv_id").endswith("_nd"))
        ka = shingle_block_keys(canonical.filter(~is_b), CFG) \
            .localCheckpoint(eager=True)
        kb = shingle_block_keys(canonical.filter(is_b), CFG) \
            .localCheckpoint(eager=True)
        w = link_meta_pairs(ka, kb, CFG).withColumnRenamed("weight", "score")
        return mutual_best_matches(w, CFG).select(
            "conv_id_a", "conv_id_b", "common_keys",
            F.col("score").alias("weight"),
        )
    q["link_meta_matches"] = q_link_meta_matches

    def q_blocking_volume_forecast(spark, sf_dir):
        """Pre-flight candidate-volume budget: per twin-able blocking lane,
        the EXACT self-join pair fan-out computed from block sizes alone
        (sum of C(size, 2)) — O(records) forecast for O(pairs) work. The
        LSH lane's buckets hash with xxhash64 and have no ANSI twin; its
        skew surfaces via blocking.oversized_blocks instead."""
        from translink.blocking import volume_forecast
        from translink.metablocking import (
            filter_blocks, purge_blocks, shingle_block_keys,
        )

        attr = volume_forecast(
            _spark_salted(spark, sf_dir).select("conv_id", "block_key", "salt"),
            ["block_key", "salt"], "attribute",
        )
        keys = purge_blocks(
            filter_blocks(
                shingle_block_keys(_spark_canonical(spark, sf_dir), CFG), CFG
            ),
            CFG,
        )
        meta = volume_forecast(keys, ["key"], "meta_shingle")
        return attr.unionByName(meta)
    q["blocking_volume_forecast"] = q_blocking_volume_forecast

    def q_meta_blocking_eval(spark, sf_dir):
        """Pairs completeness / quality of the shingle meta-blocking graph
        (_meta_weighted builds shingle_block_keys, not the token lane)
        against the planted truth — the apples-to-apples comparison row
        for blocking_eval (attribute lane)."""
        from translink.evaluate import blocking_quality_frame

        cand = _meta_weighted(spark, sf_dir).select("conv_id_a", "conv_id_b")
        conv = _spark_canonical(spark, sf_dir).select("conv_id")
        truth = (
            conv.filter(F.col("conv_id").endswith("_dup")).select(
                F.expr("substring(conv_id, 1, length(conv_id) - 4)")
                .alias("conv_id_a"),
                F.col("conv_id").alias("conv_id_b"),
            )
            .unionByName(
                conv.filter(F.col("conv_id").endswith("_nd")).select(
                    F.expr("substring(conv_id, 1, length(conv_id) - 3)")
                    .alias("conv_id_a"),
                    F.col("conv_id").alias("conv_id_b"),
                )
            )
        )
        return blocking_quality_frame(cand, truth)
    q["meta_blocking_eval"] = q_meta_blocking_eval

    # -- q05: pairwise scoring (H13 blend, JVM components) ----------------
    def q_scores(spark, sf_dir):
        return _spark_scored_pairs(spark, sf_dir).select(
            "conv_id_a", "conv_id_b", "token_jaccard", "levenshtein_sim", "score"
        )
    q["pair_scores"] = q_scores

    # -- q06: thresholded edges -------------------------------------------
    def q_edges(spark, sf_dir):
        # the library operator IS the query: re-implementing the filter +
        # rename here would silently diverge from a future edge-semantics
        # change (e.g. strict vs inclusive threshold)
        from translink.scoring import edges as _edges

        return _edges(_spark_scored_pairs(spark, sf_dir), CFG)
    q["edges"] = q_edges

    # -- q07: connected-component clusters (C1 transitive closure) --------
    # Same edge set as the oracle (attribute blocking + no-JW blend), so the
    # thing under test is the large-star/small-star CC operator itself
    # against DuckDB's recursive-CTE transitive closure. The full engine
    # (LSH + Jaro-Winkler) is exercised by entry() and the pytest F1 gate.
    q["clusters"] = _spark_clusters

    # -- q08: primary election (C3, O1 recency sort) ----------------------
    def q_primary(spark, sf_dir):
        members = (
            _exact_members(spark, sf_dir, "max_ts")
            .select("conv_id", "max_ts", "cluster_id", "group_size")
            .filter(F.col("group_size") >= 2)
        )
        wrank = Window.partitionBy("cluster_id").orderBy(
            F.col("max_ts").desc(), F.col("conv_id").asc()
        )
        return members.select(
            "conv_id", "cluster_id",
            (F.row_number().over(wrank) == 1).alias("is_primary"),
        )
    q["primary_election"] = q_primary

    # -- q09: cluster report rollups (A7) ---------------------------------
    def q_report(spark, sf_dir):
        members = (
            _exact_members(spark, sf_dir, "total_chars", "max_ts")
            .select("conv_id", "total_chars", "max_ts",
                    "cluster_id", "group_size")
            .filter(F.col("group_size") >= 2)
        )
        wrank = Window.partitionBy("cluster_id").orderBy(
            F.col("max_ts").desc(), F.col("conv_id").asc()
        )
        ranked = members.withColumn("rk", F.row_number().over(wrank))
        return ranked.groupBy("cluster_id").agg(
            F.count("*").alias("n_members"),
            F.sum("total_chars").alias("total_chars_sum"),
            F.sum(F.when(F.col("rk") > 1, F.col("total_chars")).otherwise(F.lit(0)))
            .alias("savings_chars"),
            F.max("max_ts").alias("newest_ts"),
        )
    q["cluster_report"] = q_report

    # -- q10: min-turns scan filter (F1 predicate pushdown) ---------------
    def q_minturns(spark, sf_dir):
        return (
            _spark_canonical(spark, sf_dir)
            .filter(F.col("n_turns") >= 4)
            .select("conv_id", "n_turns")
        )
    q["min_turns_filter"] = q_minturns

    # -- q21: remove-mode keep list (OperationMode::Remove analog,
    #          reference src/config.rs:41-47 + src/report/mod.rs:53-65) ----
    def q_keep_list(spark, sf_dir):
        """The deduplicated dataset: one primary (newest, conv_id tie-break)
        per exact cluster, singletons included — the md5-path mirror of
        translink.report.deduplicate()."""
        wrank = Window.partitionBy("digest_md5").orderBy(
            F.col("max_ts").desc(), F.col("conv_id").asc()
        )
        return (
            _exact_members(spark, sf_dir, "max_ts")
            .select(
                "conv_id", "cluster_id", "group_size",
                F.row_number().over(wrank).alias("rk"),
            )
            .filter(F.col("rk") == 1)
            .select("conv_id", "cluster_id", "group_size")
        )
    q["dedup_keep_list"] = q_keep_list

    # -- q22: per-cluster mean pair similarity (H14 group score,
    #          reference src/pipeline/streaming_hash.rs:256-313) -----------
    def q_cluster_similarity(spark, sf_dir):
        """cluster_report's mean_similarity column over the oracle-checkable
        cluster slice: deterministic sorted-fold mean of intra-cluster
        scored pairs; pure exact clusters -> 1.0."""
        # scored pairs feed BOTH the cluster edges and the per-cluster mean;
        # checkpoint once instead of recomputing the scoring lineage twice
        scored = _spark_scored_pairs(spark, sf_dir).select(
            "conv_id_a", "conv_id_b", "score"
        ).localCheckpoint(eager=True)
        cl = _clusters_from_scored(spark, sf_dir, scored)
        sizes = cl.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
        intra = (
            scored
            .join(cl.withColumnRenamed("conv_id", "conv_id_a"), "conv_id_a")
            .join(
                cl.select(F.col("conv_id").alias("conv_id_b"),
                          F.col("cluster_id").alias("_cb")),
                "conv_id_b",
            )
            .filter(F.col("cluster_id") == F.col("_cb"))
            .groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list("score")).alias("_s"))
            .select(
                "cluster_id",
                F.round(
                    F.expr("aggregate(_s, cast(0.0 as double), (acc, v) -> acc + v)")
                    / F.size("_s"),
                    9,
                ).alias("mean_similarity"),
            )
        )
        return (
            sizes.filter(F.col("n_members") >= 2)
            .join(intra, "cluster_id", "left")
            .select(
                "cluster_id", "n_members",
                F.coalesce("mean_similarity", F.lit(1.0)).alias("mean_similarity"),
            )
        )
    q["cluster_similarity"] = q_cluster_similarity

    # -- q24: pairwise P/R/F1 evaluation (the north-rule metric operator,
    #          translink.evaluate.pairwise_prf, oracle-checked arithmetic) --
    def q_dedup_eval(spark, sf_dir):
        """Evaluate the EXACT clustering against labeled pairs derived from
        the planted duplicates: (c, c_dup) and (c, c_nd) are matches,
        adjacent base conversations are non-matches. Exact clustering finds
        the _dup pairs but not the _nd pairs, so recall < 1 — non-trivial
        tp/fp/fn/tn arithmetic checked cross-engine."""
        c = _spark_canonical(spark, sf_dir)
        base = c.filter(
            ~F.col("conv_id").endswith("_dup") & ~F.col("conv_id").endswith("_nd")
        ).select("conv_id")
        present = c.select(F.col("conv_id").alias("other"))
        pos = (
            base.select(
                F.col("conv_id").alias("conv_id_a"),
                F.explode(
                    F.array(
                        F.concat("conv_id", F.lit("_dup")),
                        F.concat("conv_id", F.lit("_nd")),
                    )
                ).alias("conv_id_b"),
            )
            .join(present, F.col("conv_id_b") == F.col("other"), "left_semi")
            .withColumn("is_match", F.lit(True))
        )
        # negatives = adjacent base conversations WITHIN an md5-prefix bucket
        # (any pair of distinct base conversations is a true non-match, so
        # bucketed adjacency is as valid as global adjacency — without the
        # single-partition global window; 256 buckets, deterministic in both
        # engines)
        wl = Window.partitionBy(
            F.substring(F.md5("conv_id"), 1, 2)
        ).orderBy("conv_id")
        neg = (
            base.withColumn("conv_id_b", F.lead("conv_id").over(wl))
            .filter(F.col("conv_id_b").isNotNull())
            .select(
                F.col("conv_id").alias("conv_id_a"), "conv_id_b",
                F.lit(False).alias("is_match"),
            )
        )
        labels = pos.unionByName(neg)
        cl = c.select(
            "conv_id",
            F.min("conv_id").over(Window.partitionBy(F.md5("canon_text")))
            .alias("cluster_id"),
        )
        judged = (
            labels
            .join(cl.select(F.col("conv_id").alias("conv_id_a"),
                            F.col("cluster_id").alias("_cl_a")), "conv_id_a", "left")
            .join(cl.select(F.col("conv_id").alias("conv_id_b"),
                            F.col("cluster_id").alias("_cl_b")), "conv_id_b", "left")
            .withColumn(
                "predicted",
                F.col("_cl_a").isNotNull() & F.col("_cl_b").isNotNull()
                & (F.col("_cl_a") == F.col("_cl_b")),
            )
        )
        agg = judged.agg(
            F.sum(F.when(F.col("predicted") & F.col("is_match"), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(F.col("predicted") & ~F.col("is_match"), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~F.col("predicted") & F.col("is_match"), 1).otherwise(0)).alias("fn"),
            F.sum(F.when(~F.col("predicted") & ~F.col("is_match"), 1).otherwise(0)).alias("tn"),
        )
        return agg.select(
            "tp", "fp", "fn", "tn",
            (F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)))
            .alias("precision"),
            (F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)))
            .alias("recall"),
            # integer-ratio form 2tp/(2tp+fp+fn): one division, no float
            # composition — deterministic cross-engine
            (2 * F.col("tp")
             / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)))
            .alias("f1"),
        )
    q["dedup_eval"] = q_dedup_eval

    # -- B-cubed cluster-level evaluation (Bagga & Baldwin 1998) ----------
    def q_dedup_eval_bcubed(spark, sf_dir):
        """Exact integer sufficient statistics of B³ precision/recall of
        the exact clustering against the planted-truth clustering (base
        conv_id with the _dup/_nd suffix stripped): one row per distinct
        (cluster_size, truth_size, cell_size) triple with its cell count.
        The float averages live in translink.evaluate.bcubed_prf (pinned
        by pytest) — cross-engine float SUM accumulation order is not
        hash-comparable; the integer histogram is, and B³ P/R derive from
        it exactly (P = Σ n·s²/cs / N, R = Σ n·s²/ts / N)."""
        from translink.evaluate import bcubed_cells_frame

        c = _spark_canonical(spark, sf_dir)
        pred = c.select(
            "conv_id",
            F.min("conv_id").over(Window.partitionBy(F.md5("canon_text")))
            .alias("cluster_id"),
        )
        truth = c.select(
            "conv_id",
            F.when(
                F.col("conv_id").endswith("_dup"),
                F.expr("substring(conv_id, 1, length(conv_id) - 4)"),
            ).when(
                F.col("conv_id").endswith("_nd"),
                F.expr("substring(conv_id, 1, length(conv_id) - 3)"),
            ).otherwise(F.col("conv_id")).alias("true_id"),
        )
        return bcubed_cells_frame(pred, truth)
    q["dedup_eval_bcubed"] = q_dedup_eval_bcubed

    # ===== documents-table training-data ops (SURVEY §2.3 kernels) =======

    def _docs(spark, sf_dir):
        """documents + planted copies (doc_id % 50 == 0 re-keyed +1000000)
        so exact-dedup queries return non-trivial groups in both engines."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dup = d.filter(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
        return d.unionByName(dup)

    # -- q12: exact document dedup (A1+A5 on the doc corpus) --------------
    def q_doc_exact(spark, sf_dir):
        from translink.textops import doc_exact_dup_clusters
        return doc_exact_dup_clusters(_docs(spark, sf_dir))
    q["doc_exact_dupes"] = q_doc_exact

    # -- Meta-blocking near-dup lane on the DOCUMENT corpus: the same
    #    purge -> weight -> CNP stack, id/text-generic (bigint doc ids). --
    def q_doc_meta_dedup_pairs(spark, sf_dir):
        from translink.metablocking import (
            cnp_prune, filter_blocks, meta_block_pairs, purge_blocks,
            shingle_block_keys,
        )

        docs = _docs(spark, sf_dir).select(
            "doc_id", F.coalesce("text", F.lit("")).alias("text")
        )
        keys = purge_blocks(
            filter_blocks(
                shingle_block_keys(docs, CFG, text_col="text",
                                   id_col="doc_id"),
                CFG,
            ),
            CFG,
        ).localCheckpoint(eager=True)
        return cnp_prune(meta_block_pairs(keys, CFG), CFG).select(
            F.col("conv_id_a").alias("doc_id_a"),
            F.col("conv_id_b").alias("doc_id_b"),
            "common_keys", "weight",
        )
    q["doc_meta_dedup_pairs"] = q_doc_meta_dedup_pairs

    # -- q13: blocked shingle-Jaccard near-dup pairs ----------------------
    def q_doc_jaccard(spark, sf_dir):
        from translink.textops import doc_jaccard_pairs
        # method='expr': string shingles, bit-for-bit reproducible in the
        # DuckDB oracle; the public default is the hashed-shingle Arrow
        # kernel (same Jaccard values, ~15x faster — benched separately).
        return doc_jaccard_pairs(
            _docs(spark, sf_dir), threshold=0.5, salt_mode="rank", method="expr"
        )
    q["doc_jaccard_pairs"] = q_doc_jaccard

    # -- q13b: hashed-shingle Jaccard (the Arrow fast path; same values as
    #          doc_jaccard_pairs modulo negligible 64-bit collisions) ------
    def q_doc_jaccard_fast(spark, sf_dir):
        from translink.textops import doc_jaccard_pairs
        return doc_jaccard_pairs(
            _docs(spark, sf_dir), threshold=0.5, salt_mode="rank", method="arrow"
        )
    q["doc_jaccard_pairs_fast"] = q_doc_jaccard_fast

    # -- q23: entropy + char-class histogram (H6/H7,
    #          reference src/pipeline/stats.rs:353-359 + :156-183) ---------
    def q_doc_entropy(spark, sf_dir):
        from translink.textops import doc_entropy
        # method='expr': explode + hash-aggregate, bit-reproducible in the
        # DuckDB oracle; the public default is the Arrow kernel (same values
        # to float ulp, zero shuffle — benched as doc_entropy_fast).
        return doc_entropy(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="expr"
        )
    q["doc_entropy"] = q_doc_entropy

    # -- q23b: entropy via the Arrow kernel (the scale path: one map pass,
    #          no per-character shuffle; pytest-parity vs the expr form) ---
    def q_doc_entropy_fast(spark, sf_dir):
        from translink.textops import doc_entropy
        return doc_entropy(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="arrow"
        )
    q["doc_entropy_fast"] = q_doc_entropy_fast

    # -- q14: language-ID heuristic (H4 MIME-detection analog) ------------
    def q_langid(spark, sf_dir):
        from translink.textops import doc_langid
        return doc_langid(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_langid"] = q_langid

    # -- q15: quality scoring (H5 structure analysis analog) --------------
    def q_quality(spark, sf_dir):
        from translink.textops import doc_quality
        return doc_quality(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_quality"] = q_quality

    # -- q16: token stats --------------------------------------------------
    def q_tokens(spark, sf_dir):
        from translink.textops import doc_token_stats
        return doc_token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_token_stats"] = q_tokens

    # -- typed JSON extraction + rollup over the props column --------------
    def q_event_props_stats(spark, sf_dir):
        """from_json (codegen Jackson, no UDF) pulls props.k, then a
        per-event-type rollup — extraction + aggregation in one exchange."""
        from translink.jsonops import parse_json_col
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return (
            parse_json_col(ev, "k BIGINT", "props")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.count("k").alias("n_with_k"),
                F.sum("k").alias("k_sum"),
                F.min("k").alias("k_min"),
                F.max("k").alias("k_max"),
            )
        )
    q["event_props_stats"] = q_event_props_stats

    # -- event-time sessionization (T-family; native session_window) ------
    def q_event_sessions(spark, sf_dir):
        """Batch twin of translink.streaming.sessions.sessionize_events with
        the repo's deterministic-double-sum fold (sorted values, round 9) so
        the order-dependent sum cannot drift from the DuckDB oracle; the
        library API keeps the natural F.sum."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
            F.col("ts").isNotNull()
        )
        return (
            ev.groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count("*").alias("n_events"),
                F.array_sort(
                    F.collect_list(F.coalesce("value", F.lit(0.0)))
                ).alias("_v"),
            )
            .select(
                "user_id", "session_start", "session_end", "n_events",
                F.round(
                    F.expr("aggregate(_v, cast(0.0 as double), (acc, v) -> acc + v)"),
                    9,
                ).alias("total_value"),
            )
        )
    q["event_sessions"] = q_event_sessions

    # -- end-to-end document dedup verdict (exact + near-dup -> CC) -------
    def q_doc_dedup_keep(spark, sf_dir):
        from translink.textops import doc_dedup_keep
        return doc_dedup_keep(_docs(spark, sf_dir))
    q["doc_dedup_keep"] = q_doc_dedup_keep

    # -- PII detection / redaction (curation pass; pure codegen map) ------
    def q_pii_flags(spark, sf_dir):
        from translink.pii import doc_pii_flags
        return doc_pii_flags(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_pii_flags"] = q_pii_flags

    def q_pii_redact(spark, sf_dir):
        from translink.pii import doc_pii_redact
        return doc_pii_redact(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_pii_redact"] = q_pii_redact

    # -- BPE-ish pre-tokenizer counts (what a token budget bills against) --
    def q_bpe_tokens(spark, sf_dir):
        from translink.textops import doc_bpe_token_stats
        return doc_bpe_token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_bpe_token_stats"] = q_bpe_tokens

    # -- CCNet-style line-level boilerplate strip ---------------------------
    def q_line_dedup(spark, sf_dir):
        from translink.textops import doc_line_dedup
        return doc_line_dedup(_docs(spark, sf_dir), min_docs=3)
    q["doc_line_dedup"] = q_line_dedup

    # -- link-density quality signals (URL count / hosts / char fraction) --
    def q_url_stats(spark, sf_dir):
        from translink.textops import doc_url_stats
        return doc_url_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_url_stats"] = q_url_stats

    # -- per-source curation stats (digest-keyed dup rate, size profile) --
    def q_source_stats(spark, sf_dir):
        from translink.textops import doc_source_stats
        return doc_source_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_source_stats"] = q_source_stats

    # -- q17: fingerprints (H10/H11) — md5 columns only (xxhash64 has no
    #          DuckDB twin, so it is excluded from the oracle-checked set) --
    def q_fingerprint(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        text = F.coalesce("text", F.lit(""))
        return docs.select(
            "doc_id",
            F.md5(text).alias("fingerprint_md5"),
            F.substring(F.md5(text), 1, 8).alias("fingerprint_prefix"),
            F.length(text).cast("long").alias("n_chars_measured"),
        )
    q["doc_fingerprint"] = q_fingerprint

    # -- q18: exact ANN top-k (brute-force cosine baseline) ---------------
    def q_ann(spark, sf_dir):
        from translink.ann import cosine_topk
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return cosine_topk(emb, emb.filter(F.col("vec_id") < 200), k=5)
    q["ann_cosine_topk"] = q_ann

    # -- q19: k-NN label vote ---------------------------------------------
    def q_knn(spark, sf_dir):
        from translink.ann import knn_label_vote
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return knn_label_vote(emb, emb.filter(F.col("vec_id") < 200), k=5)
    q["knn_label_vote"] = q_knn

    # -- q20: event-level exact dedup (A1 on the raw stream table) --------
    def q_event_dedup(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        w = Window.partitionBy("user_id", "event_type", "props")
        return (
            ev.select(
                "event_id",
                F.min("event_id").over(w).alias("dup_group"),
                F.count("*").over(w).alias("group_size"),
            )
            .filter(F.col("group_size") >= 2)
        )
    q["event_exact_dedup"] = q_event_dedup

    # -- q26: full character-frequency histogram (H7 at full fidelity —
    #          reference keeps the whole 256-bucket byte distribution,
    #          src/pipeline/stats.rs:155-182). All outputs are exact
    #          integers (+ top_char), so the Arrow scale path itself is
    #          oracle-checked — no expr/fast split needed. ----------------
    def q_doc_char_histogram(spark, sf_dir):
        from translink.histogram import doc_char_histogram
        return doc_char_histogram(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="arrow"
        )
    q["doc_char_histogram"] = q_doc_char_histogram

    # -- q26b: corpus-relative character cross-entropy (the LM-quality-
    #          filter proxy: score each doc under the corpus's own char
    #          unigram model; the curation analog of KenLM perplexity
    #          filtering). method='expr' is the ANSI-reproducible oracle
    #          twin; the public default is the Arrow histogram path
    #          (doc_char_crossent_fast, pytest-parity). Reads RAW documents
    #          (no planted dupes): a frequency rollup, not a dedup query. --
    def q_doc_char_crossent(spark, sf_dir):
        from translink.histogram import doc_char_crossent
        return doc_char_crossent(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="expr"
        )
    q["doc_char_crossent"] = q_doc_char_crossent

    def q_doc_char_crossent_fast(spark, sf_dir):
        """Arrow scale path: per-doc histograms map-side, alphabet-bounded
        rows through the exchanges, JVM log2 fold — identical values
        (parity pytest-asserted); rows-only here by design."""
        from translink.histogram import doc_char_crossent
        return doc_char_crossent(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="arrow"
        )
    q["doc_char_crossent_fast"] = q_doc_char_crossent_fast

    # -- q27: statistical-fingerprint pair similarity (H13 blend,
    #          reference calculate_similarity src/pipeline/stats.rs:236-265:
    #          frequency-distribution cosine + entropy closeness). expr
    #          form for the oracle; Arrow twin below is the public default.
    def q_doc_stat_sim(spark, sf_dir):
        from translink.histogram import doc_stat_similarity_pairs
        return doc_stat_similarity_pairs(
            _docs(spark, sf_dir), threshold=0.0, salt_mode="rank",
            method="expr",
        )
    q["doc_stat_sim_pairs"] = q_doc_stat_sim

    # ===== rows-only queries (no ANSI-SQL twin; weaker driver check) =====
    # Engine fast paths whose hash families DuckDB cannot reproduce; their
    # correctness is pinned by pytest parity tests against the exact
    # baselines above (tests/test_textops.py, tests/test_ann.py).

    def q_doc_minhash(spark, sf_dir):
        from translink.textops import doc_minhash_lsh_pairs
        return doc_minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)
    q["doc_minhash_lsh_pairs"] = q_doc_minhash

    def q_doc_simhash(spark, sf_dir):
        from translink.textops import doc_simhash_pairs
        return doc_simhash_pairs(_docs(spark, sf_dir), max_hamming=3)
    q["doc_simhash_pairs"] = q_doc_simhash

    def q_ann_lsh(spark, sf_dir):
        from translink.ann import cosine_topk_lsh
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return cosine_topk_lsh(
            emb, emb.filter(F.col("vec_id") < 200), k=5, dim=64,
            n_planes=6, n_tables=16,
        )
    q["ann_cosine_topk_lsh"] = q_ann_lsh

    def q_ann_ivf(spark, sf_dir):
        """IVF-probed ANN (the alternative scale path beside LSH): rows-only
        because the k-means coarse quantizer has no SQL twin; recall vs the
        exact baseline is pinned by tests/test_ann.py."""
        from translink.ann import cosine_topk_ivf
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return cosine_topk_ivf(
            emb, emb.filter(F.col("vec_id") < 200), k=5, dim=64,
            n_centroids=32, n_probe=8,
        )
    q["ann_cosine_topk_ivf"] = q_ann_ivf

    def q_doc_stat_sim_fast(spark, sf_dir):
        """Arrow scale path of the H13 blend: ships (codepoint, count)
        arrays through the pair join + exact-integer dot kernel. The
        dot/l2/cosine lanes are bit-identical to the expr form; entropy
        rides the Arrow kernel (ulp-level vs the expr fold), so this twin
        is rows-only — pytest pins parity against doc_stat_sim_pairs."""
        from translink.histogram import doc_stat_similarity_pairs
        return doc_stat_similarity_pairs(
            _docs(spark, sf_dir), threshold=0.0, salt_mode="rank",
            method="arrow",
        )
    q["doc_stat_sim_pairs_fast"] = q_doc_stat_sim_fast

    def q_emb_dup_pairs_lsh(spark, sf_dir):
        """Corpus-scale twin of emb_dup_pairs: hyperplane-LSH candidates +
        Arrow cosine. Rows-only (random-hyperplane buckets have no SQL
        twin); recall vs the exact baseline is pinned at the operator's
        design regime (planted near-dups, tau >= 0.9) in tests/test_ann.py.
        At the fixture's demo threshold 0.4 the hyperplane collision
        probability is low by design, so the parameters here trade bucket
        width for recall (4 planes x 16 tables ~ 0.94 expected)."""
        from translink.ann import cosine_dup_pairs_lsh
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return cosine_dup_pairs_lsh(
            emb, tau=0.4, dim=64, n_planes=4, n_tables=16
        )
    q["emb_dup_pairs_lsh"] = q_emb_dup_pairs_lsh

    def q_doc_decontam_fast(spark, sf_dir):
        """Arrow scale path of doc_decontam: grams are 64-bit shingle
        hashes (8-byte join keys, no text on the exchange). Rows-only —
        the hash family has no SQL twin; tests/test_decontam.py pins exact
        parity of all four output columns against the expr form."""
        from translink.textops import doc_decontaminate
        d = _docs(spark, sf_dir)
        is_bench = (F.col("doc_id") % 17 == 0) & (F.col("doc_id") < 1000000)
        return doc_decontaminate(
            d.filter(~is_bench), d.filter(is_bench),
            shingle_n=8, method="arrow",
        )
    q["doc_decontam_fast"] = q_doc_decontam_fast

    def q_doc_containment_fast(spark, sf_dir):
        """Arrow twin of doc_containment_pairs (64-bit hashed grams on the
        inverted index). Rows-only; tests/test_textops.py pins parity of
        ids and both containment directions against the expr form."""
        from translink.textops import doc_containment_pairs
        return doc_containment_pairs(
            _docs(spark, sf_dir), threshold=0.8, method="arrow"
        )
    q["doc_containment_pairs_fast"] = q_doc_containment_fast

    # -- q31: boilerplate turns (turn-level exact dedup across convs) -----
    def q_turn_boilerplate(spark, sf_dir):
        """Turn values repeated across >= 3 distinct conversations (system
        prompts, canned tool headers) — the turn-level analog of document
        exact dedup; the shuffle carries digests, never turn text."""
        from translink.canonicalize import turn_boilerplate
        return turn_boilerplate(derive_transcripts(spark, sf_dir), min_convs=3)
    q["turn_boilerplate"] = q_turn_boilerplate

    def q_strip_boilerplate(spark, sf_dir):
        """The curated corpus: transcripts minus boilerplate turns
        (anti-join on (role, digest))."""
        from translink.canonicalize import strip_boilerplate
        return strip_boilerplate(derive_transcripts(spark, sf_dir), min_convs=3)
    q["turn_strip_boilerplate"] = q_strip_boilerplate

    # -- q30: shingle containment (sub-document duplication) --------------
    def q_doc_containment(spark, sf_dir):
        """Directed containment pairs |A∩B|/|A| — catches short-in-long
        duplication that Jaccard's union dilutes and its length-bucket
        blocking cannot pair. expr = oracle path."""
        from translink.textops import doc_containment_pairs
        return doc_containment_pairs(
            _docs(spark, sf_dir), threshold=0.8, method="expr"
        )
    q["doc_containment_pairs"] = q_doc_containment

    # -- q29: benchmark decontamination (n-gram overlap + exact match) ----
    def q_doc_decontam(spark, sf_dir):
        """Training-corpus decontamination against a benchmark slice
        (doc_id % 17 == 0 of the originals): per-doc matched-8-gram count,
        exact-text flag, contamination verdict. expr method = the
        ANSI-reproducible oracle path; the Arrow twin below is the public
        default."""
        from translink.textops import doc_decontaminate
        d = _docs(spark, sf_dir)
        is_bench = (F.col("doc_id") % 17 == 0) & (F.col("doc_id") < 1000000)
        return doc_decontaminate(
            d.filter(~is_bench), d.filter(is_bench),
            shingle_n=8, method="expr",
        )
    q["doc_decontam"] = q_doc_decontam

    # -- q28: embedding-cosine near-dup (the 5th dedup family: exact,
    #          MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine) -----
    def q_emb_dup_pairs(spark, sf_dir):
        """Exact embedding-cosine near-dup pairs (oracle baseline). The
        fixture embeddings carry no planted near-dups (max pair cosine
        ~0.51), so the demo threshold 0.4 selects the top of the cosine
        distribution; the operator's design regime is tau >= 0.9."""
        from translink.ann import cosine_dup_pairs
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return cosine_dup_pairs(emb, tau=0.4)
    q["emb_dup_pairs"] = q_emb_dup_pairs

    def q_emb_dup_clusters(spark, sf_dir):
        """Near-dup clusters over the exact threshold edges — the same
        large-star/small-star CC loop as the transcript pipeline, oracle-
        checked against a recursive-CTE reachability query."""
        from translink.ann import cosine_dup_clusters
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return cosine_dup_clusters(emb, tau=0.4, method="exact")
    q["emb_dup_clusters"] = q_emb_dup_clusters

    def q_emb_semantic_dedup(spark, sf_dir):
        """SemDeDup-style semantic dedup verdict (Abbas et al. 2023):
        spherical-k-means cells partition the corpus, near-dup pairs are
        searched within cells only, components elect the member FARTHEST
        from its cell centroid as keeper (max diversity). Rows-only —
        k-means training is iterative (no ANSI twin); tests pin precision
        1.0 / measured recall vs the exact pair set, one-keeper-per-cluster
        invariants, and determinism. Demo tau matches emb_dup_pairs (the
        fixture has no planted near-dups above ~0.51)."""
        from translink.ann import semantic_dedup_keep
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return semantic_dedup_keep(
            emb, tau=0.4, dim=64, n_centroids=32, keep_policy="farthest"
        )
    q["emb_semantic_dedup"] = q_emb_semantic_dedup

    def q_lsh_blocked_clusters(spark, sf_dir):
        """Full engine pipeline (LSH + JW scorer) — the flagship, rows-only
        because MinHash banding + the pandas-UDF scorer have no SQL twin."""
        result = run_pipeline(spark, derive_transcripts(spark, sf_dir), CFG)
        return result["clusters"]
    q["pipeline_clusters_full"] = q_lsh_blocked_clusters

    # -- q11: global dedup stats (A8/A9 report arithmetic) ----------------
    def q_stats(spark, sf_dir):
        m = _exact_members(spark, sf_dir, "total_chars").select(
            "conv_id", "total_chars", "group_size",
            F.row_number().over(
                Window.partitionBy("digest_md5").orderBy(F.col("conv_id"))
            ).alias("rk"),
        )
        return m.select(
            F.count("*").alias("n_convs"),
            F.sum(F.when((F.col("group_size") >= 2) & (F.col("rk") == 1), 1)
                  .otherwise(0)).alias("n_dup_groups"),
            F.sum(F.when((F.col("group_size") >= 2) & (F.col("rk") > 1), 1)
                  .otherwise(0)).alias("n_dup_convs"),
            F.sum(F.when((F.col("group_size") >= 2) & (F.col("rk") > 1),
                         F.col("total_chars")).otherwise(F.lit(0)))
            .alias("savings_chars"),
        )
    q["dedup_stats"] = q_stats

    # -- repetition signals (Gopher-style quality features) ----------------
    def q_repetition(spark, sf_dir):
        """Expression form (explode + hash aggregations) — ANSI-reproducible
        for the DuckDB oracle; the public default is the Arrow kernel."""
        from translink.textops import doc_repetition
        return doc_repetition(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="expr"
        )
    q["doc_repetition"] = q_repetition

    def q_repetition_fast(spark, sf_dir):
        """Arrow scale path: JVM token hashes + one zero-shuffle kernel pass.
        Rows-only (64-bit token hashes have no DuckDB twin); value parity vs
        the expression form is pytest-asserted."""
        from translink.textops import doc_repetition
        return doc_repetition(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="arrow"
        )
    q["doc_repetition_fast"] = q_repetition_fast

    # -- passage-level dedup (sub-document granularity) --------------------
    def q_passage_stats(spark, sf_dir):
        """Expression form: corpus-wide grouping on the passage STRING —
        DuckDB-reproducible; the public default groups on 8-byte hashes."""
        from translink.textops import doc_passage_stats
        return doc_passage_stats(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="expr"
        )
    q["doc_passage_stats"] = q_passage_stats

    def q_passage_stats_fast(spark, sf_dir):
        """Hash scale path: passages reduced to xxhash64 keys JVM-side, the
        corpus-wide exchange moves 24-byte rows instead of text. Rows-only;
        parity vs the expression form is pytest-asserted."""
        from translink.textops import doc_passage_stats
        return doc_passage_stats(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), method="hash"
        )
    q["doc_passage_stats_fast"] = q_passage_stats_fast

    # -- deterministic sampling (hash-keyed, engine-reproducible) ----------
    def q_sample_frac(spark, sf_dir):
        """Zero-shuffle Bernoulli sample: Filter over the scan, no exchange."""
        from translink.sampling import doc_sample_frac
        return doc_sample_frac(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    q["doc_sample_frac"] = q_sample_frac

    def q_sample_stratified(spark, sf_dir):
        """Exact per-source quota by hash rank (reproducible stratified mix)."""
        from translink.sampling import doc_sample_stratified
        return doc_sample_stratified(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    q["doc_sample_stratified"] = q_sample_stratified

    # -- corpus-wide boilerplate mining (top-k frequent n-grams) -----------
    def q_top_ngrams(spark, sf_dir):
        from translink.textops import corpus_top_ngrams
        return corpus_top_ngrams(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), n=3, k=20
        )
    q["doc_top_ngrams"] = q_top_ngrams

    # -- per-source exact length percentiles (integer-exact histogram) -----
    def q_source_percentiles(spark, sf_dir):
        from translink.textops import doc_source_percentiles
        return doc_source_percentiles(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    q["doc_source_percentiles"] = q_source_percentiles

    def q_source_profile_sketch(spark, sf_dir):
        """Sketch twin of the per-source profile: GK quantile sketch +
        HLL++ distinct — bounded memory per group at any corpus size.
        Rows-only (sketch internals are engine-specific); pytest pins the
        quantiles exactly (groups < accuracy degrade GK to a full buffer)
        and HLL within 3 standard errors of the exact operators."""
        from translink.textops import doc_source_profile_sketch
        return doc_source_profile_sketch(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    q["doc_source_profile_sketch"] = q_source_profile_sketch

    # -- fixed-window (tumbling) event-time aggregation ---------------------
    def q_event_windows(spark, sf_dir):
        """Batch twin of translink.streaming.windows.windowed_stream with the
        repo's deterministic-double-sum fold (sorted values, round 9) so the
        order-dependent sum cannot drift from the DuckDB oracle; the library
        API keeps the natural F.sum."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
            F.col("ts").isNotNull()
        )
        return (
            ev.groupBy(F.window(F.col("ts"), "10 minutes").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.array_sort(
                    F.collect_list(F.coalesce("value", F.lit(0.0)))
                ).alias("_v"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n_events",
                F.round(
                    F.expr("aggregate(_v, cast(0.0 as double), (acc, v) -> acc + v)"),
                    9,
                ).alias("total_value"),
            )
        )
    q["event_window_stats"] = q_event_windows

    # -- composite curation verdict (all gates, one row per document) -------
    def q_curation_verdict(spark, sf_dir):
        """Dedup-keep x quality x language gates joined on the 8-byte id;
        expression dedup lane so the DuckDB oracle can replay it."""
        from translink.textops import doc_curation_verdict
        return doc_curation_verdict(_docs(spark, sf_dir))
    q["doc_curation_verdict"] = q_curation_verdict

    # -- event-time interval join (stream-stream capable) --------------------
    def q_event_interval_join(spark, sf_dir):
        """Batch twin of translink.streaming.joins.interval_join_events:
        purchases x same-user views within the trailing hour. Equi-key
        sort-merge with a range residual — broadcast-free, no pair blowup
        beyond the contracted matches."""
        from translink.streaming.joins import interval_join_events
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
            F.col("ts").isNotNull()
        )
        return interval_join_events(
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") == "view"),
            horizon_minutes=60,
        )
    q["event_interval_join"] = q_event_interval_join

    # -- multi-dimensional aggregation (pivot matrix + rollup hierarchy) ----
    def q_lang_source_matrix(spark, sf_dir):
        """Pinned pivot values: one hash aggregation, schema-stable (no
        driver-side distinct pass to discover columns)."""
        from translink.rollup import doc_lang_source_matrix
        return doc_lang_source_matrix(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    q["doc_lang_source_matrix"] = q_lang_source_matrix

    def q_source_lang_rollup(spark, sf_dir):
        from translink.rollup import doc_source_lang_rollup
        return doc_source_lang_rollup(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
    q["doc_source_lang_rollup"] = q_source_lang_rollup

    # -- trailing range-frame rolling aggregates ----------------------------
    def q_event_rolling(spark, sf_dir):
        """RANGE frame on a microsecond-granular key; rolling sum folded in
        sorted order (deterministic-double-sum discipline)."""
        from translink.temporal import rolling_event_stats
        return rolling_event_stats(
            spark.read.parquet(f"{sf_dir}/events.parquet"), hours=24
        )
    q["event_rolling_stats"] = q_event_rolling

    # -- as-of (temporal) join over the event stream ------------------------
    def q_event_asof(spark, sf_dir):
        """Union + one partitioned sort — the scalable ASOF encoding (no
        range-join pair blowup, no broadcast)."""
        from translink.temporal import event_asof_view_before_purchase
        return event_asof_view_before_purchase(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        )
    q["event_asof_join"] = q_event_asof

    # -- two-corpus record linkage (A-vs-B mutual-best matching) ------------
    def _link_scored_with_payload(spark, sf_dir):
        """Shared A×B scored-pair base of the linkage queries: the base
        corpus (side A) against the planted re-delivery corpus (the
        ``_dup``/``_nd`` conversations, side B), each side through
        ``linkage.prep_corpus``; blocking salted over the COMBINED
        population, A×B sort-merge pairs, engine score blend, numeric
        payloads carried for the comparison vectors."""
        from translink.linkage import link_candidate_pairs, prep_corpus

        t = derive_transcripts(spark, sf_dir)
        is_b = (
            F.col("conv_id").endswith("_dup")
            | F.col("conv_id").endswith("_nd")
        )
        pairs = link_candidate_pairs(
            prep_corpus(t.filter(~is_b), CFG),
            prep_corpus(t.filter(is_b), CFG), CFG,
            payload_cols=["canon_text", "shingles", "total_chars"],
        )
        return score_pairs(pairs, CFG, include_jaro_winkler=False)

    def q_link_matches(spark, sf_dir):
        """Classic record linkage: the shared A×B scored pairs resolved by
        greedy mutual-best one-to-one (translink/linkage.py). Every
        matched pair is one entity present in both corpora."""
        from translink.linkage import mutual_best_matches

        return mutual_best_matches(
            _link_scored_with_payload(spark, sf_dir), CFG
        ).select("conv_id_a", "conv_id_b", "token_jaccard", "score")
    q["link_matches"] = q_link_matches

    # -- Fellegi–Sunter match weights (fixed params — the auditable,
    #    ANSI-reproducible lane; weights are Python-computed literals) ------
    def q_link_fs_scores(spark, sf_dir):
        from translink.fellegi_sunter import (
            comparison_vectors, fs_weight_expr,
        )

        g = comparison_vectors(_link_scored_with_payload(spark, sf_dir), CFG)
        return g.withColumn("match_weight", fs_weight_expr()).select(
            "conv_id_a", "conv_id_b", "g_jac", "g_lev", "g_prefix", "g_len",
            "match_weight",
        )
    q["link_fs_scores"] = q_link_fs_scores

    # -- Fellegi–Sunter EM linkage (unsupervised m/u/λ fit; the EM loop is
    #    driver arithmetic over ≤36 SORTED pattern counts, so a DuckDB twin
    #    aggregating the same gammas fits bit-identical parameters and the
    #    converged weights/posteriors compare as shared literals) ----------
    def q_link_fs_matches(spark, sf_dir):
        from translink.fellegi_sunter import (
            comparison_vectors, fs_em_fit, fs_posterior_literal_expr,
            fs_weight_expr, fs_weight_threshold,
        )
        from translink.linkage import mutual_best_matches

        # the gamma frame feeds TWO consumers (the EM pattern aggregate and
        # the posterior scoring) — checkpoint so the candidate-generation
        # lineage runs once, the same discipline as q_cluster_similarity
        g = comparison_vectors(
            _link_scored_with_payload(spark, sf_dir), CFG
        ).localCheckpoint()
        params = fs_em_fit(g)
        # rank + threshold on match_weight (a sum of literals, exactly
        # cross-engine-reproducible), never on the pow-derived posterior;
        # match_prob itself is a per-pattern Python literal (≤36 branches)
        probd = (
            g.withColumn("match_weight", fs_weight_expr(params))
            .withColumn("match_prob", fs_posterior_literal_expr(params))
            .withColumn("score", F.col("match_weight"))
        )
        thr = fs_weight_threshold(0.95, params)
        return mutual_best_matches(probd, CFG, threshold=thr).select(
            "conv_id_a", "conv_id_b", "match_weight", "match_prob"
        )
    q["link_fs_matches"] = q_link_fs_matches

    # -- Fellegi–Sunter three-region decision rule (the 1969 theorem:
    #    link / possible-link (clerical review) / non-link regions chosen
    #    to minimize the review region under tolerable error rates μ, λ;
    #    thresholds are driver arithmetic over ≤36 model-probability
    #    patterns, embedded as shared literals in both engines) ----------
    def q_link_fs_decisions(spark, sf_dir):
        from translink.fellegi_sunter import (
            comparison_vectors, fs_decide, fs_thresholds_from_error_rates,
            fs_weight_expr,
        )

        g = comparison_vectors(_link_scored_with_payload(spark, sf_dir), CFG)
        upper, lower = fs_thresholds_from_error_rates(mu=0.001, lam_err=0.02)
        w = g.withColumn("match_weight", fs_weight_expr())
        return fs_decide(w, upper, lower).select(
            "conv_id_a", "conv_id_b", "match_weight", "decision"
        )
    q["link_fs_decisions"] = q_link_fs_decisions

    # -- Clerical-review queue (the work queue the FS three-region rule
    #    exists to bound): every 'possible' pair ranked per left record
    #    by descending weight, shortlist capped at 5 — the rank window
    #    partitions per record, never globally. ------------------------
    def q_link_review_queue(spark, sf_dir):
        from translink.fellegi_sunter import (
            comparison_vectors, fs_decide, fs_review_queue,
            fs_thresholds_from_error_rates, fs_weight_expr,
        )

        g = comparison_vectors(_link_scored_with_payload(spark, sf_dir), CFG)
        upper, lower = fs_thresholds_from_error_rates(mu=0.001, lam_err=0.02)
        w = g.withColumn("match_weight", fs_weight_expr())
        return fs_review_queue(
            fs_decide(w, upper, lower), per_record_cap=5
        ).select("conv_id_a", "conv_id_b", "match_weight", "queue_pos")
    q["link_review_queue"] = q_link_review_queue

    # -- Fellegi–Sunter term-frequency adjustment (value-specific u for
    #    the exact-match prefix field — FS 1969 §3.3 frequency weights /
    #    Splink term_frequency_adjustments): agreement on a RARE prefix
    #    outweighs agreement on corpus boilerplate. Posterior stays
    #    rational ((C/n)/(1+C/n), C a Python-folded literal) so no
    #    runtime log/pow enters the cross-engine comparison; the twin
    #    folds L=C/N and multiplies by a runtime COUNT(*) column —
    #    bit-identical (exact int→double, IEEE mult). ------------------
    def q_link_fs_tf_scores(spark, sf_dir):
        from translink.fellegi_sunter import (
            comparison_vectors, fs_score_tf, prefix_tf,
        )

        c = _spark_canonical(spark, sf_dir)
        n_total = c.count()  # one scalar action (same bound as the EM lane)
        g = comparison_vectors(_link_scored_with_payload(spark, sf_dir), CFG)
        return fs_score_tf(g, prefix_tf(c), n_total).select(
            "conv_id_a", "conv_id_b", "g_prefix", "n_prefix", "match_prob_tf"
        )
    q["link_fs_tf_scores"] = q_link_fs_tf_scores

    def q_mm_image_features(spark, sf_dir):
        """Multimodal image lane end-to-end on REAL containers: documents
        derive a deterministic PNG asset table map-side
        (assets_from_documents tiles each text's UTF-8 bytes into a 24x24
        gray image, pure-stdlib encode), then the distributed real-decode
        kernel (extract_features fake_decode=False) returns dims from IHDR
        and a digest of the DECODED pixels. Reference analog: MIME
        magic detection + content fingerprinting over scanned files
        (src/pipeline/quick_check.rs:292-330). Rows-only — zlib/blake2b
        have no SQL twin; tests/test_multimodal.py pins codec round-trips
        and the corrupt-vs-unsupported error taxonomy."""
        from translink.multimodal import assets_from_documents, extract_features
        assets = assets_from_documents(_docs(spark, sf_dir), media_type="image")
        return extract_features(assets, fake_decode=False)
    q["mm_image_features"] = q_mm_image_features

    def q_mm_audio_chunks(spark, sf_dir):
        """Multimodal audio lane: documents -> deterministic 8-bit PCM
        RIFF/WAVE payloads -> real decode_wav with overlapping windows
        timed by the stream's own sample rate (chunk_audio
        fake_decode=False). Output cardinality grows past the input's (one
        row per window). Rows-only; windowing arithmetic and codec
        round-trip pinned in tests/test_multimodal.py."""
        from translink.multimodal import assets_from_documents, chunk_audio
        # 1 kHz 8-bit PCM = 1 byte/ms, so a median ~300-char doc spans
        # ~300 ms -> ~6 overlapping windows; cardinality varies per doc.
        assets = assets_from_documents(
            _docs(spark, sf_dir), media_type="audio", sample_rate=1000
        )
        return chunk_audio(assets, window_ms=100, hop_ms=50, fake_decode=False)
    q["mm_audio_chunks"] = q_mm_audio_chunks

    # -- Multimodal METADATA lane with a full oracle twin: the decode-
    #    derived columns of mm_image_features / mm_audio_chunks stay
    #    rows-only (zlib inflate / blake2b digests have no SQL twin), but
    #    every metadata column — container magic from the payload's hex
    #    prefix, PNG IHDR dims, WAV fmt/data chunk arithmetic, window
    #    counts — is parsed HERE from the real container bytes with pure
    #    JVM expressions, and DuckDB reproduces the same values from the
    #    derivation arithmetic alone (assets_from_documents tiles utf-8
    #    bytes: 24x24 gray PNG; 8-bit mono PCM of min(bytes, 4000)
    #    samples at 1 kHz). A hash MATCH certifies the whole encode →
    #    container → byte-parse chain. Reference analog: byte-prefix MIME
    #    detection, src/pipeline/quick_check.rs:292-330. ---------------
    def q_mm_asset_meta(spark, sf_dir):
        from translink.multimodal import assets_from_documents

        docs = _docs(spark, sf_dir)

        def be32(off):
            # big-endian u32 at 1-indexed byte offset (PNG network order)
            return F.conv(
                F.hex(F.expr(f"substring(payload, {off}, 4)")), 16, 10
            ).cast("long")

        def le32(off):
            # little-endian u32 (RIFF): byte-reversed hex, then conv
            return F.conv(
                F.concat(*[
                    F.hex(F.expr(f"substring(payload, {off + i}, 1)"))
                    for i in (3, 2, 1, 0)
                ]), 16, 10,
            ).cast("long")

        def le16(off):
            # little-endian u16 (GIF logical screen descriptor)
            return F.conv(
                F.concat(
                    F.hex(F.expr(f"substring(payload, {off + 1}, 1)")),
                    F.hex(F.expr(f"substring(payload, {off}, 1)")),
                ), 16, 10,
            ).cast("long")

        nul = F.lit(None).cast("long")
        img = assets_from_documents(docs, media_type="image").select(
            "asset_id", F.lit("image").alias("kind"),
            F.when(
                F.hex(F.expr("substring(payload, 1, 8)"))
                == F.lit("89504E470D0A1A0A"), "png",
            ).otherwise("other").alias("magic"),
            be32(17).alias("width"), be32(21).alias("height"),
            nul.alias("sample_rate"), nul.alias("n_samples"),
            nul.alias("n_bytes"), nul.alias("n_chunks"),
            nul.alias("n_frames"),
        )
        vid = assets_from_documents(docs, media_type="video").select(
            "asset_id", F.lit("video").alias("kind"),
            F.when(
                (F.hex(F.expr("substring(payload, 1, 4)"))
                 == F.lit("52494646"))
                & (F.hex(F.expr("substring(payload, 9, 4)"))
                   == F.lit("41564920")),  # 'AVI '
                "avi",
            ).otherwise("other").alias("magic"),
            # avih main header at fixed writer offsets: dwWidth/dwHeight
            # at avih+32/+36, dwTotalFrames at avih+16 (all LE u32)
            le32(65).alias("width"), le32(69).alias("height"),
            nul.alias("sample_rate"), nul.alias("n_samples"),
            nul.alias("n_bytes"), nul.alias("n_chunks"),
            le32(49).alias("n_frames"),
        )
        gif = assets_from_documents(docs, media_type="gif").select(
            "asset_id", F.lit("gif").alias("kind"),
            F.when(
                F.hex(F.expr("substring(payload, 1, 6)"))
                == F.lit("474946383961"), "gif",  # 'GIF89a'
            ).otherwise("other").alias("magic"),
            # logical-screen dims: little-endian u16 at bytes 7-8 / 9-10
            le16(7).alias("width"), le16(9).alias("height"),
            nul.alias("sample_rate"), nul.alias("n_samples"),
            nul.alias("n_bytes"), nul.alias("n_chunks"),
            nul.alias("n_frames"),
        )
        n_samples = le32(41)  # WAV data-chunk length; 1 byte per sample
        aud = assets_from_documents(
            docs, media_type="audio", sample_rate=1000
        ).select(
            "asset_id", F.lit("audio").alias("kind"),
            F.when(
                (F.hex(F.expr("substring(payload, 1, 4)"))
                 == F.lit("52494646"))
                & (F.hex(F.expr("substring(payload, 9, 4)"))
                   == F.lit("57415645")),
                "wav",
            ).otherwise("other").alias("magic"),
            nul.alias("width"), nul.alias("height"),
            le32(25).alias("sample_rate"),
            n_samples.alias("n_samples"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
            # q_mm_audio_chunks arithmetic (window 100 ms / hop 50 ms at
            # the stream's own 1 kHz rate -> hop = 50 frames): windows
            # start at 0, 50, ... while off < n  =>  ceil(n / 50)
            F.ceil(n_samples / F.lit(50.0)).cast("long").alias("n_chunks"),
            nul.alias("n_frames"),
        )
        return img.unionByName(gif).unionByName(vid).unionByName(aud)
    q["mm_asset_meta"] = q_mm_asset_meta

    # -- Fellegi–Sunter match-weight waterfall (per-field evidence ledger,
    #    the Splink waterfall-chart data): every pair's prior weight plus
    #    one literal-CASE column per comparison field, summed in the same
    #    left-to-right order as the scoring lane — pure map-side, zero
    #    aggregation. ---------------------------------------------------
    def q_link_fs_waterfall(spark, sf_dir):
        from translink.fellegi_sunter import comparison_vectors, fs_waterfall

        g = comparison_vectors(_link_scored_with_payload(spark, sf_dir), CFG)
        return fs_waterfall(g).select(
            "conv_id_a", "conv_id_b", "w_prior", "w_jac", "w_lev",
            "w_prefix", "w_len", "match_weight",
        )
    q["link_fs_waterfall"] = q_link_fs_waterfall

    # -- Unlinkables report (coverage diagnostic): A-side records with no
    #    candidate at all (blocking miss) or none above threshold
    #    (scoring miss) — one aggregate over the sparse pair set + one
    #    key join back to the corpus. -----------------------------------
    def q_link_unlinkables(spark, sf_dir):
        from translink.linkage import unlinkable_records

        c = _spark_canonical(spark, sf_dir)
        is_b = (
            F.col("conv_id").endswith("_dup")
            | F.col("conv_id").endswith("_nd")
        )
        return unlinkable_records(
            c.filter(~is_b), _link_scored_with_payload(spark, sf_dir), CFG
        )
    q["link_unlinkables"] = q_link_unlinkables

    # -- Per-record candidate shortlist (the reviewer's view BEFORE the
    #    one-to-one resolution): each A record's top-3 B candidates by
    #    blend score — one per-record rank window, never global. --------
    def q_link_topk_candidates(spark, sf_dir):
        scored = _link_scored_with_payload(spark, sf_dir)
        w = Window.partitionBy("conv_id_a").orderBy(
            F.col("score").desc(), F.col("conv_id_b").asc()
        )
        return (
            scored.withColumn("cand_rank", F.row_number().over(w))
            .filter(F.col("cand_rank") <= 3)
            .select("conv_id_a", "conv_id_b", "score",
                    F.col("cand_rank").cast("int").alias("cand_rank"))
        )
    q["link_topk_candidates"] = q_link_topk_candidates

    # -- Linkage evaluation: P/R/F1 of the mutual-best match set against
    #    the corpus's planted A<->B truth (every base <-> _dup/_nd twin).
    #    One full-outer pair join + one aggregate; metrics are single
    #    IEEE divisions of exact ints (threshold_sweep discipline). -----
    def q_link_eval(spark, sf_dir):
        from translink.linkage import mutual_best_matches

        scored = _link_scored_with_payload(spark, sf_dir)
        matches = mutual_best_matches(scored, CFG).select(
            "conv_id_a", "conv_id_b"
        )
        conv = _spark_canonical(spark, sf_dir).select("conv_id")
        truth = (
            conv.filter(F.col("conv_id").endswith("_dup")).select(
                F.expr("substring(conv_id, 1, length(conv_id) - 4)")
                .alias("conv_id_a"),
                F.col("conv_id").alias("conv_id_b"),
            )
            .unionByName(
                conv.filter(F.col("conv_id").endswith("_nd")).select(
                    F.expr("substring(conv_id, 1, length(conv_id) - 3)")
                    .alias("conv_id_a"),
                    F.col("conv_id").alias("conv_id_b"),
                )
            )
            .distinct()
        )
        u = matches.withColumn("in_m", F.lit(True)).join(
            truth.withColumn("in_t", F.lit(True)),
            ["conv_id_a", "conv_id_b"], "full_outer",
        )
        agg = u.agg(
            F.sum(F.when(F.col("in_m").isNotNull(), 1).otherwise(0))
            .alias("n_matches"),
            F.sum(F.when(F.col("in_t").isNotNull(), 1).otherwise(0))
            .alias("n_true"),
            F.sum(F.when(F.col("in_m").isNotNull()
                         & F.col("in_t").isNotNull(), 1).otherwise(0))
            .alias("tp"),
        )
        tp = F.col("tp")
        div = lambda num, den: F.when(  # noqa: E731
            den == 0, F.lit(None).cast("double")
        ).otherwise(num.cast("double") / den)
        return agg.select(
            "n_matches", "n_true", "tp",
            div(tp, F.col("n_matches")).alias("precision"),
            div(tp, F.col("n_true")).alias("recall"),
            div(tp * 2, F.col("n_matches") + F.col("n_true")).alias("f1"),
        )
    q["link_eval"] = q_link_eval

    # -- Same evaluation for the schema-free meta linkage lane: P/R/F1 of
    #    the mutual-best assignment over bipartite key-Jaccard weights. --
    def q_link_meta_eval(spark, sf_dir):
        from translink.linkage import mutual_best_matches
        from translink.metablocking import (
            link_meta_pairs, shingle_block_keys,
        )

        canonical = _spark_canonical(spark, sf_dir)
        is_b = (F.col("conv_id").endswith("_dup")
                | F.col("conv_id").endswith("_nd"))
        ka = shingle_block_keys(canonical.filter(~is_b), CFG) \
            .localCheckpoint(eager=True)
        kb = shingle_block_keys(canonical.filter(is_b), CFG) \
            .localCheckpoint(eager=True)
        scored = link_meta_pairs(ka, kb, CFG) \
            .withColumnRenamed("weight", "score")
        matches = mutual_best_matches(scored, CFG).select(
            "conv_id_a", "conv_id_b"
        )
        conv = canonical.select("conv_id")
        truth = (
            conv.filter(F.col("conv_id").endswith("_dup")).select(
                F.expr("substring(conv_id, 1, length(conv_id) - 4)")
                .alias("conv_id_a"),
                F.col("conv_id").alias("conv_id_b"),
            )
            .unionByName(
                conv.filter(F.col("conv_id").endswith("_nd")).select(
                    F.expr("substring(conv_id, 1, length(conv_id) - 3)")
                    .alias("conv_id_a"),
                    F.col("conv_id").alias("conv_id_b"),
                )
            )
            .distinct()
        )
        u = matches.withColumn("in_m", F.lit(True)).join(
            truth.withColumn("in_t", F.lit(True)),
            ["conv_id_a", "conv_id_b"], "full_outer",
        )
        agg = u.agg(
            F.sum(F.when(F.col("in_m").isNotNull(), 1).otherwise(0))
            .alias("n_matches"),
            F.sum(F.when(F.col("in_t").isNotNull(), 1).otherwise(0))
            .alias("n_true"),
            F.sum(F.when(F.col("in_m").isNotNull()
                         & F.col("in_t").isNotNull(), 1).otherwise(0))
            .alias("tp"),
        )
        tp = F.col("tp")
        div = lambda num, den: F.when(  # noqa: E731
            den == 0, F.lit(None).cast("double")
        ).otherwise(num.cast("double") / den)
        return agg.select(
            "n_matches", "n_true", "tp",
            div(tp, F.col("n_matches")).alias("precision"),
            div(tp, F.col("n_true")).alias("recall"),
            div(tp * 2, F.col("n_matches") + F.col("n_true")).alias("f1"),
        )
    q["link_meta_eval"] = q_link_meta_eval

    # -- Per-cluster evidence-graph diagnostics (over-merge audit): edge
    #    counts per evidence lane, minimum similarity edge score, and
    #    similarity-graph density for every multi-member cluster. -------
    def q_cluster_graph_stats(spark, sf_dir):
        from translink.clustering import clusters_by_contraction, exact_edges
        from translink.evaluate import cluster_graph_stats

        # scored pairs feed both the cluster edges and the per-cluster edge
        # stats, and the signed frame feeds both the contraction and the
        # star edges — checkpoint each once (q_cluster_similarity
        # discipline) so the canonicalize/score lineage runs a single time
        scored = _spark_scored_pairs(spark, sf_dir).select(
            "conv_id_a", "conv_id_b", "score"
        ).localCheckpoint(eager=True)
        signed = with_exact_digest(
            _spark_canonical(spark, sf_dir)
        ).localCheckpoint(eager=True)
        sim = scored.filter(F.col("score") >= CFG.threshold).select(
            F.col("conv_id_a").alias("src"),
            F.col("conv_id_b").alias("dst"),
            "score",
        )
        cl = clusters_by_contraction(signed, sim.select("src", "dst"), CFG)
        return cluster_graph_stats(cl, sim, exact_edges(signed))
    q["cluster_graph_stats"] = q_cluster_graph_stats

    # -- Cluster threshold-stability (split report): the same evidence
    #    re-clustered at a stricter threshold; per base cluster, how many
    #    strict sub-clusters its members scatter into. ------------------
    def q_cluster_stability(spark, sf_dir):
        from translink.clustering import clusters_by_contraction
        from translink.evaluate import cluster_stability

        scored = _spark_scored_pairs(spark, sf_dir).select(
            "conv_id_a", "conv_id_b", "score"
        ).localCheckpoint(eager=True)
        signed = with_exact_digest(
            _spark_canonical(spark, sf_dir)
        ).localCheckpoint(eager=True)

        def cc(thr):
            e = scored.filter(F.col("score") >= thr).select(
                F.col("conv_id_a").alias("src"),
                F.col("conv_id_b").alias("dst"),
            )
            return clusters_by_contraction(signed, e, CFG)

        return cluster_stability(cc(CFG.threshold), cc(STRICT_THRESHOLD))
    q["cluster_stability"] = q_cluster_stability

    # -- Glue edges: the specific near-threshold edges whose removal at
    #    the strict threshold splits a base cluster — the named culprits
    #    behind every cluster_stability n_sub > 1. -----------------------
    def q_cluster_glue_edges(spark, sf_dir):
        from translink.clustering import clusters_by_contraction
        from translink.evaluate import cluster_glue_edges

        scored = _spark_scored_pairs(spark, sf_dir).select(
            "conv_id_a", "conv_id_b", "score"
        ).localCheckpoint(eager=True)
        signed = with_exact_digest(
            _spark_canonical(spark, sf_dir)
        ).localCheckpoint(eager=True)

        def cc(thr):
            e = scored.filter(F.col("score") >= thr).select(
                F.col("conv_id_a").alias("src"),
                F.col("conv_id_b").alias("dst"),
            )
            return clusters_by_contraction(signed, e, CFG)

        sim = scored.filter(F.col("score") >= CFG.threshold).select(
            F.col("conv_id_a").alias("src"),
            F.col("conv_id_b").alias("dst"),
            "score",
        )
        return cluster_glue_edges(cc(CFG.threshold), cc(STRICT_THRESHOLD), sim)
    q["cluster_glue_edges"] = q_cluster_glue_edges

    # -- Edge-level threshold calibration sweep: P/R/F1 of the thresholded
    #    edge set against the corpus's planted true pairs at each grid
    #    value — the tuning curve behind cfg.threshold. One full-outer
    #    pair join + explode-by-grid + one aggregate. -------------------
    def q_threshold_sweep(spark, sf_dir):
        from translink.evaluate import threshold_sweep

        scored = _spark_scored_pairs(spark, sf_dir).select(
            "conv_id_a", "conv_id_b", "score"
        )
        conv = _spark_canonical(spark, sf_dir).select("conv_id")
        truth = (
            conv.filter(F.col("conv_id").endswith("_dup")).select(
                F.expr("substring(conv_id, 1, length(conv_id) - 4)")
                .alias("conv_id_a"),
                F.col("conv_id").alias("conv_id_b"),
            )
            .unionByName(
                conv.filter(F.col("conv_id").endswith("_nd")).select(
                    F.expr("substring(conv_id, 1, length(conv_id) - 3)")
                    .alias("conv_id_a"),
                    F.col("conv_id").alias("conv_id_b"),
                )
            )
        )
        return threshold_sweep(scored, truth, SWEEP_GRID)
    q["threshold_sweep"] = q_threshold_sweep

    # -- Fitted FS model card: the EM-converged m/u tables, per-level
    #    match weights, and the prior — the auditable parameter surface
    #    behind every posterior. One distributed pattern aggregation
    #    (fs_em_fit's single pass), then ≤11 driver-literal rows; the
    #    DuckDB twin fits the SAME EM from its own aggregation of the
    #    same gammas, so a MATCH certifies the distributed count pass. --
    def q_link_fs_params(spark, sf_dir):
        from translink.fellegi_sunter import (
            FIELDS, comparison_vectors, fs_em_fit,
        )

        g = comparison_vectors(_link_scored_with_payload(spark, sf_dir), CFG)
        params = fs_em_fit(g)
        w = params.weights()
        rows = [
            (k, lvl, params.m[k][lvl], params.u[k][lvl], w[k][lvl])
            for k in FIELDS for lvl in range(FIELDS[k])
        ]
        rows.append(("lambda", 0, params.lam, None, None))
        return spark.createDataFrame(
            rows, "field string, level int, m double, u double, weight double"
        )
    q["link_fs_params"] = q_link_fs_params

    # Driver-coverage ROTATION (the harness sweeps ~50 queries in
    # registration order per round): round 4 checked exactly the 50 names
    # below (= CORRECTNESS_r04.json's keys), so round 5 moves the 49
    # queries WITHOUT an r4 row to the front, followed by the one
    # never-checked newcomer (mm_asset_meta) — the front is exactly 50 and
    # union(r4, r5) covers every registered query with <= 1-round
    # staleness. Pure reordering — every (name, callable) is unchanged.
    r4_checked = [
        "meta_shingle_pairs", "meta_shingle_pairs_pruned", "meta_blocking_eval",
        "meta_shingle_pairs_wnp", "link_meta_pairs",
        "blocking_volume_forecast", "link_meta_matches", "link_meta_eval",
        "doc_meta_dedup_pairs",
        "link_fs_waterfall", "link_unlinkables",
        "cluster_graph_stats", "cluster_stability", "threshold_sweep",
        "link_fs_params", "cluster_glue_edges", "link_topk_candidates",
        "link_eval",
        "link_fs_tf_scores", "link_review_queue",
        "blocking_eval", "link_fs_decisions", "dedup_eval_bcubed",
        "mm_image_features", "mm_audio_chunks",
        "link_matches", "link_fs_scores", "link_fs_matches",
        "emb_dup_pairs", "emb_dup_clusters", "emb_semantic_dedup",
        "pipeline_clusters_full", "dedup_stats",
        "doc_sample_frac", "doc_sample_stratified",
        "doc_source_percentiles", "doc_source_profile_sketch",
        "doc_top_ngrams", "doc_curation_verdict",
        "doc_repetition", "doc_repetition_fast",
        "doc_passage_stats", "doc_passage_stats_fast",
        "doc_lang_source_matrix", "doc_source_lang_rollup",
        "event_window_stats", "event_rolling_stats",
        "event_asof_join", "event_interval_join",
        "canonicalize",
    ]
    assert set(r4_checked) <= set(q), sorted(set(r4_checked) - set(q))
    front = {
        name: fn for name, fn in q.items()
        if name not in r4_checked and name != "mm_asset_meta"
    }
    front["mm_asset_meta"] = q["mm_asset_meta"]
    return front | {name: q[name] for name in r4_checked}


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["canonicalize"] = f"""
WITH {_TRANSCRIPTS_SQL}
SELECT conv_id, n_turns, total_chars, md5(canon_text) AS canon_md5,
       first_ts, max_ts
FROM canonical
"""

    o["exact_dup_clusters"] = f"""
WITH {_TRANSCRIPTS_SQL}
SELECT conv_id,
       min(conv_id) OVER (PARTITION BY canon_text) AS cluster_id,
       CAST(count(*) OVER (PARTITION BY canon_text) AS BIGINT) AS group_size
FROM canonical
QUALIFY group_size >= 2
"""

    o["block_stats"] = f"""
WITH {_TRANSCRIPTS_SQL}
SELECT concat(CAST(n_turns AS VARCHAR), '|',
              CAST(CAST(floor(total_chars / {CFG.length_bucket}) AS BIGINT) AS VARCHAR)) AS block_key,
       CAST(count(*) AS BIGINT) AS block_size
FROM canonical
GROUP BY 1 HAVING count(*) >= 2
"""

    o["candidate_pairs"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}
SELECT conv_id_a, conv_id_b, block_key, salt FROM cand_pairs
"""

    o["blocking_eval"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL},
cand AS (
  SELECT DISTINCT least(conv_id_a, conv_id_b) AS lo,
                  greatest(conv_id_a, conv_id_b) AS hi
  FROM cand_pairs
),
truth AS (
  SELECT DISTINCT least(substr(conv_id, 1, length(conv_id) - 4), conv_id) AS lo,
                  greatest(substr(conv_id, 1, length(conv_id) - 4), conv_id) AS hi
  FROM canonical WHERE ends_with(conv_id, '_dup')
  UNION
  SELECT DISTINCT least(substr(conv_id, 1, length(conv_id) - 3), conv_id),
                  greatest(substr(conv_id, 1, length(conv_id) - 3), conv_id)
  FROM canonical WHERE ends_with(conv_id, '_nd')
),
u AS (
  SELECT c.lo IS NOT NULL AS in_c, t.lo IS NOT NULL AS in_t
  FROM cand c FULL OUTER JOIN truth t ON c.lo = t.lo AND c.hi = t.hi
)
SELECT
  CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
  CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  CAST(sum(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT)
    AS n_true_covered,
  CAST(sum(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS DOUBLE)
    / sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS pairs_completeness,
  CAST(sum(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS DOUBLE)
    / sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS pairs_quality
FROM u
"""

    # Meta-blocking lane (translink/metablocking.py). Shingling is the
    # engine-shared family (_shingles_sql / TOKENIZE_PATTERN); the JS
    # weight is one IEEE division of exact int64s; CNP rank ties break on
    # the neighbor id — every step is reproducible ANSI SQL, so the whole
    # lane gets full oracle twins.
    _META_SQL = f"""
meta_toks AS (
  SELECT conv_id,
         unnest({_shingles_sql(f'substr(canon_text, 1, {CFG.meta_text_cap})',
                               CFG.shingle_size)}) AS key
  FROM canonical
),
meta_filt AS (
  -- block FILTERING first, on raw block sizes: per record keep the
  -- {CFG.meta_keys_per_record} most selective keys (smallest block,
  -- then key) — the scale-invariant recall guard
  SELECT conv_id, key FROM (
    SELECT conv_id, key,
           row_number() OVER (PARTITION BY conv_id ORDER BY bs, key) AS rk
    FROM (
      SELECT conv_id, key, count(*) OVER (PARTITION BY key) AS bs
      FROM meta_toks
    )
  ) WHERE rk <= {CFG.meta_keys_per_record}
),
meta_kept AS (
  -- hard fan-out guard on the POST-FILTER blocks; singletons pair
  -- nothing in the join below but count in meta_nk (the JS denominator)
  SELECT conv_id, key FROM (
    SELECT conv_id, key, count(*) OVER (PARTITION BY key) AS bs
    FROM meta_filt
  ) WHERE bs <= {CFG.meta_purge_size}
),
meta_nk AS (SELECT conv_id, count(*) AS nk FROM meta_kept GROUP BY 1),
meta_w AS (
  SELECT p.conv_id_a, p.conv_id_b, p.common_keys,
         CAST(p.common_keys AS DOUBLE) / (na.nk + nb.nk - p.common_keys)
           AS weight
  FROM (
    SELECT a.conv_id AS conv_id_a, b.conv_id AS conv_id_b,
           CAST(count(*) AS BIGINT) AS common_keys
    FROM meta_kept a JOIN meta_kept b
      ON a.key = b.key AND a.conv_id < b.conv_id
    GROUP BY 1, 2
  ) p
  JOIN meta_nk na ON p.conv_id_a = na.conv_id
  JOIN meta_nk nb ON p.conv_id_b = nb.conv_id
)"""

    o["meta_shingle_pairs"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_META_SQL}
SELECT conv_id_a, conv_id_b, common_keys, weight FROM meta_w
"""

    o["meta_shingle_pairs_pruned"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_META_SQL},
meta_directed AS (
  SELECT conv_id_a AS src, conv_id_b AS dst, weight FROM meta_w
  UNION ALL
  SELECT conv_id_b, conv_id_a, weight FROM meta_w
),
meta_keep AS (
  SELECT DISTINCT least(src, dst) AS conv_id_a,
                  greatest(src, dst) AS conv_id_b
  FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src
             ORDER BY weight DESC, dst) AS rk
    FROM meta_directed
  ) WHERE rk <= {CFG.meta_top_k}
)
SELECT w.conv_id_a, w.conv_id_b, w.common_keys, w.weight
FROM meta_w w JOIN meta_keep USING (conv_id_a, conv_id_b)
"""

    o["blocking_volume_forecast"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_META_SQL},
attr_sizes AS (
  SELECT block_key, salt, count(*) AS bs FROM salted GROUP BY 1, 2
),
meta_sizes AS (
  SELECT key, count(*) AS bs FROM meta_kept GROUP BY 1
)
SELECT 'attribute' AS lane,
       CAST(coalesce(sum(bs), 0) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(coalesce(max(bs), 0) AS BIGINT) AS max_block_size,
       CAST(coalesce(sum(bs * (bs - 1) / 2), 0) AS BIGINT) AS join_pairs
FROM attr_sizes
UNION ALL
SELECT 'meta_shingle',
       CAST(coalesce(sum(bs), 0) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CAST(coalesce(max(bs), 0) AS BIGINT),
       CAST(coalesce(sum(bs * (bs - 1) / 2), 0) AS BIGINT)
FROM meta_sizes
"""

    o["meta_shingle_pairs_wnp"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_META_SQL},
wnp_dir AS (
  SELECT conv_id_a AS src, conv_id_b AS dst, common_keys FROM meta_w
  UNION ALL
  SELECT conv_id_b, conv_id_a, common_keys FROM meta_w
),
wnp_keep AS (
  SELECT DISTINCT least(src, dst) AS conv_id_a,
                  greatest(src, dst) AS conv_id_b
  FROM (
    SELECT src, dst, common_keys,
           CAST(sum(common_keys) OVER (PARTITION BY src) AS DOUBLE)
             / count(*) OVER (PARTITION BY src) AS avg_w
    FROM wnp_dir
  ) WHERE CAST(common_keys AS DOUBLE) >= avg_w
)
SELECT w.conv_id_a, w.conv_id_b, w.common_keys, w.weight
FROM meta_w w JOIN wnp_keep USING (conv_id_a, conv_id_b)
"""

    _LINK_META_SQL = f"""
lm_toks AS (
  SELECT conv_id,
         CASE WHEN ends_with(conv_id, '_dup') OR ends_with(conv_id, '_nd')
              THEN 'b' ELSE 'a' END AS side,
         unnest({_shingles_sql(f'substr(canon_text, 1, {CFG.meta_text_cap})',
                               CFG.shingle_size)}) AS key
  FROM canonical
),
lm_filt AS (
  -- block FILTERING first, per (side, record), on the raw COMBINED
  -- block sizes (filter-then-purge; see the unipartite twin)
  SELECT conv_id, side, key FROM (
    SELECT conv_id, side, key,
           row_number() OVER (PARTITION BY side, conv_id
                              ORDER BY bs, key) AS rk
    FROM (
      SELECT conv_id, side, key, count(*) OVER (PARTITION BY key) AS bs
      FROM lm_toks
    )
  ) WHERE rk <= {CFG.meta_keys_per_record}
),
lm_kept AS (
  -- hard fan-out guard on the POST-FILTER combined blocks; single-side
  -- keys cross-pair nothing below but count in lm_nk (the denominator)
  SELECT conv_id, side, key FROM (
    SELECT conv_id, side, key, count(*) OVER (PARTITION BY key) AS bs
    FROM lm_filt
  ) WHERE bs <= {CFG.meta_purge_size}
),
lm_nk AS (
  SELECT side, conv_id, count(*) AS nk FROM lm_kept GROUP BY 1, 2
),
lm_w AS (
  SELECT p.conv_id_a, p.conv_id_b, p.common_keys,
         CAST(p.common_keys AS DOUBLE) / (na.nk + nb.nk - p.common_keys)
           AS weight
  FROM (
    SELECT a.conv_id AS conv_id_a, b.conv_id AS conv_id_b,
           CAST(count(*) AS BIGINT) AS common_keys
    FROM lm_kept a JOIN lm_kept b ON a.key = b.key
     AND a.side = 'a' AND b.side = 'b'
    GROUP BY 1, 2
  ) p
  JOIN lm_nk na ON p.conv_id_a = na.conv_id AND na.side = 'a'
  JOIN lm_nk nb ON p.conv_id_b = nb.conv_id AND nb.side = 'b'
)"""

    o["link_meta_pairs"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_LINK_META_SQL}
SELECT conv_id_a, conv_id_b, common_keys, weight FROM (
  SELECT *,
         row_number() OVER (PARTITION BY conv_id_a
                            ORDER BY weight DESC, conv_id_b) AS ra,
         row_number() OVER (PARTITION BY conv_id_b
                            ORDER BY weight DESC, conv_id_a) AS rb
  FROM lm_w
) WHERE ra <= {CFG.meta_top_k} OR rb <= {CFG.meta_top_k}
"""

    o["link_meta_matches"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_LINK_META_SQL},
lm_best_a AS (
  SELECT conv_id_a, conv_id_b, common_keys, weight
  FROM lm_w WHERE weight >= {CFG.threshold}
  QUALIFY row_number() OVER (PARTITION BY conv_id_a
                             ORDER BY weight DESC, conv_id_b) = 1
)
SELECT conv_id_a, conv_id_b, common_keys, weight FROM lm_best_a
QUALIFY row_number() OVER (PARTITION BY conv_id_b
                           ORDER BY weight DESC, conv_id_a) = 1
"""

    o["link_meta_eval"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_LINK_META_SQL},
lme_best_a AS (
  SELECT conv_id_a, conv_id_b, weight
  FROM lm_w WHERE weight >= {CFG.threshold}
  QUALIFY row_number() OVER (PARTITION BY conv_id_a
                             ORDER BY weight DESC, conv_id_b) = 1
),
lme_m AS (
  SELECT conv_id_a, conv_id_b FROM lme_best_a
  QUALIFY row_number() OVER (PARTITION BY conv_id_b
                             ORDER BY weight DESC, conv_id_a) = 1
),
lme_truth AS (
  SELECT DISTINCT substr(conv_id, 1, length(conv_id) - 4) AS conv_id_a,
                  conv_id AS conv_id_b
  FROM canonical WHERE ends_with(conv_id, '_dup')
  UNION
  SELECT DISTINCT substr(conv_id, 1, length(conv_id) - 3), conv_id
  FROM canonical WHERE ends_with(conv_id, '_nd')
),
lme_u AS (
  SELECT m.conv_id_a IS NOT NULL AS in_m, t.conv_id_a IS NOT NULL AS in_t
  FROM lme_m m FULL OUTER JOIN lme_truth t
    ON m.conv_id_a = t.conv_id_a AND m.conv_id_b = t.conv_id_b
),
lme_agg AS (
  SELECT CAST(sum(CASE WHEN in_m THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
         CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN in_m AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM lme_u
)
SELECT n_matches, n_true, tp,
       CASE WHEN n_matches = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / n_matches END AS "precision",
       CASE WHEN n_true = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / n_true END AS recall,
       CASE WHEN n_matches + n_true = 0 THEN NULL
            ELSE CAST(2 * tp AS DOUBLE) / (n_matches + n_true) END AS f1
FROM lme_agg
"""

    o["meta_blocking_eval"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_META_SQL},
cand AS (
  SELECT DISTINCT conv_id_a AS lo, conv_id_b AS hi FROM meta_w
),
truth AS (
  SELECT DISTINCT least(substr(conv_id, 1, length(conv_id) - 4), conv_id) AS lo,
                  greatest(substr(conv_id, 1, length(conv_id) - 4), conv_id) AS hi
  FROM canonical WHERE ends_with(conv_id, '_dup')
  UNION
  SELECT DISTINCT least(substr(conv_id, 1, length(conv_id) - 3), conv_id),
                  greatest(substr(conv_id, 1, length(conv_id) - 3), conv_id)
  FROM canonical WHERE ends_with(conv_id, '_nd')
),
u AS (
  SELECT c.lo IS NOT NULL AS in_c, t.lo IS NOT NULL AS in_t
  FROM cand c FULL OUTER JOIN truth t ON c.lo = t.lo AND c.hi = t.hi
)
SELECT
  CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
  CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
  CAST(sum(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT)
    AS n_true_covered,
  CAST(sum(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS DOUBLE)
    / sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS pairs_completeness,
  CAST(sum(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS DOUBLE)
    / sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS pairs_quality
FROM u
"""

    o["pair_scores"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL}
SELECT conv_id_a, conv_id_b, token_jaccard, levenshtein_sim, score
FROM scored_final
"""

    o["edges"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL}
SELECT conv_id_a AS src, conv_id_b AS dst, score
FROM scored_final WHERE score >= {CFG.threshold}
"""

    o["clusters"] = f"""
WITH RECURSIVE {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL},
sim_edges AS (
  SELECT conv_id_a AS src, conv_id_b AS dst
  FROM scored_final WHERE score >= {CFG.threshold}
),
exact_star AS (
  -- star edges: each member to its group min (linear, like the engine)
  SELECT r.src, r.dst FROM (
    SELECT min(conv_id) OVER (PARTITION BY canon_text) AS src, conv_id AS dst
    FROM canonical
  ) r WHERE r.src <> r.dst
),
all_edges AS (
  SELECT src, dst FROM sim_edges
  UNION
  SELECT src, dst FROM exact_star
),
sym AS (
  SELECT src, dst FROM all_edges
  UNION
  SELECT dst, src FROM all_edges
),
reach(a, b) AS (
  SELECT conv_id, conv_id FROM canonical
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
)
SELECT a AS conv_id, min(b) AS cluster_id FROM reach GROUP BY a
"""

    o["primary_election"] = f"""
WITH {_TRANSCRIPTS_SQL},
members AS (
  SELECT conv_id, max_ts,
         min(conv_id) OVER (PARTITION BY canon_text) AS cluster_id,
         count(*) OVER (PARTITION BY canon_text) AS group_size
  FROM canonical QUALIFY group_size >= 2
)
SELECT conv_id, cluster_id,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY max_ts DESC, conv_id ASC) = 1 AS is_primary
FROM members
"""

    o["cluster_report"] = f"""
WITH {_TRANSCRIPTS_SQL},
members AS (
  SELECT conv_id, total_chars, max_ts,
         min(conv_id) OVER (PARTITION BY canon_text) AS cluster_id,
         count(*) OVER (PARTITION BY canon_text) AS group_size
  FROM canonical QUALIFY group_size >= 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY max_ts DESC, conv_id ASC) AS rk
  FROM members
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(total_chars) AS BIGINT) AS total_chars_sum,
       CAST(sum(CASE WHEN rk > 1 THEN total_chars ELSE 0 END) AS BIGINT) AS savings_chars,
       max(max_ts) AS newest_ts
FROM ranked GROUP BY cluster_id
"""

    o["min_turns_filter"] = f"""
WITH {_TRANSCRIPTS_SQL}
SELECT conv_id, n_turns FROM canonical WHERE n_turns >= 4
"""

    o["dedup_keep_list"] = f"""
WITH {_TRANSCRIPTS_SQL},
m AS (
  SELECT conv_id,
         min(conv_id) OVER (PARTITION BY canon_text) AS cluster_id,
         CAST(count(*) OVER (PARTITION BY canon_text) AS BIGINT) AS group_size,
         row_number() OVER (PARTITION BY canon_text
                            ORDER BY max_ts DESC, conv_id ASC) AS rk
  FROM canonical
)
SELECT conv_id, cluster_id, group_size FROM m WHERE rk = 1
"""

    o["cluster_similarity"] = f"""
WITH RECURSIVE {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL},
sim_edges AS (
  SELECT conv_id_a AS src, conv_id_b AS dst
  FROM scored_final WHERE score >= {CFG.threshold}
),
exact_star AS (
  SELECT r.src, r.dst FROM (
    SELECT min(conv_id) OVER (PARTITION BY canon_text) AS src, conv_id AS dst
    FROM canonical
  ) r WHERE r.src <> r.dst
),
all_edges AS (
  SELECT src, dst FROM sim_edges
  UNION
  SELECT src, dst FROM exact_star
),
sym AS (
  SELECT src, dst FROM all_edges
  UNION
  SELECT dst, src FROM all_edges
),
reach(a, b) AS (
  SELECT conv_id, conv_id FROM canonical
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
),
clusters AS (
  SELECT a AS conv_id, min(b) AS cluster_id FROM reach GROUP BY a
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
  FROM clusters GROUP BY cluster_id
),
intra AS (
  SELECT ca.cluster_id,
         round(list_sum(list_sort(list(s.score))) / count(*), 9) AS mean_similarity
  FROM scored_final s
  JOIN clusters ca ON s.conv_id_a = ca.conv_id
  JOIN clusters cb ON s.conv_id_b = cb.conv_id
   AND ca.cluster_id = cb.cluster_id
  GROUP BY ca.cluster_id
)
SELECT z.cluster_id, z.n_members,
       coalesce(i.mean_similarity, 1.0) AS mean_similarity
FROM sizes z LEFT JOIN intra i ON z.cluster_id = i.cluster_id
WHERE z.n_members >= 2
"""

    o["dedup_eval"] = f"""
WITH {_TRANSCRIPTS_SQL},
eval_base AS (
  SELECT conv_id FROM canonical
  WHERE conv_id NOT LIKE '%\\_dup' ESCAPE '\\'
    AND conv_id NOT LIKE '%\\_nd' ESCAPE '\\'
),
pos AS (
  SELECT b.conv_id AS conv_id_a, cand.conv_id_b, TRUE AS is_match
  FROM eval_base b
  CROSS JOIN LATERAL (VALUES (concat(b.conv_id, '_dup')),
                             (concat(b.conv_id, '_nd'))) AS cand(conv_id_b)
  WHERE EXISTS (SELECT 1 FROM canonical c WHERE c.conv_id = cand.conv_id_b)
),
neg AS (
  SELECT conv_id AS conv_id_a,
         lead(conv_id) OVER (PARTITION BY substring(md5(conv_id), 1, 2)
                             ORDER BY conv_id) AS conv_id_b,
         FALSE AS is_match
  FROM eval_base
  QUALIFY conv_id_b IS NOT NULL
),
labels AS (SELECT * FROM pos UNION ALL SELECT * FROM neg),
cl AS (
  SELECT conv_id,
         min(conv_id) OVER (PARTITION BY canon_text) AS cluster_id
  FROM canonical
),
judged AS (
  SELECT l.is_match,
         (ca.cluster_id IS NOT NULL AND cb.cluster_id IS NOT NULL
          AND ca.cluster_id = cb.cluster_id) AS predicted
  FROM labels l
  LEFT JOIN cl ca ON l.conv_id_a = ca.conv_id
  LEFT JOIN cl cb ON l.conv_id_b = cb.conv_id
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN predicted AND is_match THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN predicted AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN NOT predicted AND is_match THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN NOT predicted AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM judged
)
SELECT tp, fp, fn, tn,
       tp / greatest(tp + fp, 1) AS precision,
       tp / greatest(tp + fn, 1) AS recall,
       2 * tp / greatest(2 * tp + fp + fn, 1) AS f1
FROM agg
"""

    o["dedup_eval_bcubed"] = f"""
WITH {_TRANSCRIPTS_SQL},
pred AS (
  SELECT conv_id,
         min(conv_id) OVER (PARTITION BY canon_text) AS cluster_id
  FROM canonical
),
truth AS (
  SELECT conv_id,
         CASE WHEN conv_id LIKE '%\\_dup' ESCAPE '\\'
                THEN substr(conv_id, 1, length(conv_id) - 4)
              WHEN conv_id LIKE '%\\_nd' ESCAPE '\\'
                THEN substr(conv_id, 1, length(conv_id) - 3)
              ELSE conv_id END AS true_id
  FROM canonical
),
assigned AS (
  SELECT p.conv_id, p.cluster_id, t.true_id
  FROM pred p JOIN truth t ON p.conv_id = t.conv_id
),
cells AS (
  SELECT cluster_id, true_id, CAST(count(*) AS BIGINT) AS cell_size
  FROM assigned GROUP BY 1, 2
),
cs AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM assigned GROUP BY 1
),
ts AS (
  SELECT true_id, CAST(count(*) AS BIGINT) AS truth_size
  FROM assigned GROUP BY 1
)
SELECT cluster_size, truth_size, cell_size,
       CAST(count(*) AS BIGINT) AS n_cells
FROM cells JOIN cs USING (cluster_id) JOIN ts USING (true_id)
GROUP BY 1, 2, 3
"""

    docs_cte = """
docs_planted AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 50 = 0
)
"""

    o["doc_meta_dedup_pairs"] = f"""
WITH {docs_cte},
dm_toks AS (
  SELECT doc_id,
         unnest({_shingles_sql(
             f"substr(coalesce(text, ''), 1, {CFG.meta_text_cap})",
             CFG.shingle_size)}) AS key
  FROM docs_planted
),
dm_filt AS (
  SELECT doc_id, key FROM (
    SELECT doc_id, key,
           row_number() OVER (PARTITION BY doc_id ORDER BY bs, key) AS rk
    FROM (
      SELECT doc_id, key, count(*) OVER (PARTITION BY key) AS bs
      FROM dm_toks
    )
  ) WHERE rk <= {CFG.meta_keys_per_record}
),
dm_kept AS (
  SELECT doc_id, key FROM (
    SELECT doc_id, key, count(*) OVER (PARTITION BY key) AS bs
    FROM dm_filt
  ) WHERE bs <= {CFG.meta_purge_size}
),
dm_nk AS (SELECT doc_id, count(*) AS nk FROM dm_kept GROUP BY 1),
dm_w AS (
  SELECT p.doc_id_a, p.doc_id_b, p.common_keys,
         CAST(p.common_keys AS DOUBLE) / (na.nk + nb.nk - p.common_keys)
           AS weight
  FROM (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(count(*) AS BIGINT) AS common_keys
    FROM dm_kept a JOIN dm_kept b
      ON a.key = b.key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p
  JOIN dm_nk na ON p.doc_id_a = na.doc_id
  JOIN dm_nk nb ON p.doc_id_b = nb.doc_id
),
dm_directed AS (
  SELECT doc_id_a AS src, doc_id_b AS dst, weight FROM dm_w
  UNION ALL
  SELECT doc_id_b, doc_id_a, weight FROM dm_w
),
dm_keep AS (
  SELECT DISTINCT least(src, dst) AS doc_id_a,
                  greatest(src, dst) AS doc_id_b
  FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src
             ORDER BY weight DESC, dst) AS rk
    FROM dm_directed
  ) WHERE rk <= {CFG.meta_top_k}
)
SELECT w.doc_id_a, w.doc_id_b, w.common_keys, w.weight
FROM dm_w w JOIN dm_keep USING (doc_id_a, doc_id_b)
"""

    # Twin of the multimodal metadata lane: the Spark side PARSES these
    # values out of real PNG/WAV container bytes (IHDR big-endian dims,
    # RIFF little-endian fmt/data fields); the twin derives them from the
    # asset-derivation arithmetic (24x24 tiling; 8-bit mono PCM of
    # min(utf8_bytes, 4000) samples, 44-byte canonical WAV header plus an
    # odd-length pad byte; ceil(n/50) overlapping 100ms/50ms windows at
    # 1 kHz). A value MATCH certifies encoder and byte-parser agree.
    o["mm_asset_meta"] = f"""
WITH {docs_cte},
mm_nb AS (
  SELECT doc_id,
         greatest(octet_length(encode(coalesce(text, ''))), 1) AS nb
  FROM docs_planted
),
mm_ns AS (SELECT doc_id, least(nb, 4000) AS ns FROM mm_nb)
SELECT doc_id AS asset_id, 'image' AS kind, 'png' AS magic,
       CAST(24 AS BIGINT) AS width, CAST(24 AS BIGINT) AS height,
       CAST(NULL AS BIGINT) AS sample_rate,
       CAST(NULL AS BIGINT) AS n_samples,
       CAST(NULL AS BIGINT) AS n_bytes,
       CAST(NULL AS BIGINT) AS n_chunks,
       CAST(NULL AS BIGINT) AS n_frames
FROM mm_nb
UNION ALL
SELECT doc_id, 'gif', 'gif',
       24, 24, NULL, NULL, NULL, NULL, NULL
FROM mm_nb
UNION ALL
SELECT doc_id, 'video', 'avi',
       16, 16, NULL, NULL, NULL, NULL,
       CAST(least((nb + 255) // 256, 8) AS BIGINT)
FROM mm_nb
UNION ALL
SELECT doc_id, 'audio', 'wav',
       NULL, NULL,
       CAST(1000 AS BIGINT),
       CAST(ns AS BIGINT),
       CAST(44 + ns + (ns % 2) AS BIGINT),
       CAST(ceil(ns / 50.0) AS BIGINT),
       NULL
FROM mm_ns
"""

    o["doc_exact_dupes"] = f"""
WITH {docs_cte}
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY text) AS cluster_id,
       CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS group_size
FROM docs_planted
QUALIFY group_size >= 2
"""

    coalesced_text = "coalesce(text, '')"
    o["doc_decontam"] = f"""
WITH {docs_cte},
bench AS (
  SELECT * FROM docs_planted WHERE doc_id % 17 = 0 AND doc_id < 1000000
),
train AS (
  SELECT * FROM docs_planted WHERE NOT (doc_id % 17 = 0 AND doc_id < 1000000)
),
bgrams AS (
  SELECT DISTINCT unnest({_shingles_sql(coalesced_text, 8)}) AS gram
  FROM bench
),
dgrams AS (
  SELECT doc_id, unnest({_shingles_sql(coalesced_text, 8)}) AS gram
  FROM train
),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS matched
  FROM dgrams JOIN bgrams USING (gram) GROUP BY doc_id
),
bdig AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS bd FROM bench
)
SELECT t.doc_id,
       CAST(coalesce(h.matched, 0) AS BIGINT) AS matched_ngrams,
       (b.bd IS NOT NULL) AS exact_match,
       (coalesce(h.matched, 0) >= 1 OR b.bd IS NOT NULL) AS contaminated
FROM train t
LEFT JOIN hits h USING (doc_id)
LEFT JOIN bdig b ON md5(coalesce(t.text, '')) = b.bd
"""

    o["turn_boilerplate"] = f"""
WITH {_TRANSCRIPTS_SQL}
SELECT role, md5(coalesce(text, '')) AS turn_md5,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars
FROM transcripts_derived
GROUP BY role, md5(coalesce(text, ''))
HAVING count(DISTINCT conv_id) >= 3
"""

    o["turn_strip_boilerplate"] = f"""
WITH {_TRANSCRIPTS_SQL},
bp AS (
  SELECT role, md5(coalesce(text, '')) AS turn_md5
  FROM transcripts_derived
  GROUP BY role, md5(coalesce(text, ''))
  HAVING count(DISTINCT conv_id) >= 3
)
SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts
FROM transcripts_derived t
ANTI JOIN bp
  ON t.role = bp.role AND md5(coalesce(t.text, '')) = bp.turn_md5
"""

    o["doc_containment_pairs"] = f"""
WITH {docs_cte},
shingled AS (
  SELECT doc_id, {_shingles_sql(coalesced_text, 3)} AS shingles
  FROM docs_planted
),
nonempty AS (
  SELECT * FROM shingled WHERE len(shingles) > 0
),
grams AS (
  SELECT doc_id, unnest(shingles) AS gram FROM nonempty
),
rare AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 64
),
indexed AS (
  SELECT g.doc_id, g.gram FROM grams g JOIN rare USING (gram)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM indexed a JOIN indexed b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.doc_id_a, c.doc_id_b,
         len(list_intersect(sa.shingles, sb.shingles))
           / len(sa.shingles) AS containment_a_in_b,
         len(list_intersect(sa.shingles, sb.shingles))
           / len(sb.shingles) AS containment_b_in_a
  FROM cand c
  JOIN nonempty sa ON sa.doc_id = c.doc_id_a
  JOIN nonempty sb ON sb.doc_id = c.doc_id_b
)
SELECT * FROM scored
WHERE greatest(containment_a_in_b, containment_b_in_a) >= 0.8
"""

    o["doc_jaccard_pairs"] = f"""
WITH {docs_cte},
doc_blocked AS (
  SELECT doc_id,
         concat(coalesce(lang, ''), '|',
                CAST(CAST(floor(length(coalesce(text, '')) / 64) AS BIGINT) AS VARCHAR)) AS block_key,
         {_shingles_sql(coalesced_text)} AS shingles
  FROM docs_planted
),
doc_salted AS (
  SELECT *,
         CAST(floor((row_number() OVER (PARTITION BY block_key ORDER BY doc_id)
                     - 1) / 64) AS INT) AS salt
  FROM doc_blocked
)
SELECT * FROM (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0 THEN 0.0
              ELSE len(list_intersect(a.shingles, b.shingles))
                   / len(list_distinct(list_concat(a.shingles, b.shingles))) END AS jaccard
  FROM doc_salted a JOIN doc_salted b
    ON a.block_key = b.block_key AND a.salt = b.salt AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
"""

    lang_profiles = {
        "en": ["the", "and", "of", "to", "fast", "small", "key"],
        "de": ["der", "und", "die", "das", "nicht", "ist"],
        "es": ["el", "la", "los", "que", "de", "una"],
        "fr": ["le", "les", "des", "une", "est", "dans"],
        "zh": ["de", "shi", "bu", "le", "zai"],
    }
    toks_sql = (
        "list_filter(list_distinct(string_split_regex(lower(coalesce(text, '')), "
        "'[^a-zA-Z0-9]+')), t -> t <> '')"
    )
    hits = {
        code: f"CAST(len(list_intersect({toks_sql}, "
              f"[{', '.join(repr(w) for w in ws)}])) AS INT)"
        for code, ws in lang_profiles.items()
    }
    best = "greatest(" + ", ".join(f"h_{c}" for c in sorted(hits)) + ")"
    guess_case = "CASE " + " ".join(
        f"WHEN h_{c} = {best} THEN '{c}'" for c in sorted(hits)
    ) + " END"
    o["doc_langid"] = f"""
WITH h AS (
  SELECT doc_id, {', '.join(f'{expr} AS h_{c}' for c, expr in sorted(hits.items()))}
  FROM documents
)
SELECT doc_id,
       CASE WHEN {best} > 0 THEN {guess_case} ELSE 'und' END AS lang_guess,
       {best} AS lang_hits
FROM h
"""

    # identical SQL to doc_jaccard_pairs: the Arrow hashed-shingle kernel
    # preserves set sizes (hence the exact Jaccard doubles) modulo 64-bit
    # collisions, so the string-shingle oracle checks it directly
    o["doc_jaccard_pairs_fast"] = o["doc_jaccard_pairs"]

    o["doc_dedup_keep"] = f"""
WITH RECURSIVE {docs_cte},
doc_blocked AS (
  SELECT doc_id,
         concat(coalesce(lang, ''), '|',
                CAST(CAST(floor(length(coalesce(text, '')) / 64) AS BIGINT) AS VARCHAR)) AS block_key,
         {_shingles_sql(coalesced_text)} AS shingles
  FROM docs_planted
),
doc_salted AS (
  SELECT *,
         CAST(floor((row_number() OVER (PARTITION BY block_key ORDER BY doc_id)
                     - 1) / 64) AS INT) AS salt
  FROM doc_blocked
),
near_edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CASE WHEN len(list_distinct(list_concat(a.shingles, b.shingles))) = 0 THEN 0.0
                ELSE len(list_intersect(a.shingles, b.shingles))
                     / len(list_distinct(list_concat(a.shingles, b.shingles))) END AS jaccard
    FROM doc_salted a JOIN doc_salted b
      ON a.block_key = b.block_key AND a.salt = b.salt AND a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
),
exact_star AS (
  SELECT r.src, r.dst FROM (
    SELECT min(doc_id) OVER (PARTITION BY text) AS src, doc_id AS dst
    FROM docs_planted
  ) r WHERE r.src <> r.dst
),
all_edges AS (
  SELECT src, dst FROM near_edges
  UNION
  SELECT src, dst FROM exact_star
),
sym AS (
  SELECT src, dst FROM all_edges
  UNION
  SELECT dst, src FROM all_edges
),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM docs_planted
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
)
SELECT a AS doc_id, min(b) AS cluster_id, min(b) = a AS keep
FROM reach GROUP BY a
"""

    o["doc_entropy"] = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS txt FROM documents
),
classes AS (
  SELECT doc_id,
         CAST(length(txt) AS BIGINT) AS n_chars_measured,
         CAST(length(regexp_replace(txt, '[^a-z]', '', 'g')) AS BIGINT) AS n_lower,
         CAST(length(regexp_replace(txt, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper,
         CAST(length(regexp_replace(txt, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
         CAST(length(regexp_replace(txt, '[^ \t\n]', '', 'g')) AS BIGINT) AS n_space,
         CAST(length(regexp_replace(txt, '[^!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct
  FROM base
),
chars AS (
  SELECT doc_id, unnest(string_split_regex(txt, '')) AS ch FROM base
),
cc AS (
  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
ent AS (
  SELECT doc_id,
         round(log2(sum(c))
               - list_sum(list_transform(list(c ORDER BY ch), x -> x * log2(x)))
                 / sum(c), 9) AS entropy_bits
  FROM cc GROUP BY doc_id
)
SELECT k.doc_id, k.n_chars_measured, k.n_lower, k.n_upper, k.n_digit,
       k.n_space, k.n_punct,
       k.n_chars_measured - k.n_lower - k.n_upper - k.n_digit - k.n_space
         - k.n_punct AS n_other,
       coalesce(e.entropy_bits, 0.0) AS entropy_bits
FROM classes k LEFT JOIN ent e ON k.doc_id = e.doc_id
"""

    o["doc_quality"] = """
WITH t AS (
  SELECT doc_id,
         coalesce(text, '') AS txt,
         length(coalesce(text, '')) AS n,
         length(regexp_replace(coalesce(text, ''), '[^a-zA-Z0-9 ]', '', 'g')) AS alnum_sp,
         length(regexp_replace(coalesce(text, ''), '[^0-9]', '', 'g')) AS digits,
         list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-zA-Z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
r AS (
  SELECT doc_id,
         CAST(n AS BIGINT) AS n_chars_measured,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         (n - alnum_sp) / greatest(n, 1) AS punct_ratio,
         digits / greatest(n, 1) AS digit_ratio,
         len(list_distinct(toks)) / greatest(len(toks), 1) AS uniq_token_ratio
  FROM t
)
SELECT doc_id, n_chars_measured, n_tokens, punct_ratio, digit_ratio,
       uniq_token_ratio,
       1.0 - least(punct_ratio * 2, 1.0) * 0.4
           - least(digit_ratio * 2, 1.0) * 0.2
           + (uniq_token_ratio - 0.5) * 0.2 AS quality_score
FROM r
"""

    o["doc_token_stats"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-zA-Z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
       CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS total_token_chars
FROM t
"""

    o["doc_fingerprint"] = """
SELECT doc_id,
       md5(coalesce(text, '')) AS fingerprint_md5,
       md5(coalesce(text, ''))[1:8] AS fingerprint_prefix,
       CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars_measured
FROM documents
"""

    o["ann_cosine_topk"] = f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT * FROM d WHERE vec_id < 200),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.e', 'c.e')} AS cosine
  FROM q JOIN d c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC NULLS LAST, neighbor_id ASC) AS INT) AS "rank",
       cosine
FROM scored
QUALIFY "rank" <= 5
"""

    o["emb_dup_pairs"] = f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         {_cos_sql('a.e', 'b.e')} AS cosine
  FROM d a JOIN d b ON a.vec_id < b.vec_id
)
SELECT vec_id_a, vec_id_b, cosine FROM scored WHERE cosine >= 0.4
"""

    o["emb_dup_clusters"] = f"""
WITH RECURSIVE d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         {_cos_sql('a.e', 'b.e')} AS cosine
  FROM d a JOIN d b ON a.vec_id < b.vec_id
),
edges AS (
  SELECT vec_id_a AS src, vec_id_b AS dst FROM scored WHERE cosine >= 0.4
),
sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst, src FROM edges
),
reach(a, b) AS (
  SELECT vec_id, vec_id FROM d
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
)
SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a
"""

    o["knn_label_vote"] = f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
q AS (SELECT * FROM d WHERE vec_id < 200),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
         {_cos_sql('q.e', 'c.e')} AS cosine
  FROM q JOIN d c ON q.vec_id <> c.vec_id
),
topk AS (
  SELECT query_id, neighbor_id, label
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC NULLS LAST, neighbor_id ASC) <= 5
),
votes AS (
  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
  FROM topk GROUP BY query_id, label
)
SELECT query_id, label AS predicted_label, votes
FROM votes
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY votes DESC, label ASC) = 1
"""

    o["event_exact_dedup"] = """
SELECT event_id,
       min(event_id) OVER (PARTITION BY user_id, event_type, props) AS dup_group,
       CAST(count(*) OVER (PARTITION BY user_id, event_type, props) AS BIGINT) AS group_size
FROM events
QUALIFY group_size >= 2
"""

    o["dedup_stats"] = f"""
WITH {_TRANSCRIPTS_SQL},
m AS (
  SELECT conv_id, total_chars,
         count(*) OVER (PARTITION BY canon_text) AS group_size,
         row_number() OVER (PARTITION BY canon_text ORDER BY conv_id) AS rk
  FROM canonical
)
SELECT CAST(count(*) AS BIGINT) AS n_convs,
       CAST(sum(CASE WHEN group_size >= 2 AND rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       CAST(sum(CASE WHEN group_size >= 2 AND rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_convs,
       CAST(sum(CASE WHEN group_size >= 2 AND rk > 1 THEN total_chars ELSE 0 END) AS BIGINT) AS savings_chars
FROM m
"""

    # Full char-frequency histogram: every column is an exact integer (or
    # min-codepoint top_char), so this checks the Arrow kernel DIRECTLY —
    # DuckDB's binary string collation equals codepoint order, matching the
    # kernel's max-count-then-min-codepoint tie-break.
    o["doc_char_crossent"] = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS txt FROM documents
),
chars AS (
  SELECT doc_id, unnest(string_split_regex(txt, '')) AS ch FROM base
),
cc AS (
  SELECT doc_id, ord(ch) AS cp, CAST(count(*) AS DOUBLE) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ord(ch)
),
g AS (
  SELECT cp, sum(c) AS n_c FROM cc GROUP BY cp
),
tot AS (SELECT sum(n_c) AS n FROM g),
ent AS (
  SELECT cc.doc_id,
         round(log2((SELECT n FROM tot))
               - list_sum(list_transform(
                   list(cc.c * log2(g.n_c) ORDER BY cc.cp), x -> x))
                 / sum(cc.c), 9) AS cross_entropy_bits
  FROM cc JOIN g USING (cp) GROUP BY cc.doc_id
)
SELECT b.doc_id, CAST(length(b.txt) AS BIGINT) AS n_chars,
       coalesce(e.cross_entropy_bits, 0.0) AS cross_entropy_bits
FROM base b LEFT JOIN ent e USING (doc_id)
"""

    o["doc_char_histogram"] = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS txt FROM documents
),
chars AS (
  SELECT doc_id, unnest(string_split_regex(txt, '')) AS ch FROM base
),
cc AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
stats AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_chars,
         CAST(count(*) AS BIGINT) AS distinct_chars,
         CAST(sum(c * c) AS BIGINT) AS hist_l2_sq
  FROM cc GROUP BY doc_id
),
tops AS (
  SELECT doc_id, min(ch) AS top_char, CAST(max(c) AS BIGINT) AS top_count
  FROM (SELECT doc_id, ch, c, max(c) OVER (PARTITION BY doc_id) AS mc FROM cc)
  WHERE c = mc GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(s.n_chars, 0) AS n_chars,
       coalesce(s.distinct_chars, 0) AS distinct_chars,
       coalesce(t.top_char, '') AS top_char,
       coalesce(t.top_count, 0) AS top_count,
       coalesce(s.hist_l2_sq, 0) AS hist_l2_sq
FROM base b
LEFT JOIN stats s ON b.doc_id = s.doc_id
LEFT JOIN tops t ON b.doc_id = t.doc_id
"""

    # H13 statistical blend: blocking CTE identical to doc_jaccard_pairs;
    # dot and norms are exact BIGINTs (order-independent), the derived
    # doubles share one IEEE op order with the Spark expr form, and the
    # entropy CTE is copied verbatim from o["doc_entropy"]. Float literals
    # are written CAST(n AS DOUBLE) — DuckDB parses bare decimals as
    # DECIMAL, which would corrupt the roundtrip.
    o["doc_stat_sim_pairs"] = f"""
WITH {docs_cte},
base AS (
  SELECT doc_id, coalesce(text, '') AS txt, coalesce(lang, '') AS lng
  FROM docs_planted
),
blocked AS (
  SELECT doc_id,
         concat(lng, '|',
                CAST(CAST(floor(length(txt) / 64) AS BIGINT) AS VARCHAR)) AS block_key
  FROM base
),
salted AS (
  SELECT *,
         CAST(floor((row_number() OVER (PARTITION BY block_key ORDER BY doc_id)
                     - 1) / 64) AS INT) AS salt
  FROM blocked
),
chars AS (
  SELECT doc_id, unnest(string_split_regex(txt, '')) AS ch FROM base
),
cc AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
l2 AS (
  SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS l2 FROM cc GROUP BY doc_id
),
cc_d AS (
  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
ent AS (
  SELECT doc_id,
         round(log2(sum(c))
               - list_sum(list_transform(list(c ORDER BY ch), x -> x * log2(x)))
                 / sum(c), 9) AS entropy_bits
  FROM cc_d GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM salted a JOIN salted b
    ON a.block_key = b.block_key AND a.salt = b.salt AND a.doc_id < b.doc_id
),
dots AS (
  SELECT p.doc_id_a, p.doc_id_b, CAST(sum(ca.c * cb.c) AS BIGINT) AS dot
  FROM pairs p
  JOIN cc ca ON ca.doc_id = p.doc_id_a
  JOIN cc cb ON cb.doc_id = p.doc_id_b AND cb.ch = ca.ch
  GROUP BY p.doc_id_a, p.doc_id_b
),
feat AS (
  SELECT p.doc_id_a, p.doc_id_b,
         coalesce(d.dot, 0) AS dot,
         coalesce(la.l2, 0) AS l2a, coalesce(lb.l2, 0) AS l2b,
         coalesce(ea.entropy_bits, CAST(0 AS DOUBLE)) AS ent_a,
         coalesce(eb.entropy_bits, CAST(0 AS DOUBLE)) AS ent_b
  FROM pairs p
  LEFT JOIN dots d ON d.doc_id_a = p.doc_id_a AND d.doc_id_b = p.doc_id_b
  LEFT JOIN l2 la ON la.doc_id = p.doc_id_a
  LEFT JOIN l2 lb ON lb.doc_id = p.doc_id_b
  LEFT JOIN ent ea ON ea.doc_id = p.doc_id_a
  LEFT JOIN ent eb ON eb.doc_id = p.doc_id_b
),
scored AS (
  SELECT doc_id_a, doc_id_b,
         CASE WHEN l2a = 0 AND l2b = 0 THEN CAST(1 AS DOUBLE)
              WHEN l2a = 0 OR l2b = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(dot AS DOUBLE)
                   / sqrt(CAST(l2a AS DOUBLE) * CAST(l2b AS DOUBLE))
         END AS hist_cosine,
         greatest(CAST(0 AS DOUBLE),
                  (CAST(8 AS DOUBLE) - abs(ent_a - ent_b))
                    / CAST(8 AS DOUBLE) * CAST(100 AS DOUBLE)) AS entropy_sim
  FROM feat
)
SELECT doc_id_a, doc_id_b, hist_cosine, entropy_sim,
       (CAST(2 AS DOUBLE) * hist_cosine * CAST(100 AS DOUBLE)
        + entropy_sim) / CAST(3 AS DOUBLE) AS stat_sim
FROM scored
WHERE (CAST(2 AS DOUBLE) * hist_cosine * CAST(100 AS DOUBLE)
       + entropy_sim) / CAST(3 AS DOUBLE) >= CAST(0 AS DOUBLE)
"""

    o["doc_repetition"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-zA-Z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
tokc AS (
  SELECT doc_id, max(c) AS max_tok
  FROM (SELECT doc_id, tk, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tk FROM t) GROUP BY doc_id, tk)
  GROUP BY doc_id
),
bigc AS (
  SELECT doc_id, max(c) AS max_bg, count(*) AS n_distinct_bg
  FROM (SELECT doc_id, bg, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                                           i -> toks[i] || ' ' || toks[i + 1])) AS bg
              FROM t WHERE len(toks) >= 2)
        GROUP BY doc_id, bg)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
       CASE WHEN len(toks) > 0 THEN coalesce(max_tok, 0) / len(toks)
            ELSE 0.0 END AS top_token_frac,
       CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
       CASE WHEN len(toks) >= 2 THEN coalesce(max_bg, 0) / (len(toks) - 1)
            ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN len(toks) >= 2
            THEN (len(toks) - 1 - coalesce(n_distinct_bg, 0)) / (len(toks) - 1)
            ELSE 0.0 END AS dup_bigram_frac
FROM t LEFT JOIN tokc USING (doc_id) LEFT JOIN bigc USING (doc_id)
"""

    o["doc_passage_stats"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-zA-Z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
passages AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS passage_idx,
         array_to_string(toks[(i - 1) * 16 + 1:(i - 1) * 16 + 16], ' ') AS p
  FROM t, UNNEST(CASE WHEN len(toks) = 0 THEN []
                      ELSE generate_series(1, CAST(ceil(len(toks) / 16.0) AS BIGINT))
                 END) AS u(i)
),
ranked AS (
  SELECT doc_id, passage_idx,
         count(*) OVER (PARTITION BY p) AS occ,
         row_number() OVER (PARTITION BY p ORDER BY doc_id, passage_idx) AS rn
  FROM passages
),
per_doc AS (
  SELECT doc_id,
         count(*) AS n_passages,
         sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS n_dup,
         sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_red
  FROM ranked GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(coalesce(n_passages, 0) AS BIGINT) AS n_passages,
       CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_passages,
       CAST(coalesce(n_red, 0) AS BIGINT) AS n_redundant_passages,
       CASE WHEN coalesce(n_passages, 0) > 0 THEN coalesce(n_dup, 0) / n_passages
            ELSE 0.0 END AS dup_passage_frac
FROM t LEFT JOIN per_doc USING (doc_id)
"""

    # PII oracles are generated from the SAME pattern table as the Spark
    # queries (translink/pii.py) so the regexes can never drift.
    from translink.pii import pii_oracle_sql
    o.update(pii_oracle_sql())

    from translink.streaming.sessions import session_oracle_sql
    o["event_sessions"] = session_oracle_sql(30)

    from translink.streaming.windows import window_oracle_sql

    o["event_window_stats"] = window_oracle_sql(10)

    # json_valid guard: Spark's from_json is PERMISSIVE (malformed doc ->
    # NULL struct) but DuckDB's json_extract_string RAISES on malformed
    # JSON — one bad props row would crash the oracle, not mismatch it
    o["event_props_stats"] = """
WITH e AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max
FROM e GROUP BY event_type
"""

    # the SQL twin reuses the exact pattern constant (quotes doubled for the
    # SQL literal) so the two engines cannot drift
    from translink.textops import BPE_TOKEN_PATTERN
    _bpe_sql_pat = BPE_TOKEN_PATTERN.replace("'", "''")
    o["doc_bpe_token_stats"] = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(coalesce(text, ''), '{_bpe_sql_pat}') AS toks
  FROM documents
),
f AS (
  SELECT doc_id, toks,
         list_filter(toks, x -> regexp_matches(x, '[^\\s]')) AS nonspace
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_pretokens_raw,
       CAST(len(nonspace) AS BIGINT) AS n_bpe_pretokens,
       CAST(len(list_distinct(nonspace)) AS BIGINT) AS n_unique_pretokens
FROM f
"""

    o["doc_line_dedup"] = f"""
WITH {docs_cte},
split_docs AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls
  FROM docs_planted
),
lines AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS line_idx, ls[i] AS line
  FROM split_docs, UNNEST(generate_series(1, len(ls))) AS u(i)
),
bp AS (
  SELECT line FROM lines WHERE line <> ''
  GROUP BY line HAVING count(DISTINCT doc_id) >= 3
),
kept AS (
  SELECT l.* FROM lines l LEFT JOIN bp ON l.line = bp.line
  WHERE bp.line IS NULL
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lines GROUP BY doc_id
),
kept_agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id, p.n_lines,
       p.n_lines - coalesce(k.n_kept, 0) AS n_stripped,
       coalesce(k.clean_text, '') AS clean_text
FROM per_doc p LEFT JOIN kept_agg k USING (doc_id)
"""

    o["doc_url_stats"] = r"""
WITH t AS (
  SELECT doc_id,
         coalesce(text, '') AS txt,
         regexp_extract_all(coalesce(text, ''), 'https?://[^\s]+') AS urls,
         regexp_extract_all(coalesce(text, ''), 'https?://([^/\s]+)', 1) AS hosts
  FROM documents
)
SELECT doc_id,
       CAST(len(urls) AS BIGINT) AS n_urls,
       CAST(len(list_distinct(hosts)) AS BIGINT) AS n_unique_hosts,
       coalesce(list_sum(list_transform(urls, u -> length(u))), 0)
         / greatest(length(txt), 1) AS url_char_frac
FROM t
"""

    o["doc_source_stats"] = """
WITH d AS (
  SELECT source,
         length(coalesce(text, '')) AS n,
         md5(coalesce(text, '')) AS digest
  FROM documents
),
g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT digest) AS BIGINT) AS n_unique_texts,
         CAST(sum(n) AS BIGINT) AS total_chars,
         CAST(min(n) AS BIGINT) AS min_chars,
         CAST(max(n) AS BIGINT) AS max_chars
  FROM d GROUP BY source
)
SELECT source, n_docs, n_unique_texts,
       1.0 - n_unique_texts / CAST(n_docs AS DOUBLE) AS dup_frac,
       total_chars,
       total_chars / CAST(n_docs AS DOUBLE) AS mean_chars,
       min_chars, max_chars
FROM g
"""

    # Composite curation verdict: reuse the three lane oracles verbatim —
    # the dedup oracle's final SELECT becomes a `dedup` CTE, and the
    # quality/langid oracles (retargeted at the planted corpus) nest as
    # subquery CTE bodies, so the lanes CANNOT drift from their own
    # oracle-checked definitions.
    _dedup_head, _dedup_final = o["doc_dedup_keep"].rsplit(
        "SELECT a AS doc_id", 1
    )
    o["doc_curation_verdict"] = (
        _dedup_head.rstrip()  # ends with the closing paren of the last CTE
        + """,
dedup AS (
  SELECT a AS doc_id"""
        + _dedup_final.rstrip()
        + """
),
qlane AS (
"""
        + o["doc_quality"].replace("FROM documents", "FROM docs_planted")
        + """
),
llane AS (
"""
        + o["doc_langid"].replace("FROM documents", "FROM docs_planted")
        + """
)
SELECT d.doc_id, d.cluster_id,
       d.keep AS keep_dedup,
       qlane.quality_score >= 0.965 AS quality_ok,
       llane.lang_guess <> 'und' AS lang_ok,
       (d.keep AND qlane.quality_score >= 0.965
         AND llane.lang_guess <> 'und') AS keep
FROM dedup d
JOIN qlane ON qlane.doc_id = d.doc_id
JOIN llane ON llane.doc_id = d.doc_id
"""
    )

    o["doc_sample_frac"] = """
SELECT doc_id, lang, source, n_chars,
       substr(md5('s0:' || doc_id::VARCHAR), 1, 4) AS sample_key
FROM documents
WHERE substr(md5('s0:' || doc_id::VARCHAR), 1, 4) < '2000'
"""

    o["doc_sample_stratified"] = """
WITH s AS (
  SELECT doc_id, source, n_chars,
         substr(md5('s0:' || doc_id::VARCHAR), 1, 4) AS k
  FROM documents
),
r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS rn
  FROM s
)
SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS sample_rank
FROM r WHERE rn <= 40
"""

    o["doc_top_ngrams"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-zA-Z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS ngram
  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
),
pd AS (SELECT ngram, doc_id, count(*) AS c FROM g GROUP BY 1, 2)
SELECT ngram,
       CAST(sum(c) AS BIGINT) AS n_occurrences,
       CAST(count(*) AS BIGINT) AS n_docs
FROM pd GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 20
"""

    o["doc_source_percentiles"] = """
WITH h AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
t AS (
  SELECT source, n_chars, c,
         sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
         sum(c) OVER (PARTITION BY source) AS n
  FROM h
)
SELECT source,
       CAST(max(n) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(min(CASE WHEN cum >= ceil(n * 0.5) THEN n_chars END) AS BIGINT) AS p50_chars,
       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN n_chars END) AS BIGINT) AS p90_chars,
       CAST(min(CASE WHEN cum >= ceil(n * 0.99) THEN n_chars END) AS BIGINT) AS p99_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM t GROUP BY source
"""

    o["event_interval_join"] = """
WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL),
p AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'),
v AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'view')
SELECT p.user_id, p.event_id AS left_id, p.ts AS left_ts,
       v.event_id AS right_id, v.ts AS right_ts,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM p JOIN v ON p.user_id = v.user_id
   AND v.ts <= p.ts
   AND v.ts >= p.ts - INTERVAL 60 MINUTE
"""

    _lanes = ", ".join(
        f"CAST(count(*) FILTER (WHERE lang = '{la}') AS BIGINT) AS {la}"
        for la in ("de", "en", "es", "fr", "zh")
    )
    o["doc_lang_source_matrix"] = f"""
SELECT source, {_lanes},
       CAST(count(*) FILTER (WHERE lang IS NULL
            OR lang NOT IN ('de','en','es','fr','zh')) AS BIGINT) AS other
FROM documents GROUP BY source
"""

    o["doc_source_lang_rollup"] = """
SELECT source, lang,
       CAST(GROUPING(source, lang) AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP(source, lang)
"""

    o["event_rolling_stats"] = """
WITH e AS (
  SELECT event_id, user_id, ts, coalesce(value, 0.0) AS value
  FROM events WHERE ts IS NOT NULL
)
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_24h,
       round(list_sum(list_sort(list(value) OVER w)), 9) AS sum_24h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
"""

    o["event_asof_join"] = """
WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL),
v AS (
  SELECT user_id, ts, max(event_id) AS vid
  FROM e WHERE event_type = 'view'
  GROUP BY user_id, ts
),
p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       v.vid AS view_event_id, v.ts AS view_ts,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
"""

    # Two-corpus linkage: the salt window orders by the side-disambiguated
    # id (side || '#' || conv_id) exactly as translink.linkage salts the
    # tagged union, so the A×B pair set — and the sacrificed cross-salt
    # pairs of oversized blocks — is bit-identical across engines.
    o["link_matches"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
best_a AS (
  SELECT conv_id_a, conv_id_b, token_jaccard, score
  FROM scored_final WHERE score >= {CFG.threshold}
  QUALIFY row_number() OVER (PARTITION BY conv_id_a
                             ORDER BY score DESC, conv_id_b) = 1
)
SELECT conv_id_a, conv_id_b, token_jaccard, score FROM best_a
QUALIFY row_number() OVER (PARTITION BY conv_id_b
                           ORDER BY score DESC, conv_id_a) = 1
"""

    # Fellegi–Sunter match weights: the per-level log2(m/u) weights are
    # computed ONCE in Python (translink.fellegi_sunter.FSParams.weights)
    # and embedded as identical double literals in both engines, summed in
    # the same left-to-right field order — no runtime log/pow enters the
    # comparison. CAST AS DOUBLE defends against DuckDB parsing bare
    # decimal literals as DECIMAL.
    from translink.fellegi_sunter import (
        FIELDS as _FS_FIELDS,
        PREFIX_CAP as _FS_PREFIX_CAP,
        FSParams,
        fs_em_from_counts,
        fs_pattern_literals,
        fs_weight_threshold,
    )

    def _fs_weight_sql(params):
        w = params.weights()
        return " + ".join(
            "(CASE "
            + " ".join(
                f"WHEN {k} = {lvl} THEN CAST('{w[k][lvl]!r}' AS DOUBLE)"
                for lvl in range(n)
            )
            + " END)"
            for k, n in _FS_FIELDS.items()
        )

    _fs_gammas_sql = f"""
gammas AS (
  SELECT conv_id_a, conv_id_b,
         CASE WHEN s.token_jaccard >= 0.9 THEN 2
              WHEN s.token_jaccard >= 0.5 THEN 1 ELSE 0 END AS g_jac,
         CASE WHEN s.levenshtein_sim >= 0.9 THEN 2
              WHEN s.levenshtein_sim >= 0.7 THEN 1 ELSE 0 END AS g_lev,
         CASE WHEN p.canon_text_a[1:{_FS_PREFIX_CAP}]
                   = p.canon_text_b[1:{_FS_PREFIX_CAP}]
              THEN 1 ELSE 0 END AS g_prefix,
         CASE WHEN abs(p.total_chars_a - p.total_chars_b)
                   <= {max(1, CFG.length_bucket // 4)} THEN 1 ELSE 0 END AS g_len
  FROM scored s JOIN cand_pairs p USING (conv_id_a, conv_id_b)
)
"""
    o["link_fs_scores"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
{_fs_gammas_sql}
SELECT conv_id_a, conv_id_b, g_jac, g_lev, g_prefix, g_len,
       {_fs_weight_sql(FSParams())} AS match_weight
FROM gammas
"""

    # Three-region decision twin: the (upper, lower) weight thresholds are
    # pure-Python theorem arithmetic over the default params — identical
    # literals in both engines; boundary semantics are >= upper / <= lower
    # exactly as translink.fellegi_sunter.fs_decide.
    from translink.fellegi_sunter import fs_thresholds_from_error_rates
    _fs_up, _fs_lo = fs_thresholds_from_error_rates(mu=0.001, lam_err=0.02)
    o["link_fs_decisions"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
{_fs_gammas_sql},
weighted AS (
  SELECT conv_id_a, conv_id_b,
         {_fs_weight_sql(FSParams())} AS match_weight
  FROM gammas
)
SELECT conv_id_a, conv_id_b, match_weight,
       CASE WHEN match_weight >= CAST('{_fs_up!r}' AS DOUBLE) THEN 'link'
            WHEN match_weight <= CAST('{_fs_lo!r}' AS DOUBLE) THEN 'nonlink'
            ELSE 'possible' END AS decision
FROM weighted
"""

    # Term-frequency twin: per-pattern constants come from the SAME
    # library arithmetic (fs_tf_pattern_constants at n_total=1, so C ≡ L —
    # multiplying by 1.0 is an IEEE identity), and the runtime computation
    # is (L * n_total / n_prefix) / (1 + (L * n_total / n_prefix)) in both
    # engines: int→double conversion is exact below 2^53 and */+ are
    # correctly rounded, so the posterior compares bit-identically with no
    # runtime log/pow. NULL n_prefix (value absent from the frequency
    # table; impossible here by construction, but the null-safe join keeps
    # all-null-text corpora honest) falls back to the unadjusted literal.
    from translink.fellegi_sunter import fs_tf_pattern_constants

    def _fs_tf_case_sql():
        branches = []
        for pat, l_const, p_unadj in fs_tf_pattern_constants(1):
            cond = " AND ".join(
                f"{k} = {lvl}" for k, lvl in zip(_FS_FIELDS, pat)
            )
            p_lit = f"CAST('{p_unadj!r}' AS DOUBLE)"
            if l_const is not None:
                d = (f"(CAST('{l_const!r}' AS DOUBLE) * n_total / n_prefix)")
                branches.append(
                    f"WHEN {cond} AND n_prefix IS NOT NULL "
                    f"THEN {d} / (1.0 + {d})"
                )
                branches.append(f"WHEN {cond} THEN {p_lit}")
            else:
                branches.append(f"WHEN {cond} THEN {p_lit}")
        return "CASE " + " ".join(branches) + " END"

    o["link_fs_tf_scores"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
{_fs_gammas_sql},
tfp AS (
  SELECT canon_text[1:{_FS_PREFIX_CAP}] AS tf_prefix, COUNT(*) AS n_prefix
  FROM canonical GROUP BY 1
),
ntot AS (SELECT COUNT(*) AS n_total FROM canonical),
gp AS (
  SELECT g.conv_id_a, g.conv_id_b, g.g_jac, g.g_lev, g.g_prefix, g.g_len,
         p.canon_text_a[1:{_FS_PREFIX_CAP}] AS prefix_a
  FROM gammas g JOIN cand_pairs p USING (conv_id_a, conv_id_b)
)
SELECT gp.conv_id_a, gp.conv_id_b, gp.g_prefix, t.n_prefix,
       {_fs_tf_case_sql()} AS match_prob_tf
FROM gp
LEFT JOIN tfp t ON gp.prefix_a IS NOT DISTINCT FROM t.tf_prefix
CROSS JOIN ntot
"""

    # Review-queue twin: the 'possible' region is the strict open interval
    # (lower, upper) — the complement of fs_decide's >= / <= regions — and
    # queue_pos ranks per conv_id_a by (weight DESC, conv_id_b), a total
    # order over shared-literal weights, capped at 5.
    o["link_review_queue"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
{_fs_gammas_sql},
weighted AS (
  SELECT conv_id_a, conv_id_b,
         {_fs_weight_sql(FSParams())} AS match_weight
  FROM gammas
)
SELECT conv_id_a, conv_id_b, match_weight,
       CAST(row_number() OVER (PARTITION BY conv_id_a
                               ORDER BY match_weight DESC, conv_id_b)
            AS INT) AS queue_pos
FROM weighted
WHERE match_weight < CAST('{_fs_up!r}' AS DOUBLE)
  AND match_weight > CAST('{_fs_lo!r}' AS DOUBLE)
QUALIFY queue_pos <= 5
"""

    # Waterfall twin: each field's weight is the SAME literal CASE the
    # engine's fs_field_weight_expr embeds; the total is the identical
    # left-to-right sum (_fs_weight_sql), and the prior weight is one
    # Python-computed literal — nothing engine-evaluated beyond CASE + add.
    def _fs_field_weight_sql(k, params):
        w = params.weights()
        return (
            "CASE "
            + " ".join(
                f"WHEN {k} = {lvl} THEN CAST('{w[k][lvl]!r}' AS DOUBLE)"
                for lvl in range(_FS_FIELDS[k])
            )
            + " END"
        )

    import math as _math
    _fs_p = FSParams()
    _fs_prior_w = _math.log2(max(_fs_p.lam, 1e-6) / max(1.0 - _fs_p.lam, 1e-6))
    o["link_fs_waterfall"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
{_fs_gammas_sql}
SELECT conv_id_a, conv_id_b,
       CAST('{_fs_prior_w!r}' AS DOUBLE) AS w_prior,
       {_fs_field_weight_sql('g_jac', _fs_p)} AS w_jac,
       {_fs_field_weight_sql('g_lev', _fs_p)} AS w_lev,
       {_fs_field_weight_sql('g_prefix', _fs_p)} AS w_prefix,
       {_fs_field_weight_sql('g_len', _fs_p)} AS w_len,
       {_fs_weight_sql(_fs_p)} AS match_weight
FROM gammas
"""

    # Unlinkables twin: MAX over the identically-computed pair scores is
    # accumulation-order-free, so best_score compares bit-identically;
    # blocking misses surface as NULL best_score with n_candidates 0.
    o["link_unlinkables"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
best AS (
  SELECT conv_id_a, CAST(count(*) AS BIGINT) AS n_candidates,
         max(score) AS best_score
  FROM scored_final GROUP BY 1
)
SELECT c.conv_id AS conv_id_a,
       CAST(coalesce(b.n_candidates, 0) AS BIGINT) AS n_candidates,
       b.best_score AS best_score
FROM canonical c LEFT JOIN best b ON c.conv_id = b.conv_id_a
WHERE NOT (ends_with(c.conv_id, '_dup') OR ends_with(c.conv_id, '_nd'))
  AND (b.best_score IS NULL OR b.best_score < {CFG.threshold})
"""

    # Linkage-evaluation twin: the link_matches mutual-best under the
    # same truth construction as blocking_eval, counted with exact ints.
    o["link_eval"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
best_a AS (
  SELECT conv_id_a, conv_id_b, score
  FROM scored_final WHERE score >= {CFG.threshold}
  QUALIFY row_number() OVER (PARTITION BY conv_id_a
                             ORDER BY score DESC, conv_id_b) = 1
),
m AS (
  SELECT conv_id_a, conv_id_b FROM best_a
  QUALIFY row_number() OVER (PARTITION BY conv_id_b
                             ORDER BY score DESC, conv_id_a) = 1
),
truth AS (
  SELECT DISTINCT substr(conv_id, 1, length(conv_id) - 4) AS conv_id_a,
                  conv_id AS conv_id_b
  FROM canonical WHERE ends_with(conv_id, '_dup')
  UNION
  SELECT DISTINCT substr(conv_id, 1, length(conv_id) - 3), conv_id
  FROM canonical WHERE ends_with(conv_id, '_nd')
),
u AS (
  SELECT m.conv_id_a IS NOT NULL AS in_m, t.conv_id_a IS NOT NULL AS in_t
  FROM m FULL OUTER JOIN truth t
    ON m.conv_id_a = t.conv_id_a AND m.conv_id_b = t.conv_id_b
),
agg AS (
  SELECT CAST(sum(CASE WHEN in_m THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
         CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         CAST(sum(CASE WHEN in_m AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM u
)
SELECT n_matches, n_true, tp,
       CASE WHEN n_matches = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / n_matches END AS "precision",
       CASE WHEN n_true = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / n_true END AS recall,
       CASE WHEN n_matches + n_true = 0 THEN NULL
            ELSE CAST(2 * tp AS DOUBLE) / (n_matches + n_true) END AS f1
FROM agg
"""

    # Shortlist twin: the same per-record rank over identically-computed
    # scores (total order via the conv_id_b tiebreak).
    o["link_topk_candidates"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL}
SELECT conv_id_a, conv_id_b, score,
       CAST(row_number() OVER (PARTITION BY conv_id_a
                               ORDER BY score DESC, conv_id_b)
            AS INT) AS cand_rank
FROM scored_final
QUALIFY cand_rank <= 3
"""

    # Cluster evidence-graph twin: same closure as o["clusters"], then
    # MIN/COUNT-only per-cluster aggregates (no order-dependent float SUM)
    # and one IEEE division of exact integers for the density.
    o["cluster_graph_stats"] = f"""
WITH RECURSIVE {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL},
sim_edges AS (
  SELECT conv_id_a AS src, conv_id_b AS dst, score
  FROM scored_final WHERE score >= {CFG.threshold}
),
exact_star AS (
  SELECT r.src, r.dst FROM (
    SELECT min(conv_id) OVER (PARTITION BY canon_text) AS src, conv_id AS dst
    FROM canonical
  ) r WHERE r.src <> r.dst
),
all_edges AS (
  SELECT src, dst FROM sim_edges
  UNION
  SELECT src, dst FROM exact_star
),
sym AS (
  SELECT src, dst FROM all_edges
  UNION
  SELECT dst, src FROM all_edges
),
reach(a, b) AS (
  SELECT conv_id, conv_id FROM canonical
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src
),
clu AS (SELECT a AS conv_id, min(b) AS cluster_id FROM reach GROUP BY a),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
  FROM clu GROUP BY 1 HAVING count(*) >= 2
),
per_sim AS (
  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_sim_edges,
         min(e.score) AS min_edge_score
  FROM sim_edges e JOIN clu c ON e.src = c.conv_id GROUP BY 1
),
per_exact AS (
  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_exact_edges
  FROM exact_star e JOIN clu c ON e.src = c.conv_id GROUP BY 1
)
SELECT s.cluster_id, s.n_members,
       CAST(coalesce(p.n_sim_edges, 0) AS BIGINT) AS n_sim_edges,
       CAST(coalesce(x.n_exact_edges, 0) AS BIGINT) AS n_exact_edges,
       p.min_edge_score,
       CAST(2 * coalesce(p.n_sim_edges, 0) AS DOUBLE)
         / (s.n_members * (s.n_members - 1)) AS sim_density
FROM sizes s
LEFT JOIN per_sim p USING (cluster_id)
LEFT JOIN per_exact x USING (cluster_id)
"""

    # Stability twin: the SAME closure twice — once at the engine threshold,
    # once at the strict literal — then an exact integer count(distinct)
    # of strict sub-clusters per base cluster.
    o["cluster_stability"] = f"""
WITH RECURSIVE {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL},
exact_star AS (
  SELECT r.src, r.dst FROM (
    SELECT min(conv_id) OVER (PARTITION BY canon_text) AS src, conv_id AS dst
    FROM canonical
  ) r WHERE r.src <> r.dst
),
base_edges AS (
  SELECT conv_id_a AS src, conv_id_b AS dst
  FROM scored_final WHERE score >= {CFG.threshold}
  UNION
  SELECT src, dst FROM exact_star
),
strict_edges AS (
  SELECT conv_id_a AS src, conv_id_b AS dst
  FROM scored_final WHERE score >= {STRICT_THRESHOLD}
  UNION
  SELECT src, dst FROM exact_star
),
sym_b AS (
  SELECT src, dst FROM base_edges UNION SELECT dst, src FROM base_edges
),
sym_s AS (
  SELECT src, dst FROM strict_edges UNION SELECT dst, src FROM strict_edges
),
reach_b(a, b) AS (
  SELECT conv_id, conv_id FROM canonical
  UNION
  SELECT r.a, e.dst FROM reach_b r JOIN sym_b e ON r.b = e.src
),
reach_s(a, b) AS (
  SELECT conv_id, conv_id FROM canonical
  UNION
  SELECT r.a, e.dst FROM reach_s r JOIN sym_s e ON r.b = e.src
),
clu_b AS (SELECT a AS conv_id, min(b) AS cluster_id FROM reach_b GROUP BY a),
clu_s AS (SELECT a AS conv_id, min(b) AS cluster_id FROM reach_s GROUP BY a)
SELECT b.cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(DISTINCT s.cluster_id) AS BIGINT) AS n_sub,
       count(DISTINCT s.cluster_id) > 1 AS splits
FROM clu_b b JOIN clu_s s USING (conv_id)
GROUP BY 1 HAVING count(*) >= 2
"""

    # Glue-edges twin: the same two closures as cluster_stability, then
    # edges whose endpoints land in different strict sub-clusters.
    o["cluster_glue_edges"] = f"""
WITH RECURSIVE {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL},
sim_edges AS (
  SELECT conv_id_a AS src, conv_id_b AS dst, score
  FROM scored_final WHERE score >= {CFG.threshold}
),
exact_star AS (
  SELECT r.src, r.dst FROM (
    SELECT min(conv_id) OVER (PARTITION BY canon_text) AS src, conv_id AS dst
    FROM canonical
  ) r WHERE r.src <> r.dst
),
base_edges AS (
  SELECT src, dst FROM sim_edges
  UNION
  SELECT src, dst FROM exact_star
),
strict_edges AS (
  SELECT conv_id_a AS src, conv_id_b AS dst
  FROM scored_final WHERE score >= {STRICT_THRESHOLD}
  UNION
  SELECT src, dst FROM exact_star
),
sym_b AS (
  SELECT src, dst FROM base_edges UNION SELECT dst, src FROM base_edges
),
sym_s AS (
  SELECT src, dst FROM strict_edges UNION SELECT dst, src FROM strict_edges
),
reach_b(a, b) AS (
  SELECT conv_id, conv_id FROM canonical
  UNION
  SELECT r.a, e.dst FROM reach_b r JOIN sym_b e ON r.b = e.src
),
reach_s(a, b) AS (
  SELECT conv_id, conv_id FROM canonical
  UNION
  SELECT r.a, e.dst FROM reach_s r JOIN sym_s e ON r.b = e.src
),
clu_b AS (SELECT a AS conv_id, min(b) AS cluster_id FROM reach_b GROUP BY a),
clu_s AS (SELECT a AS conv_id, min(b) AS cluster_id FROM reach_s GROUP BY a)
SELECT b.cluster_id, e.src, e.dst, e.score
FROM sim_edges e
JOIN clu_s ss ON e.src = ss.conv_id
JOIN clu_s sd ON e.dst = sd.conv_id
JOIN clu_b b ON e.src = b.conv_id
WHERE ss.cluster_id <> sd.cluster_id
"""

    # Threshold-sweep twin: the grid is the SAME literal list (cast to
    # DOUBLE — DuckDB parses bare decimals as DECIMAL), the counts are
    # exact integers, and each metric is a single IEEE division of exact
    # ints (NULL on zero denominators) — bit-identical across engines.
    # The CROSS JOIN below is DuckDB-only (tiny literal grid); the Spark
    # side fans out with explode, no cartesian in any engine plan.
    _grid_sql = " UNION ALL ".join(
        f"SELECT CAST('{t!r}' AS DOUBLE) AS threshold" for t in SWEEP_GRID
    )
    o["threshold_sweep"] = f"""
WITH {_TRANSCRIPTS_SQL}, {_BLOCKED_SQL}, {_SCORE_SQL},
s AS (
  SELECT least(conv_id_a, conv_id_b) AS lo,
         greatest(conv_id_a, conv_id_b) AS hi,
         max(score) AS score
  FROM scored_final GROUP BY 1, 2
),
truth AS (
  SELECT DISTINCT least(substr(conv_id, 1, length(conv_id) - 4), conv_id) AS lo,
                  greatest(substr(conv_id, 1, length(conv_id) - 4), conv_id) AS hi
  FROM canonical WHERE ends_with(conv_id, '_dup')
  UNION
  SELECT DISTINCT least(substr(conv_id, 1, length(conv_id) - 3), conv_id),
                  greatest(substr(conv_id, 1, length(conv_id) - 3), conv_id)
  FROM canonical WHERE ends_with(conv_id, '_nd')
),
u AS (
  SELECT s.score, t.lo IS NOT NULL AS is_true
  FROM s FULL OUTER JOIN truth t ON s.lo = t.lo AND s.hi = t.hi
),
grid AS ({_grid_sql}),
e AS (SELECT u.score, u.is_true, g.threshold FROM u CROSS JOIN grid g),
agg AS (
  SELECT threshold,
         CAST(sum(CASE WHEN is_true AND score IS NOT NULL
                        AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN NOT is_true AND score IS NOT NULL
                        AND score >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN is_true AND (score IS NULL OR score < threshold)
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM e GROUP BY 1
)
SELECT threshold, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS "precision",
       CASE WHEN tp + fn = 0 THEN NULL
            ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
       CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
            ELSE CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
FROM agg
"""

    # Fellegi–Sunter EM twin: the EM loop is deterministic driver
    # arithmetic over SORTED (pattern, count) rows, so the twin fits the
    # SAME parameters by aggregating the same gammas through DuckDB and
    # running the same pure-Python fs_em_from_counts — then the converged
    # weights, per-pattern posteriors, and the weight threshold are all
    # shared literals. The fit runs at the driver's compare scale (sf0.01;
    # SPARK_GRAFT_ORACLE_SF_DIR overrides). If the parquet is unreadable
    # here, the query stays rows-only rather than shipping a wrong twin.
    def _fs_em_twin_params():
        import duckdb

        sf = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
        )
        rows = con.execute(f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
{_fs_gammas_sql}
SELECT g_jac, g_lev, g_prefix, g_len, count(*) AS n
FROM gammas GROUP BY g_jac, g_lev, g_prefix, g_len
""").fetchall()
        counts = [(tuple(int(v) for v in r[:4]), int(r[4])) for r in rows]
        return fs_em_from_counts(counts)

    try:
        _fs_em = _fs_em_twin_params()
    except Exception:
        _fs_em = None
    if _fs_em is not None:
        _em_prob_sql = "CASE " + " ".join(
            "WHEN "
            + " AND ".join(f"{k} = {lvl}" for k, lvl in zip(_FS_FIELDS, pat))
            + f" THEN CAST('{prob!r}' AS DOUBLE)"
            for pat, _, prob in fs_pattern_literals(_fs_em)
        ) + " END"
        _em_thr = fs_weight_threshold(0.95, _fs_em)
        o["link_fs_matches"] = f"""
WITH {_TRANSCRIPTS_SQL},
{_LINK_SQL},
{_SCORE_SQL},
{_fs_gammas_sql},
weighted AS (
  SELECT conv_id_a, conv_id_b,
         {_fs_weight_sql(_fs_em)} AS match_weight,
         {_em_prob_sql} AS match_prob
  FROM gammas
),
best_a AS (
  SELECT * FROM weighted
  WHERE match_weight >= CAST('{_em_thr!r}' AS DOUBLE)
  QUALIFY row_number() OVER (PARTITION BY conv_id_a
                             ORDER BY match_weight DESC, conv_id_b) = 1
)
SELECT conv_id_a, conv_id_b, match_weight, match_prob FROM best_a
QUALIFY row_number() OVER (PARTITION BY conv_id_b
                           ORDER BY match_weight DESC, conv_id_a) = 1
"""

        # Model-card twin: the twin's own EM fit (from DuckDB-aggregated
        # gammas, identical sorted-counts arithmetic) emitted as literal
        # rows — a MATCH certifies the Spark pattern aggregation fed the
        # same counts into the same fit.
        _em_w = _fs_em.weights()
        _param_rows = " UNION ALL ".join(
            f"SELECT '{k}' AS field, CAST({lvl} AS INTEGER) AS level, "
            f"CAST('{_fs_em.m[k][lvl]!r}' AS DOUBLE) AS m, "
            f"CAST('{_fs_em.u[k][lvl]!r}' AS DOUBLE) AS u, "
            f"CAST('{_em_w[k][lvl]!r}' AS DOUBLE) AS weight"
            for k in _FS_FIELDS for lvl in range(_FS_FIELDS[k])
        ) + (
            f" UNION ALL SELECT 'lambda', CAST(0 AS INTEGER), "
            f"CAST('{_fs_em.lam!r}' AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
        )
        o["link_fs_params"] = f"SELECT * FROM ({_param_rows})"

    return o
