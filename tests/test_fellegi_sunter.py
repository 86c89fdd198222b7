"""Fellegi–Sunter probabilistic linkage: weights, banding, EM, end-to-end.

Pins: hand-computed log2(m/u) weights, comparison-vector banding edges,
posterior monotonicity, unsupervised EM recovering the planted match rate
and separating planted matches from in-block non-matches (deterministically),
and ``run_link_pipeline(model="fs")`` returning exactly the planted A-B
correspondence — plain, and with the term-frequency primitives composed
on its scored pairs.
"""

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from translink.config import LinkConfig
from translink.fellegi_sunter import (
    DEFAULT_LAMBDA, DEFAULT_M, DEFAULT_U, FIELDS, FSParams,
    comparison_vectors, fs_em_fit, fs_pattern_counts, fs_score,
)
from translink.linkage import (
    link_candidate_pairs, mutual_best_matches, prep_corpus, run_link_pipeline,
)

TS = datetime(2026, 1, 1, 12, 0, 0)


def _token_text(i: int) -> str:
    """8 fixed-width tokens from record-disjoint vocabularies: identical
    length for every i (one blocking bucket), zero shared tokens."""
    return " ".join(f"t{i:04d}x{j}" for j in range(8))


def _turns(spark, convs):
    rows = [
        (cid, 0, "user", text, None, TS) for cid, text in convs.items()
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )


@pytest.fixture(scope="module")
def planted(spark):
    """30 A-records × 30 B-records in one block; b00..b14 are exact copies
    of a00..a14 (planted matches), the rest pairwise disjoint."""
    a = _turns(spark, {f"a{i:02d}": _token_text(i) for i in range(30)})
    b = _turns(spark, {
        **{f"b{i:02d}": _token_text(i) for i in range(15)},
        **{f"b{i:02d}": _token_text(i + 100) for i in range(15, 30)},
    })
    return a, b


def test_weights_hand_computed():
    w = FSParams().weights()
    assert w["g_prefix"][1] == pytest.approx(math.log2(0.85 / 0.03))
    assert w["g_jac"][0] == pytest.approx(math.log2(0.02 / 0.90))
    # agreement weighs positive, disagreement negative, for every field
    for k in FIELDS:
        assert w[k][-1] > 0 > w[k][0]


def test_comparison_vector_banding(spark):
    # g_prefix compares the first PREFIX_CAP=64 chars exactly; g_len band
    # is length_bucket // 4 = 4 chars (a QUARTER of the blocking bucket —
    # a bucket-width band would be constant 1 for every blocked pair)
    same_pfx = "p" * 64 + "tail-a"
    rows = [
        # tj, lev, text_a, text_b, len_a, len_b
        #   -> expected (g_jac, g_lev, g_prefix, g_len)
        (0.95, 0.95, same_pfx, "p" * 64 + "tail-b", 100, 100, (2, 2, 1, 1)),
        (0.90, 0.70, same_pfx, "q" + "p" * 63, 100, 104, (2, 1, 0, 1)),  # >= is in-band
        (0.50, 0.69, "short", "short", 100, 105, (1, 0, 1, 0)),
        (0.49, 0.89, "short", "short x", 100, 100, (0, 1, 0, 1)),
    ]
    df = spark.createDataFrame(
        [r[:6] for r in rows],
        "token_jaccard double, levenshtein_sim double, canon_text_a string, "
        "canon_text_b string, total_chars_a int, total_chars_b int",
    )
    got = comparison_vectors(df, LinkConfig()).collect()
    for r, (_, _, _, _, _, _, want) in zip(got, rows):
        assert (r.g_jac, r.g_lev, r.g_prefix, r.g_len) == want


def test_posterior_monotone_and_extreme():
    import pandas as pd
    from translink.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    all_agree = {"g_jac": 2, "g_lev": 2, "g_prefix": 1, "g_len": 1}
    none_agree = {"g_jac": 0, "g_lev": 0, "g_prefix": 0, "g_len": 0}
    df = spark.createDataFrame(pd.DataFrame([all_agree, none_agree]))
    got = {r.g_jac: r for r in fs_score(df).collect()}
    assert got[2].match_prob > 0.99
    assert got[0].match_prob < 0.01
    assert got[2].match_weight > 0 > got[0].match_weight


def test_em_recovers_planted_match_rate(spark, planted):
    from translink.scoring import score_pairs

    cfg = LinkConfig(salt_mode="rank")
    a, b = planted
    pairs = link_candidate_pairs(
        prep_corpus(a, cfg), prep_corpus(b, cfg), cfg,
        payload_cols=["canon_text", "shingles", "total_chars"],
    )
    g = comparison_vectors(score_pairs(pairs, cfg), cfg).localCheckpoint()
    # one block of 30+30 -> 900 A×B pairs, 15 of them planted matches
    assert sum(n for _, n in fs_pattern_counts(g)) == 900
    params = fs_em_fit(g)
    assert params.lam == pytest.approx(15 / 900, rel=0.25)
    # m favors full agreement; u favors full disagreement, for the
    # informative fields (g_len is constant within a block — uninformative)
    assert params.m["g_jac"][2] > 0.9 and params.u["g_jac"][0] > 0.9
    scored = fs_score(g, params)
    match_probs = scored.filter(
        F.col("conv_id_a").substr(2, 2) == F.col("conv_id_b").substr(2, 2)
    ).filter(F.col("g_jac") == 2)
    assert match_probs.count() == 15
    assert match_probs.agg(F.min("match_prob")).first()[0] > 0.95
    non_match = scored.filter(F.col("g_jac") == 0)
    assert non_match.agg(F.max("match_prob")).first()[0] < 0.05
    # determinism: a second fit over the same frame is bit-identical
    params2 = fs_em_fit(g)
    assert params2.m == params.m and params2.u == params.u
    assert params2.lam == params.lam


def test_posterior_literals_match_runtime(spark):
    """The ≤36 Python-computed (weight, prob) literals agree with the
    runtime pow posterior on every pattern, and thresholding on
    fs_weight_threshold(p) selects exactly the posterior >= p patterns
    (weight ranking == posterior ranking, the oracle-parity invariant)."""
    import itertools

    import pandas as pd

    from translink.fellegi_sunter import (
        fs_pattern_literals, fs_posterior_literal_expr, fs_weight_threshold,
    )

    pats = [
        dict(zip(FIELDS, pat))
        for pat in itertools.product(*(range(n) for n in FIELDS.values()))
    ]
    df = spark.createDataFrame(pd.DataFrame(pats))
    rows = fs_score(df).withColumn(
        "lit_prob", fs_posterior_literal_expr()
    ).collect()
    assert len(rows) == len(fs_pattern_literals())
    thr = fs_weight_threshold(0.9)
    by_pat = {
        tuple(lvl for _, lvl in sorted(
            (list(FIELDS).index(k), r[k]) for k in FIELDS)): r
        for r in rows
    }
    for pat, weight, prob in fs_pattern_literals():
        r = by_pat[pat]
        assert r.match_weight == pytest.approx(weight, abs=0.0)
        assert r.lit_prob == pytest.approx(r.match_prob, rel=1e-12)
        assert (r.match_weight >= thr) == (prob >= 0.9)


def test_em_fit_order_independent():
    """fs_em_from_counts must be invariant to the input (shuffle) order —
    the property that makes the DuckDB EM twin bit-identical."""
    from translink.fellegi_sunter import fs_em_from_counts

    counts = [
        ((2, 2, 1, 1), 15), ((0, 0, 0, 1), 800), ((1, 0, 0, 1), 85),
        ((0, 1, 0, 0), 40), ((2, 1, 1, 1), 7),
    ]
    p1 = fs_em_from_counts(counts)
    p2 = fs_em_from_counts(list(reversed(counts)))
    assert p1.m == p2.m and p1.u == p2.u and p1.lam == p2.lam
    assert p1.n_iter == p2.n_iter


def test_run_link_pipeline_fs_end_to_end(spark, planted):
    a, b = planted
    got = run_link_pipeline(
        spark, a, b, LinkConfig(salt_mode="rank"), model="fs"
    )["matches"].collect()
    assert {(r.conv_id_a, r.conv_id_b) for r in got} == {
        (f"a{i:02d}", f"b{i:02d}") for i in range(15)
    }
    assert all(r.match_prob >= 0.95 and r.match_weight > 0 for r in got)


def test_u_from_random_pairs_corpus_calibrated(spark, planted):
    """Corpus-random u must be far below the in-block DEFAULT_U for the
    content fields (random pairs almost never agree on jaccard/lev/prefix),
    deterministic across invocations, and EM with fixed_u must keep it
    frozen while still separating planted matches."""
    from translink.fellegi_sunter import fs_u_from_random_pairs

    cfg = LinkConfig()
    a, b = planted
    pa, pb = prep_corpus(a, cfg), prep_corpus(b, cfg)
    u1 = fs_u_from_random_pairs(pa, pb, cfg, sample_per_side=25)
    u2 = fs_u_from_random_pairs(pa, pb, cfg, sample_per_side=25)
    assert u1 == u2  # hash-ordered sample: reproducible, not RNG-dependent
    # disjoint-vocabulary random pairs: agreement levels are ~never hit
    assert u1["g_jac"][0] > 0.95 and u1["g_jac"][2] < 0.05
    assert u1["g_lev"][2] < 0.5
    assert u1["g_prefix"][1] < 0.05
    # probability tables
    for fld, levels in u1.items():
        assert math.isclose(sum(levels), 1.0, rel_tol=1e-6), fld
        assert all(0.0 < v < 1.0 for v in levels), fld

    # EM with u frozen: u comes back EXACTLY as passed, m still learns
    from translink.scoring import score_pairs

    pairs = link_candidate_pairs(
        pa, pb, cfg, payload_cols=["canon_text", "shingles", "total_chars"],
    )
    gammas = comparison_vectors(
        score_pairs(pairs, cfg, include_jaro_winkler=False), cfg
    )
    fit = fs_em_fit(gammas, fixed_u=u1)
    assert fit.u == u1
    assert fit.m["g_jac"][2] > 0.5  # matches agree at the top band


def test_fs_threshold_regions_respect_error_budgets():
    """The 1969 theorem's construction: accumulated non-match mass in the
    LINK region stays <= mu, accumulated match mass in the NON-LINK
    region stays <= lambda, and tightening a budget never widens its
    region."""
    from translink.fellegi_sunter import (
        fs_pattern_probs, fs_thresholds_from_error_rates,
    )

    mu, lam_err = 0.001, 0.02
    upper, lower = fs_thresholds_from_error_rates(mu, lam_err)
    assert lower < upper  # non-degenerate review band at these budgets
    link_u = sum(pu for _, _, pu, w in fs_pattern_probs() if w >= upper)
    nonlink_m = sum(pm for _, pm, _, w in fs_pattern_probs() if w <= lower)
    assert link_u <= mu + 1e-12
    assert nonlink_m <= lam_err + 1e-12
    # tightening mu can only RAISE the upper threshold (smaller region)
    up2, _ = fs_thresholds_from_error_rates(mu / 10, lam_err)
    assert up2 >= upper
    # loosening lambda can only RAISE the lower threshold
    _, lo2 = fs_thresholds_from_error_rates(mu, lam_err * 2)
    assert lo2 >= lower


def test_fs_thresholds_degenerate_budgets_collapse_review_band():
    """Budgets loose enough that the regions would overlap produce a
    single cut (upper == lower), never contradictory decisions."""
    from translink.fellegi_sunter import fs_thresholds_from_error_rates

    upper, lower = fs_thresholds_from_error_rates(0.01, 0.05)
    assert upper == lower


def test_fs_decide_three_regions(spark):
    """Boundary semantics: >= upper is link, <= lower is nonlink,
    strictly between is possible."""
    from translink.fellegi_sunter import fs_decide

    df = spark.createDataFrame(
        [(1, 6.0), (2, 5.0), (3, 2.0), (4, 0.5), (5, -3.0)],
        "pair_id int, match_weight double",
    )
    got = {
        r["pair_id"]: r["decision"]
        for r in fs_decide(df, upper_weight=5.0, lower_weight=0.5).collect()
    }
    assert got == {1: "link", 2: "link", 3: "possible",
                   4: "nonlink", 5: "nonlink"}


def test_fs_decide_rejects_crossed_thresholds(spark):
    from translink.fellegi_sunter import fs_decide

    df = spark.createDataFrame([(1, 0.0)], "pair_id int, match_weight double")
    with pytest.raises(ValueError):
        fs_decide(df, upper_weight=1.0, lower_weight=2.0)


# --------------------------------------------------------------------------
# Term-frequency adjustment (FS 1969 §3.3 value-specific weights / Splink
# term_frequency_adjustments)
# --------------------------------------------------------------------------

def _tf_gammas(spark, rows):
    """(conv_id_a, conv_id_b, canon_text_a, g_jac, g_lev, g_prefix, g_len)"""
    return spark.createDataFrame(
        rows,
        "conv_id_a string, conv_id_b string, canon_text_a string, "
        "g_jac int, g_lev int, g_prefix int, g_len int",
    )


def test_tf_rare_prefix_outweighs_common(spark):
    from translink.fellegi_sunter import PREFIX_CAP, fs_score_tf, prefix_tf

    rare = "r" * PREFIX_CAP
    common = "c" * PREFIX_CAP
    # corpus: 2 records carry the rare prefix, 40 the common one
    corpus = spark.createDataFrame(
        [(rare,)] * 2 + [(common,)] * 40, "canon_text string"
    )
    g = _tf_gammas(spark, [
        ("a1", "b1", rare, 2, 2, 1, 1),
        ("a2", "b2", common, 2, 2, 1, 1),
    ])
    out = {
        r["conv_id_a"]: r["match_prob_tf"]
        for r in fs_score_tf(g, prefix_tf(corpus), 42).collect()
    }
    assert out["a1"] > out["a2"]
    # both still posteriors
    assert 0.0 < out["a2"] <= out["a1"] <= 1.0


def test_tf_disagreement_and_missing_value_fall_back_to_literals(spark):
    from translink.fellegi_sunter import (
        PREFIX_CAP, fs_pattern_literals, fs_score_tf, prefix_tf,
    )

    seen = "s" * PREFIX_CAP
    unseen = "u" * PREFIX_CAP
    corpus = spark.createDataFrame([(seen,)] * 5, "canon_text string")
    g = _tf_gammas(spark, [
        # disagreement: TF never applies, literal posterior stands
        ("a1", "b1", seen, 2, 2, 0, 1),
        # agreement on a value ABSENT from the frequency table: fallback
        ("a2", "b2", unseen, 2, 2, 1, 1),
    ])
    out = {
        r["conv_id_a"]: (r["n_prefix"], r["match_prob_tf"])
        for r in fs_score_tf(g, prefix_tf(corpus), 5).collect()
    }
    lits = {pat: prob for pat, _, prob in fs_pattern_literals()}
    assert out["a1"][1] == pytest.approx(lits[(2, 2, 0, 1)], abs=1e-12)
    assert out["a2"][0] is None
    assert out["a2"][1] == pytest.approx(lits[(2, 2, 1, 1)], abs=1e-12)


def test_tf_posterior_matches_python_formula(spark):
    from translink.fellegi_sunter import (
        FIELDS, PREFIX_CAP, fs_score_tf, fs_tf_pattern_constants, prefix_tf,
    )

    val = "v" * PREFIX_CAP
    n_val, n_total = 7, 100
    corpus = spark.createDataFrame([(val,)] * n_val, "canon_text string")
    g = _tf_gammas(spark, [("a1", "b1", val, 1, 2, 1, 0)])
    got = fs_score_tf(g, prefix_tf(corpus), n_total).collect()[0]
    consts = {
        pat: c for pat, c, _ in fs_tf_pattern_constants(n_total)
        if c is not None
    }
    d = consts[(1, 2, 1, 0)] / n_val
    assert got["n_prefix"] == n_val
    assert got["match_prob_tf"] == d / (1.0 + d)  # bit-exact by design
    # constants only exist for g_prefix-agreement patterns
    n_agree = sum(1 for _ in consts)
    total = 1
    for n in FIELDS.values():
        total *= n
    assert n_agree == total // FIELDS["g_prefix"]


def test_run_link_pipeline_fs_tf_composition(spark, planted):
    """Term-frequency decisions compose on ``run_link_pipeline``'s scored
    pairs: EM fit, value-specific posterior over the combined sides'
    prefix table, one-to-one resolution on that posterior."""
    from translink.fellegi_sunter import fs_score_tf, prefix_tf

    a, b = planted
    cfg = LinkConfig()
    res = run_link_pipeline(spark, a, b, cfg, model="fs")
    gammas = comparison_vectors(res["scored"], cfg)
    params = fs_em_fit(gammas)
    both = res["a_prep"].unionByName(res["b_prep"])
    tf = fs_score_tf(
        fs_score(gammas, params), prefix_tf(both), both.count(), params
    ).withColumn("score", F.col("match_prob_tf"))
    out = mutual_best_matches(tf, cfg, threshold=0.95).collect()
    got = {(r["conv_id_a"], r["conv_id_b"]) for r in out}
    assert got == {(f"a{i:02d}", f"b{i:02d}") for i in range(15)}
    assert all(r["match_prob_tf"] >= 0.95 for r in out)


def test_review_queue_ranks_possible_pairs_per_record(spark):
    from translink.fellegi_sunter import fs_decide, fs_review_queue

    decided = fs_decide(
        spark.createDataFrame(
            [
                ("a1", "b1", 9.0),   # link at upper=8
                ("a1", "b2", 5.0),   # possible
                ("a1", "b3", 7.0),   # possible — ranks first for a1
                ("a1", "b4", -4.0),  # nonlink at lower=-3
                ("a2", "b5", 5.0),   # possible — rank 1 for a2
                ("a2", "b6", 5.0),   # tie: conv_id_b breaks -> rank 2
            ],
            "conv_id_a string, conv_id_b string, match_weight double",
        ),
        upper_weight=8.0, lower_weight=-3.0,
    )
    got = {
        (r["conv_id_a"], r["conv_id_b"]): r["queue_pos"]
        for r in fs_review_queue(decided).collect()
    }
    assert got == {
        ("a1", "b3"): 1, ("a1", "b2"): 2,
        ("a2", "b5"): 1, ("a2", "b6"): 2,
    }
    capped = fs_review_queue(decided, per_record_cap=1).collect()
    assert {(r["conv_id_a"], r["conv_id_b"]) for r in capped} == {
        ("a1", "b3"), ("a2", "b5"),
    }


def test_review_queue_keeps_comparisons_out_of_join_condition(spark, planted):
    """The queue's ``decision = 'possible'`` filter must not reach the A×B
    sort-merge join as a join condition: there the decision CASE, with its
    array Jaccard and Levenshtein, runs per row in the interpreted join
    loop. Ranking before filtering keeps it in the projection."""
    from translink.fellegi_sunter import (
        fs_decide, fs_review_queue, fs_weight_expr,
    )
    from translink.scoring import score_pairs

    cfg = LinkConfig(salt_mode="rank")
    a, b = planted
    pairs = link_candidate_pairs(
        prep_corpus(a, cfg), prep_corpus(b, cfg), cfg,
        payload_cols=["canon_text", "shingles", "total_chars"],
    )
    g = comparison_vectors(
        score_pairs(pairs, cfg, include_jaro_winkler=False), cfg
    ).withColumn("match_weight", fs_weight_expr())
    queue = fs_review_queue(fs_decide(g, 8.0, -3.0), per_record_cap=5)
    plan = queue._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert joins, plan
    for ln in joins:
        assert "array_intersect" not in ln and "levenshtein" not in ln, ln


# -- waterfall (per-field evidence ledger) ----------------------------------

def test_waterfall_fields_sum_to_match_weight(spark):
    from translink.fellegi_sunter import FIELDS, FSParams, fs_waterfall

    gammas = spark.createDataFrame(
        [(0, 0, 0, 0), (2, 2, 1, 1), (1, 0, 1, 0), (2, 1, 0, 1)],
        "g_jac int, g_lev int, g_prefix int, g_len int",
    )
    params = FSParams()
    w = params.weights()
    for r in fs_waterfall(gammas, params).collect():
        # each field column is exactly its level's literal weight
        for k in FIELDS:
            assert r[f"w_{k[2:]}"] == w[k][r[k]]
        # the total is the same left-to-right sum the scoring lane embeds
        total = ((r["w_jac"] + r["w_lev"]) + r["w_prefix"]) + r["w_len"]
        assert r["match_weight"] == total


def test_waterfall_prior_weight_is_log_prior_odds(spark):
    from translink.fellegi_sunter import FSParams, fs_waterfall

    gammas = spark.createDataFrame(
        [(0, 0, 0, 0)], "g_jac int, g_lev int, g_prefix int, g_len int"
    )
    params = FSParams()
    row = fs_waterfall(gammas, params).first()
    assert row["w_prior"] == math.log2(params.lam / (1.0 - params.lam))


def test_waterfall_total_matches_fs_score_weight(spark):
    from translink.fellegi_sunter import fs_score, fs_waterfall

    gammas = spark.createDataFrame(
        [(2, 2, 1, 1), (0, 1, 0, 1)],
        "g_jac int, g_lev int, g_prefix int, g_len int",
    )
    wf = {
        (r["g_jac"], r["g_lev"], r["g_prefix"], r["g_len"]): r["match_weight"]
        for r in fs_waterfall(gammas).collect()
    }
    sc = {
        (r["g_jac"], r["g_lev"], r["g_prefix"], r["g_len"]): r["match_weight"]
        for r in fs_score(gammas).collect()
    }
    assert wf == sc
