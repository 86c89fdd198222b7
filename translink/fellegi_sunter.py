"""Fellegi–Sunter probabilistic record linkage (match weights + EM).

The engine's blended score (``scoring.score_pairs``) is a heuristic convex
combination; the canonical probabilistic model for record linkage is
Fellegi & Sunter 1969 ("A Theory for Record Linkage", JASA — public
paper), the model behind modern linkage engines such as the public
Splink project: each candidate pair is reduced to a discrete COMPARISON
VECTOR γ (agreement level per field), and each field level carries a
log-likelihood-ratio weight ``log2(m/u)`` where ``m = P(level | match)``
and ``u = P(level | non-match)``. The pair's match weight is the sum; the
posterior match probability follows from Bayes with the prior λ.

Parameters can be fixed (auditable, ANSI-SQL-reproducible — the oracle
path) or estimated UNSUPERVISED by expectation-maximization. The EM here
is the standard pattern-count formulation and is built for corpus scale:
ONE distributed aggregation reduces the pair set to at most
``prod(levels)`` (≤ 36 here) pattern counts, and every EM iteration is
driver-side arithmetic over that tiny table — the corpus is touched
exactly once, no per-iteration shuffle, no collect of pairs.

Comparison fields over transcript pairs (levels):
  - ``g_jac``    token-shingle Jaccard       (0: <0.5, 1: >=0.5, 2: >=0.9)
  - ``g_lev``    Levenshtein similarity      (0: <0.7, 1: >=0.7, 2: >=0.9)
  - ``g_prefix`` first-``PREFIX_CAP``-chars exact agreement (0/1)
  - ``g_len``    |Δ total_chars| within a QUARTER of the blocking bucket (0/1)

Field-vs-blocking independence: candidate pairs only exist inside a
block, and the block key already encodes ``n_turns`` and
``floor(total_chars / length_bucket)`` — so turn-count equality and a
bucket-width length band would be structurally constant 1 for every pair
the pipeline ever scores (zero discriminating information, a uniform
~+2.2-bit inflation of every fixed-params posterior). The fields above
are chosen to stay informative GIVEN blocking agreement: the content
prefix is not part of any key, and the length band is strictly tighter
than the bucket that blocking guarantees.

Calibration caveat (document, don't hide): the unsupervised EM estimates
``u`` and ``λ`` from the BLOCKED candidate-pair population, so ``u`` is
conditioned on blocking agreement (biased high vs corpus-random pairs)
and ``match_prob`` is an in-block posterior — "probability this
candidate is a match, given it already collided in blocking" — not a
corpus-wide one. That is the quantity a linkage decision inside this
pipeline needs (only blocked pairs are ever decided on), but a
``min_match_prob`` threshold here is NOT comparable to thresholds from
engines that estimate ``u`` on random cross-corpus pairs. For that
corpus-calibrated quantity, ``fs_u_from_random_pairs`` estimates u from
a bounded deterministic sample of random cross pairs (the public Splink
``estimate_u_using_random_sampling`` discipline) and
``fs_em_fit(fixed_u=...)`` freezes it while EM fits m and λ.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window, functions as F

from translink.config import LinkConfig

#: Comparison-field names -> number of agreement levels.
FIELDS: dict[str, int] = {"g_jac": 3, "g_lev": 3, "g_prefix": 2, "g_len": 2}

#: Characters of canonical text compared exactly for ``g_prefix``.
PREFIX_CAP = 64

#: Fixed default parameters (the oracle-reproducible path): chosen to be
#: sane for near-duplicate text linkage — high agreement is ~certain under
#: a match and rare under a non-match. Probabilities per level, low→high.
#: ``u`` is the IN-BLOCK non-match rate (see module docstring): e.g.
#: ``g_len`` level 1 is |Δchars| ≤ bucket/4, and two independent lengths
#: uniform within one 16-char blocking bucket land within 4 of each other
#: ~48% of the time — hence u ≈ [0.52, 0.48], not the tiny corpus-random
#: rate.
DEFAULT_M: dict[str, list[float]] = {
    "g_jac": [0.02, 0.18, 0.80],
    "g_lev": [0.02, 0.18, 0.80],
    "g_prefix": [0.15, 0.85],
    "g_len": [0.05, 0.95],
}
DEFAULT_U: dict[str, list[float]] = {
    "g_jac": [0.90, 0.09, 0.01],
    "g_lev": [0.80, 0.15, 0.05],
    "g_prefix": [0.97, 0.03],
    "g_len": [0.52, 0.48],
}
DEFAULT_LAMBDA = 0.1

_EPS = 1e-6


@dataclass
class FSParams:
    """m/u probability tables (per field, per level) and the match prior."""

    m: dict[str, list[float]] = field(
        default_factory=lambda: {k: list(v) for k, v in DEFAULT_M.items()}
    )
    u: dict[str, list[float]] = field(
        default_factory=lambda: {k: list(v) for k, v in DEFAULT_U.items()}
    )
    lam: float = DEFAULT_LAMBDA
    n_iter: int = 0          # EM iterations actually run (0 = fixed params)
    converged: bool = True

    def weights(self) -> dict[str, list[float]]:
        """Per-field, per-level log2(m/u) match weights."""
        return {
            k: [
                math.log2(max(m, _EPS) / max(u, _EPS))
                for m, u in zip(self.m[k], self.u[k])
            ]
            for k in FIELDS
        }


def comparison_vectors(scored_pairs: DataFrame, cfg: LinkConfig | None = None) -> DataFrame:
    """Reduce scored candidate pairs to discrete comparison vectors.

    Input needs ``token_jaccard``, ``levenshtein_sim``, ``canon_text_a/b``,
    ``total_chars_a/b`` (i.e. ``score_pairs`` output over pairs carrying
    the text/numeric payload columns). Adds the ``g_*`` level columns;
    banding thresholds are fixed constants so the reduction is exactly
    reproducible in ANSI SQL. Neither gamma is implied by blocking
    agreement (module docstring): the prefix is no key's input, and the
    length band is a quarter of the blocking bucket.
    """
    cfg = cfg or LinkConfig()
    len_band = max(1, int(cfg.length_bucket) // 4)
    return scored_pairs.withColumns({
        "g_jac": F.when(F.col("token_jaccard") >= 0.9, F.lit(2))
                  .when(F.col("token_jaccard") >= 0.5, F.lit(1))
                  .otherwise(F.lit(0)),
        "g_lev": F.when(F.col("levenshtein_sim") >= 0.9, F.lit(2))
                  .when(F.col("levenshtein_sim") >= 0.7, F.lit(1))
                  .otherwise(F.lit(0)),
        "g_prefix": F.when(
            F.substring("canon_text_a", 1, PREFIX_CAP)
            == F.substring("canon_text_b", 1, PREFIX_CAP), F.lit(1)
        ).otherwise(F.lit(0)),
        "g_len": F.when(
            F.abs(F.col("total_chars_a") - F.col("total_chars_b"))
            <= F.lit(len_band), F.lit(1)
        ).otherwise(F.lit(0)),
    })


def fs_field_weight_expr(field: str, params: FSParams | None = None) -> F.Column:
    """One comparison field's log2(m/u) weight as a literal CASE column."""
    params = params or FSParams()
    w = params.weights()[field]
    expr = F.when(F.col(field) == 0, F.lit(w[0]))
    for lvl in range(1, FIELDS[field]):
        expr = expr.when(F.col(field) == lvl, F.lit(w[lvl]))
    return expr.otherwise(F.lit(None).cast("double"))


def fs_weight_expr(params: FSParams | None = None) -> F.Column:
    """Match-weight column: sum over fields of the level's log2(m/u).

    The weights are computed in Python ONCE and embedded as double
    literals (no runtime log/pow), so a SQL twin embedding the same
    literals is bit-identical — engine log implementations never enter
    the comparison.
    """
    params = params or FSParams()
    terms = [fs_field_weight_expr(k, params) for k in FIELDS]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def fs_waterfall(gammas: DataFrame, params: FSParams | None = None) -> DataFrame:
    """Per-field match-weight decomposition — the linkage "waterfall".

    The explainability surface public FS engines ship (Splink's waterfall
    chart data): for every pair, one column per comparison field holding
    that field's contribution to the match weight (``w_jac``, ``w_lev``,
    ``w_prefix``, ``w_len``), the prior weight ``w_prior = log2(λ/(1-λ))``
    the chart starts from, and ``match_weight`` — the same left-to-right
    literal sum ``fs_weight_expr`` produces, so the total is bit-identical
    to the scoring lane's. A reviewer reads a pair's row as "start at the
    prior, each field moves the evidence by its column" — the full
    posterior audit trail with zero extra passes over the data (pure
    map-side literal CASEs on the γ columns; nothing is aggregated).

    Reference analog: the per-stage confidence trace of the staged
    cheap-to-expensive comparison cascade (README.md:19-47) — here as the
    per-field log-likelihood ledger of the probabilistic model.
    """
    params = params or FSParams()
    prior = math.log2(
        max(params.lam, _EPS) / max(1.0 - params.lam, _EPS)
    )
    out = gammas.withColumn("w_prior", F.lit(prior))
    for k in FIELDS:
        out = out.withColumn(f"w_{k[2:]}", fs_field_weight_expr(k, params))
    return out.withColumn("match_weight", fs_weight_expr(params))


def fs_score(gammas: DataFrame, params: FSParams | None = None) -> DataFrame:
    """Add ``match_weight`` and the Bayes posterior ``match_prob``."""
    params = params or FSParams()
    weighted = gammas.withColumn("match_weight", fs_weight_expr(params))
    prior_odds = params.lam / max(1.0 - params.lam, _EPS)
    # posterior = 1 / (1 + (1/prior_odds) * 2^-W)
    return weighted.withColumn(
        "match_prob",
        F.lit(1.0) / (
            F.lit(1.0)
            + F.lit(1.0 / max(prior_odds, _EPS))
            * F.pow(F.lit(2.0), -F.col("match_weight"))
        ),
    )


def fs_pattern_literals(
    params: FSParams | None = None,
) -> list[tuple[tuple[int, ...], float, float]]:
    """Every γ pattern with Python-computed (match_weight, match_prob).

    The weight is the left-to-right sum of the per-field literals — the
    exact float the engines' ``fs_weight_expr`` column produces at
    runtime — and the posterior is computed from it HERE, once, in
    Python. Embedding these ≤36 (pattern → prob) literals as a CASE in
    both engines keeps ``pow`` (not correctly-rounded, engine-specific)
    out of the cross-engine comparison entirely.
    """
    params = params or FSParams()
    w = params.weights()
    prior_odds = params.lam / max(1.0 - params.lam, _EPS)
    inv_odds = 1.0 / max(prior_odds, _EPS)
    out = []
    for pat in itertools.product(*(range(n) for n in FIELDS.values())):
        weight = 0.0
        for k, lvl in zip(FIELDS, pat):
            weight = weight + w[k][lvl]
        prob = 1.0 / (1.0 + inv_odds * 2.0 ** (-weight))
        out.append((pat, weight, prob))
    return out


def fs_posterior_literal_expr(params: FSParams | None = None) -> F.Column:
    """``match_prob`` as a ≤36-branch CASE over the γ columns with
    Python-computed double literals (see ``fs_pattern_literals``)."""
    expr = None
    for pat, _, prob in fs_pattern_literals(params):
        cond = None
        for k, lvl in zip(FIELDS, pat):
            c = F.col(k) == F.lit(lvl)
            cond = c if cond is None else cond & c
        expr = (
            F.when(cond, F.lit(prob)) if expr is None
            else expr.when(cond, F.lit(prob))
        )
    return expr.otherwise(F.lit(None).cast("double"))


def fs_weight_threshold(
    min_match_prob: float, params: FSParams | None = None
) -> float:
    """The ``match_weight`` whose posterior equals ``min_match_prob``.

    Thresholding / ranking on the weight is result-identical to doing so
    on the posterior (strictly monotone), but the weight is a sum of
    shared literals — exactly reproducible across engines — while the
    posterior needs a runtime ``pow``.
    """
    params = params or FSParams()
    prior_odds = params.lam / max(1.0 - params.lam, _EPS)
    p = min(max(min_match_prob, _EPS), 1.0 - _EPS)
    return math.log2((p / (1.0 - p)) / max(prior_odds, _EPS))


def fs_pattern_probs(
    params: FSParams | None = None,
) -> list[tuple[tuple[int, ...], float, float, float]]:
    """Every γ pattern with its model probabilities under match and
    non-match and its weight: ``(pattern, P_m, P_u, weight)``.

    ``P_m = Π m_field[level]`` and ``P_u = Π u_field[level]`` under the
    model's conditional-independence assumption — the quantities the
    Fellegi–Sunter 1969 optimality theorem sorts and accumulates. Pure
    Python over ≤ 36 patterns.
    """
    params = params or FSParams()
    w = params.weights()
    out = []
    for pat in itertools.product(*(range(n) for n in FIELDS.values())):
        pm = pu = 1.0
        weight = 0.0
        for k, lvl in zip(FIELDS, pat):
            pm *= params.m[k][lvl]
            pu *= params.u[k][lvl]
            weight = weight + w[k][lvl]
        out.append((pat, pm, pu, weight))
    return out


def fs_thresholds_from_error_rates(
    mu: float,
    lam_err: float,
    params: FSParams | None = None,
) -> tuple[float, float]:
    """The optimal (upper, lower) ``match_weight`` thresholds of the
    Fellegi–Sunter 1969 theorem (Theorem 1, "A Theory for Record
    Linkage", JASA 64) for tolerable error rates ``mu`` (false-link
    probability: non-match decided LINK) and ``lam_err`` (false-non-link
    probability: match decided NON-LINK).

    The theorem: order the γ patterns by descending m/u likelihood ratio
    (equivalently by descending weight). The LINK region is the largest
    weight-prefix whose accumulated non-match mass ``Σ P_u`` stays
    ≤ ``mu``; the NON-LINK region is the largest weight-suffix whose
    accumulated match mass ``Σ P_m`` stays ≤ ``lam_err``; everything
    between is the POSSIBLE (clerical-review) region, and this rule
    provably minimizes that region among all rules with the given error
    bounds. Driver arithmetic over ≤ 36 patterns, accumulated in sorted
    order (bit-reproducible), no data touched.

    Returns ``(upper_weight, lower_weight)``: decide LINK at
    ``weight >= upper``, NON-LINK at ``weight <= lower``. When the two
    regions would overlap (generous error budgets), the review region is
    empty and both thresholds return the same boundary weight — the rule
    degenerates to a single cut, never to contradictory decisions.
    """
    pats = sorted(fs_pattern_probs(params), key=lambda t: (-t[3], t[0]))
    # LINK: largest prefix with cumulative P_u <= mu. Ties in weight are
    # grouped — a threshold cannot split equal-weight patterns.
    cum_u = 0.0
    upper = math.inf
    i = 0
    while i < len(pats):
        j = i
        block_u = 0.0
        while j < len(pats) and pats[j][3] == pats[i][3]:
            block_u += pats[j][2]
            j += 1
        if cum_u + block_u > mu:
            break
        cum_u += block_u
        upper = pats[i][3]
        i = j
    # NON-LINK: largest suffix with cumulative P_m <= lam_err.
    cum_m = 0.0
    lower = -math.inf
    i = len(pats) - 1
    while i >= 0:
        j = i
        block_m = 0.0
        while j >= 0 and pats[j][3] == pats[i][3]:
            block_m += pats[j][1]
            j -= 1
        if cum_m + block_m > lam_err:
            break
        cum_m += block_m
        lower = pats[i][3]
        i = j
    if lower >= upper:
        # error budgets so loose the regions meet/overlap: empty review
        # region, single cut at the upper threshold
        lower = upper
    return upper, lower


def fs_decide(
    scored: DataFrame,
    upper_weight: float,
    lower_weight: float,
) -> DataFrame:
    """Add the three-region FS ``decision`` column over ``match_weight``:
    ``link`` at ``weight >= upper``, ``nonlink`` at ``weight <= lower``
    (strictly below upper), ``possible`` (clerical review) between.

    Thresholds arrive as Python floats and are embedded as double
    literals, so an ANSI-SQL twin embedding the same literals decides
    bit-identically — same discipline as ``fs_weight_expr``.
    """
    if lower_weight > upper_weight:
        raise ValueError(
            f"lower_weight {lower_weight} > upper_weight {upper_weight}"
        )
    return scored.withColumn(
        "decision",
        F.when(F.col("match_weight") >= F.lit(float(upper_weight)),
               F.lit("link"))
        .when(F.col("match_weight") <= F.lit(float(lower_weight)),
              F.lit("nonlink"))
        .otherwise(F.lit("possible")),
    )


def fs_review_queue(
    decided: DataFrame,
    per_record_cap: int | None = None,
) -> DataFrame:
    """Clerical-review queue over the ``possible`` region of ``fs_decide``.

    The FS 1969 three-region rule exists to BOUND human review; this is
    the work queue it implies: every pair the model could not decide,
    ranked per left-side record by descending match weight (reviewers
    see a record's most plausible candidates first — the practice public
    linkage engines ship around their clerical-review region). The rank
    window partitions by ``conv_id_a`` — per-record, never global, so no
    single-partition sort exists at any corpus size; ``per_record_cap``
    truncates each record's shortlist (a reviewer protection, and a
    hard bound on queue size: ≤ cap × |A|).

    Ties on weight break by ``conv_id_b`` so the queue order is total
    and reproducible across engines.

    Plan note: the rank runs BEFORE the ``possible`` filter, with the
    possible pairs ordered first inside each record's window, so their
    positions are the ones a filter-then-rank would give. Filtering first
    lets Catalyst push the ``decision`` CASE — the full comparison vector,
    array Jaccard and Levenshtein included — into the candidate join as a
    join condition, where it runs in the interpreted per-row join loop
    (the hazard ``linkage.mutual_best_matches`` documents): the driver's
    ``link_review_queue`` query at sf0.01 took 80 s that way and 31 s
    ranked first (``local[4]`` on 4 vCPUs). The window is a pushdown
    barrier, so the comparisons run once, in the projection.
    """
    w = (
        Window.partitionBy("conv_id_a")
        .orderBy(F.col("decision") != "possible",
                 F.col("match_weight").desc(), "conv_id_b")
    )
    out = (
        decided.withColumn("queue_pos", F.row_number().over(w))
        .filter(F.col("decision") == "possible")
    )
    if per_record_cap is not None:
        out = out.filter(F.col("queue_pos") <= int(per_record_cap))
    return out


def fs_pattern_counts(gammas: DataFrame) -> list[tuple[tuple[int, ...], int]]:
    """ONE distributed aggregation: pair set -> (γ pattern, count).

    At most ``prod(levels)`` = 36 rows come back to the driver regardless
    of corpus size — this is the only pass over the pairs EM ever makes.
    Returned SORTED by pattern: ``collect()`` order depends on the
    shuffle, and float accumulation order must not (the EM arithmetic is
    bit-reproducible across partitionings only if its iteration order is).
    """
    rows = (
        gammas.groupBy(*FIELDS).agg(F.count("*").alias("n")).collect()
    )
    return sorted(
        (tuple(int(r[k]) for k in FIELDS), int(r["n"])) for r in rows
    )


def fs_em_fit(
    gammas: DataFrame,
    n_iter: int = 50,
    tol: float = 1e-9,
    init: FSParams | None = None,
    fixed_u: dict[str, list[float]] | None = None,
) -> FSParams:
    """Unsupervised EM over a gamma DataFrame: one distributed pattern
    aggregation, then ``fs_em_from_counts`` driver arithmetic."""
    return fs_em_from_counts(
        fs_pattern_counts(gammas), n_iter, tol, init, fixed_u
    )


def fs_u_from_random_pairs(
    a_canonical: DataFrame,
    b_canonical: DataFrame,
    cfg: LinkConfig | None = None,
    sample_per_side: int = 320,
    seed: int = 42,
) -> dict[str, list[float]]:
    """Estimate the u tables from corpus-RANDOM cross pairs, not blocked ones.

    The EM's in-block u is conditioned on blocking agreement (module
    docstring): informative for decisions among blocked candidates, but
    biased high versus the corpus-wide non-match rate, so its posteriors
    are not comparable to engines that calibrate u on random pairs (the
    public Splink estimate_u_using_random_sampling discipline). This is
    that other path: a deterministic hash-ordered sample of
    ``sample_per_side`` records per side (zero-shuffle TakeOrdered over
    xxhash64 — random with respect to content, reproducible across runs
    and partitionings), crossed into ``sample_per_side²`` pairs, reduced
    to comparison-vector level frequencies. Random cross pairs are
    non-matches with overwhelming probability at corpus scale, so the
    level frequencies ARE the u estimate (standard FS practice).

    Scale shape: the sample is a bounded TakeOrderedAndProject per side
    (default 320 rows — 102 400 pairs); the cross join multiplies two
    ~320-row frames, never the corpora. Returns per-field u tables,
    clipped to (_EPS, 1-_EPS), for ``FSParams(u=...)`` or
    ``fs_em_fit(fixed_u=...)``.
    """
    from translink.scoring import score_pairs

    cfg = cfg or LinkConfig()
    k = max(int(sample_per_side), 2)

    def side(c: DataFrame, suffix: str) -> DataFrame:
        cols = ["conv_id", "canon_text", "total_chars"]
        return (
            c.select(*cols)
            .orderBy(F.xxhash64(F.col("conv_id"), F.lit(seed)))
            .limit(k)
            .select(*[F.col(x).alias(f"{x}_{suffix}") for x in cols])
        )

    pairs = (
        side(a_canonical, "a")
        .crossJoin(side(b_canonical, "b"))
        # self-pairs (shared ids across sides) are potential matches, not
        # random non-matches; drop them from the estimate
        .filter(F.col("conv_id_a") != F.col("conv_id_b"))
    )
    gammas = comparison_vectors(
        score_pairs(pairs, cfg, include_jaro_winkler=False), cfg
    )
    agg = [F.count(F.lit(1)).alias("_n")]
    for fld, n_levels in FIELDS.items():
        for lvl in range(n_levels):
            agg.append(
                F.sum(F.when(F.col(fld) == lvl, 1).otherwise(0)).alias(
                    f"{fld}_{lvl}"
                )
            )
    row = gammas.agg(*agg).collect()[0]
    total = float(row["_n"]) or 1.0
    clip = lambda x: min(max(x, _EPS), 1.0 - _EPS)  # noqa: E731
    return {
        fld: [clip(row[f"{fld}_{lvl}"] / total) for lvl in range(n_levels)]
        for fld, n_levels in FIELDS.items()
    }


def fs_em_from_counts(
    counts: list[tuple[tuple[int, ...], int]],
    n_iter: int = 50,
    tol: float = 1e-9,
    init: FSParams | None = None,
    fixed_u: dict[str, list[float]] | None = None,
) -> FSParams:
    """Unsupervised EM over (γ pattern, count) rows (Fellegi–Sunter §5 /
    the standard Splink formulation).

    E-step: responsibility of pattern p is
    ``r_p = λ·Π m / (λ·Π m + (1-λ)·Π u)``; M-step re-estimates λ and each
    field's m/u tables from count-weighted responsibilities. All driver
    arithmetic over ≤ 36 patterns; counts are re-sorted by pattern so two
    engines aggregating the same pair set fit bit-identical parameters
    (pure Python floats, fixed iteration order, no randomness) — this is
    what lets a DuckDB twin run the SAME EM and embed the converged
    weights as literals.

    ``fixed_u`` freezes the u tables at an external estimate (e.g.
    ``fs_u_from_random_pairs``) and EM fits only m and λ — the Splink
    u-from-random-sampling discipline, which makes the posterior a
    corpus-calibrated quantity instead of an in-block one.
    """
    counts = sorted(counts)
    params = init or FSParams()
    m = {k: list(v) for k, v in params.m.items()}
    u = (
        {k: list(v) for k, v in fixed_u.items()}
        if fixed_u is not None
        else {k: list(v) for k, v in params.u.items()}
    )
    lam = params.lam
    total = float(sum(n for _, n in counts)) or 1.0
    keys = list(FIELDS)
    converged = False
    it = 0
    for it in range(1, n_iter + 1):
        # E-step
        resp = []
        for pat, n in counts:
            pm, pu = lam, 1.0 - lam
            for k, lvl in zip(keys, pat):
                pm *= m[k][lvl]
                pu *= u[k][lvl]
            resp.append(pm / (pm + pu) if (pm + pu) > 0 else 0.0)
        # M-step
        new_lam = sum(r * n for r, (_, n) in zip(resp, counts)) / total
        new_m = {k: [0.0] * FIELDS[k] for k in keys}
        new_u = {k: [0.0] * FIELDS[k] for k in keys}
        wm = sum(r * n for r, (_, n) in zip(resp, counts)) or _EPS
        wu = sum((1.0 - r) * n for r, (_, n) in zip(resp, counts)) or _EPS
        for r, (pat, n) in zip(resp, counts):
            for k, lvl in zip(keys, pat):
                new_m[k][lvl] += r * n
                new_u[k][lvl] += (1.0 - r) * n
        clip = lambda x: min(max(x, _EPS), 1.0 - _EPS)  # noqa: E731
        new_m = {k: [clip(v / wm) for v in new_m[k]] for k in keys}
        new_u = (
            u if fixed_u is not None
            else {k: [clip(v / wu) for v in new_u[k]] for k in keys}
        )
        new_lam = clip(new_lam)
        delta = abs(new_lam - lam) + sum(
            abs(a - b)
            for k in keys
            for a, b in zip(new_m[k] + new_u[k], m[k] + u[k])
        )
        m, u, lam = new_m, new_u, new_lam
        if delta < tol:
            converged = True
            break
    return FSParams(m=m, u=u, lam=lam, n_iter=it, converged=converged)


# --------------------------------------------------------------------------
# Term-frequency adjustment (value-specific u for the exact-match field)
# --------------------------------------------------------------------------

def prefix_tf(records: DataFrame, text_col: str = "canon_text") -> DataFrame:
    """Per-value frequency table for the ``g_prefix`` comparison field.

    One ``groupBy`` over the corpus (both sides unioned by the caller for
    a two-corpus linkage): ``(tf_prefix, n_prefix)`` where ``tf_prefix``
    is the first-``PREFIX_CAP``-chars value and ``n_prefix`` its record
    count. One row per DISTINCT prefix — joining it back to the pair set
    never amplifies rows, and the join key distribution mirrors the pair
    set's own prefix skew (a boilerplate prefix is hot on both sides of
    that join for the same reason it produced many pairs; AQE skew-join
    splits it).
    """
    return (
        records
        .select(F.substring(text_col, 1, PREFIX_CAP).alias("tf_prefix"))
        .groupBy("tf_prefix")
        .agg(F.count("*").alias("n_prefix"))
    )


def fs_tf_pattern_constants(
    n_total: int, params: FSParams | None = None
) -> list[tuple[tuple[int, ...], float | None, float]]:
    """Per-pattern ``(pattern, C, p_unadjusted)`` for the TF-adjusted
    posterior.

    Fellegi & Sunter 1969 §3.3 derive VALUE-SPECIFIC weights (the
    frequency-based weights their ε-method estimates); the public Splink
    engine ships the same idea as ``term_frequency_adjustments``: when a
    pair AGREES on an exact-match field, the evidence strength depends on
    how common the agreed value is — agreement on a one-off prefix is
    near-proof, agreement on corpus boilerplate is near-noise. The
    per-value non-match probability for value v is its term frequency
    ``tf(v) = n(v)/N`` (the chance a random record carries v), so the
    field's Bayes factor on agreement becomes ``m₁ / tf(v) = m₁·N / n(v)``
    in place of the global ``m₁/u₁``. Disagreement carries no value to
    condition on and keeps the global level-0 factor (Splink semantics).

    Cross-engine float discipline: the posterior must compare
    bit-identically against an ANSI twin, and runtime ``log``/``pow`` are
    not correctly-rounded across engines — so the TF lane never leaves
    rational arithmetic. For each γ pattern with ``g_prefix = 1`` this
    returns the Python-folded constant ``C = ((prior_odds · Π_other
    BF_field) · m₁) · N`` so the runtime computation is two IEEE
    divisions and one addition — ``d = C / n(v)``, ``p = d / (1 + d)`` —
    which every engine rounds identically. A twin may equivalently fold
    only ``L = (prior_odds · Π BF) · m₁`` at build time and multiply by a
    runtime ``N`` column: integer→double conversion is exact below 2^53
    and IEEE multiplication is correctly rounded, so ``(L · N) / n``
    equals this ``C / n`` bit-for-bit. ``p_unadjusted`` is the plain
    fixed-params posterior literal (the ``g_prefix = 0`` lane, and the
    fallback when a prefix is missing from the frequency table).
    """
    params = params or FSParams()
    prior_odds = params.lam / max(1.0 - params.lam, _EPS)
    prefix_idx = list(FIELDS).index("g_prefix")
    out = []
    for pat in itertools.product(*(range(n) for n in FIELDS.values())):
        odds = prior_odds
        for k, lvl in zip(FIELDS, pat):
            if k == "g_prefix":
                continue
            odds *= max(params.m[k][lvl], _EPS) / max(params.u[k][lvl], _EPS)
        lvl_prefix = pat[prefix_idx]
        full_odds = odds * (
            max(params.m["g_prefix"][lvl_prefix], _EPS)
            / max(params.u["g_prefix"][lvl_prefix], _EPS)
        )
        p_unadj = full_odds / (1.0 + full_odds)
        c = (
            (odds * max(params.m["g_prefix"][1], _EPS)) * float(n_total)
            if lvl_prefix == 1 else None
        )
        out.append((pat, c, p_unadj))
    return out


def fs_tf_posterior_expr(
    n_total: int,
    params: FSParams | None = None,
    n_col: str = "n_prefix",
) -> F.Column:
    """TF-adjusted ``match_prob`` as a CASE over the γ columns plus the
    joined per-value count ``n_col`` (see ``fs_tf_pattern_constants``).

    ≤ 36 γ patterns; agreement patterns get the rational value-specific
    posterior ``(C/n) / (1 + C/n)``, with the unadjusted literal as the
    NULL-``n`` fallback (prefix absent from the caller's frequency table
    → no value evidence, global u stands — Splink's missing-TF
    semantics); disagreement patterns are plain literals.
    """
    expr = None
    n = F.col(n_col)
    for pat, c, p_unadj in fs_tf_pattern_constants(n_total, params):
        cond = None
        for k, lvl in zip(FIELDS, pat):
            cc = F.col(k) == F.lit(lvl)
            cond = cc if cond is None else cond & cc
        if c is not None:
            d = F.lit(c) / n
            branch_val = d / (F.lit(1.0) + d)
            expr = (
                F.when(cond & n.isNotNull(), branch_val) if expr is None
                else expr.when(cond & n.isNotNull(), branch_val)
            )
            expr = expr.when(cond, F.lit(p_unadj))
        else:
            expr = (
                F.when(cond, F.lit(p_unadj)) if expr is None
                else expr.when(cond, F.lit(p_unadj))
            )
    return expr.otherwise(F.lit(None).cast("double"))


def fs_score_tf(
    gammas: DataFrame,
    tf: DataFrame,
    n_total: int,
    params: FSParams | None = None,
) -> DataFrame:
    """Attach the value-specific posterior ``match_prob_tf`` to a gamma
    frame.

    Joins the one-row-per-value frequency table on the pair's own prefix
    (``canon_text_a`` — on agreement the two sides' prefixes are equal by
    definition; on disagreement the joined count is unused). Null-safe
    equality so an all-null-text corpus degrades to the unadjusted lane
    in both engines rather than silently dropping pairs. The join
    shuffles on the prefix value with a ONE-row build side per key — no
    row amplification at any scale.
    """
    g = gammas.withColumn(
        "tf_prefix_a", F.substring("canon_text_a", 1, PREFIX_CAP)
    )
    joined = g.join(
        tf, on=g["tf_prefix_a"].eqNullSafe(tf["tf_prefix"]), how="left"
    ).drop("tf_prefix", "tf_prefix_a")
    return joined.withColumn(
        "match_prob_tf", fs_tf_posterior_expr(n_total, params)
    )
