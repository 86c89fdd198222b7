"""Stage 4 — vectorized pairwise similarity scoring.

The reference blends several per-pair similarity factors into one score
(0.4*SimHash-Hamming + 0.4*cosine(histogram) + 0.2*entropy-closeness,
``src/pipeline/stats.rs:237-264``). Our blend, per the north star, is
token-Jaccard + Levenshtein + Jaro-Winkler:

  - token_jaccard   — JVM: ``array_intersect``/``array_union`` sizes.
  - levenshtein_sim — JVM: built-in ``levenshtein`` on capped text.
  - jaro_winkler    — the one computation Spark lacks: an Arrow-batched
    pandas UDF (P6/U1 discipline: batch in, batch out, no per-row Python
    crossing the JVM boundary; texts capped at cfg.jw_text_cap so per-pair
    cost is O(cap^2) worst case and independent of document size).

Dedup edge generation (``score_pairs(cascade=True)``) computes the same
components in one ``mapInPandas`` kernel instead: Jaccard from the hashed
shingle sets, Jaro-Winkler for the pairs the cascade bounds keep, and
Levenshtein in the JVM projection under it.

Edges = pairs with blended score >= cfg.threshold (analog of
similarity_threshold 85.0, reference ``src/pipeline/stats.rs:44``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from translink.config import LinkConfig
from translink.signatures import shingles_expr


def _jaro_winkler(s: str, t: str, prefix_weight: float = 0.1) -> float:
    """Plain-Python Jaro-Winkler on one pair (runs inside an Arrow batch)."""
    if s == t:
        return 1.0
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    match_dist = max(ls, lt) // 2 - 1
    s_matched = [False] * ls
    t_matched = [False] * lt
    matches = 0
    for i, ch in enumerate(s):
        lo = max(0, i - match_dist)
        hi = min(lt, i + match_dist + 1)
        for j in range(lo, hi):
            if not t_matched[j] and t[j] == ch:
                s_matched[i] = t_matched[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(ls):
        if s_matched[i]:
            while not t_matched[j]:
                j += 1
            if s[i] != t[j]:
                transpositions += 1
            j += 1
    transpositions //= 2
    jaro = (
        matches / ls + matches / lt + (matches - transpositions) / matches
    ) / 3.0
    prefix = 0
    for a, b in zip(s, t):
        if a != b or prefix == 4:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def _jw_batch_numpy(
    a: "np.ndarray", b: "np.ndarray", prefix_weight: float = 0.1
) -> "np.ndarray":
    """Batch Jaro-Winkler, vectorized over the PAIR axis with numpy.

    Numerically identical to ``_jaro_winkler`` (same greedy first-unmatched
    match order via ``argmax``, same float64 operation order in the jaro and
    prefix-boost formulas; pinned by a randomized parity pytest). The scalar
    loop costs ~1 ms/pair of interpreted Python at jw_text_cap=256; here the
    per-character greedy pass runs as O(L) numpy sweeps over (batch, L)
    matrices, amortizing the interpreter out of the hot path (~10x).

    ``a``/``b`` are object arrays of str (no Nones — caller fills)."""
    import numpy as np

    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    ls = np.fromiter((len(s) for s in a), dtype=np.int64, count=n)
    lt = np.fromiter((len(s) for s in b), dtype=np.int64, count=n)
    eq = a == b
    out[eq] = 1.0
    work = ~eq & (ls > 0) & (lt > 0)
    if not work.any():
        return out
    wa, wb = a[work], b[work]
    wls, wlt = ls[work], lt[work]
    m = len(wa)
    max_s, max_t = int(wls.max()), int(wlt.max())
    # utf-32 codepoint matrices; pads are distinct sentinels above any
    # codepoint so a pad never matches real text or the other pad
    S = np.full((m, max_s), 0x7FFFFFFF, dtype=np.uint32)
    T = np.full((m, max_t), 0x7FFFFFFE, dtype=np.uint32)
    for i, s in enumerate(wa):
        S[i, : wls[i]] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    for i, s in enumerate(wb):
        T[i, : wlt[i]] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    md = np.maximum(wls, wlt) // 2 - 1  # may be -1: empty window, 0 matches
    # group rows by window radius: within a group the sweep's column slice
    # [i-md, i+md+1) IS every row's window (pads block j >= lt), so the two
    # per-iteration window comparisons disappear entirely. Post-blocking
    # batches have near-uniform lengths -> a handful of groups
    jw = np.zeros(m, dtype=np.float64)
    for mdv in np.unique(md):
        g = np.nonzero(md == mdv)[0]
        jw[g] = _jw_group(
            S[g], T[g], wls[g], wlt[g], int(mdv), prefix_weight
        )
    out[np.nonzero(work)[0]] = jw
    return out


def _jw_group(S, T, wls, wlt, md: int, prefix_weight: float):
    """Jaro-Winkler for one constant-window-radius group (see caller)."""
    import numpy as np

    m, max_s = S.shape
    max_t = T.shape[1]
    if md < 0:  # window empty for every row: zero matches, JW = 0
        return np.zeros(m, dtype=np.float64)
    t_free = np.ones((m, max_t), dtype=bool)  # ~t_matched, kept incrementally
    s_matched = np.zeros((m, max_s), dtype=bool)
    cand = np.empty((m, max_t), dtype=bool)
    for i in range(max_s):
        c0, c1 = max(0, i - md), min(max_t, i + md + 1)
        if c0 >= c1:
            continue
        v = cand[:, c0:c1]
        np.equal(T[:, c0:c1], S[:, i : i + 1], out=v)
        v &= t_free[:, c0:c1]
        hit = v.any(axis=1)
        j = v.argmax(axis=1) + c0
        t_free[np.nonzero(hit)[0], j[hit]] = False
        s_matched[hit, i] = True
    t_matched = ~t_free
    matches = s_matched.sum(axis=1)
    # ordered matched codepoints, scattered by per-row match rank
    max_m = int(matches.max()) if m else 0
    jw = np.zeros(m, dtype=np.float64)
    has = matches > 0
    if max_m > 0:
        Ms = np.zeros((m, max_m), dtype=np.uint32)
        Mt = np.zeros((m, max_m), dtype=np.uint32)
        r, c = np.nonzero(s_matched)
        Ms[r, (np.cumsum(s_matched, axis=1) - 1)[r, c]] = S[r, c]
        r, c = np.nonzero(t_matched)
        Mt[r, (np.cumsum(t_matched, axis=1) - 1)[r, c]] = T[r, c]
        trans = (
            ((Ms != Mt) & (np.arange(max_m)[None, :] < matches[:, None]))
            .sum(axis=1)
            // 2
        )
        fm = matches[has].astype(np.float64)
        jaro = (
            fm / wls[has] + fm / wlt[has] + (fm - trans[has]) / fm
        ) / 3.0
        # common-prefix boost, capped at 4 chars
        k = min(4, max_s, max_t)
        pref = np.cumprod(S[:, :k] == T[:, :k], axis=1).sum(axis=1)
        jw[has] = jaro + pref[has] * prefix_weight * (1.0 - jaro)
    return jw


@pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler over two text columns (numpy batch kernel)."""
    return pd.Series(
        _jw_batch_numpy(
            a.fillna("").to_numpy(dtype=object),
            b.fillna("").to_numpy(dtype=object),
        ),
        dtype="float64",
    )


def jaccard_from_arrays(a: str = "shingles_a", b: str = "shingles_b"):
    """Jaccard of two precomputed shingle-array columns. Preferred at scale:
    shingles are computed once per record before the pair join (O(n) UDF-free
    work) instead of four times per candidate pair (O(pairs))."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    # union == 0 (neither side has a single shingle) is ABSENCE of
    # evidence, not perfect similarity: byte-identical texts are the exact
    # path's job, and scoring empty-vs-empty as 1.0 falsely merged
    # unrelated conversations whose text has no tokens in the shingle
    # alphabet. The SQL oracles encode the same 0.0 branch.
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def token_jaccard_expr(
    a: str = "canon_text_a", b: str = "canon_text_b", n: int = 3
):
    """Word n-gram shingle Jaccard as a pure JVM expression.

    Shingles (not unigrams) so word *order* matters and two texts drawing on
    the same vocabulary don't saturate to 1.0 — the same set family the
    MinHash signature estimates, keeping blocker recall and scorer aligned.
    """
    sa = shingles_expr(a, n)
    sb = shingles_expr(b, n)
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def levenshtein_sim_expr(cap: int, a: str = "canon_text_a", b: str = "canon_text_b"):
    """1 - normalized edit distance on text capped at ``cap`` chars (JVM)."""
    sa, sb = f"substring({a}, 1, {cap})", f"substring({b}, 1, {cap})"
    return F.expr(
        f"1.0d - levenshtein({sa}, {sb}) / greatest(length({sa}), length({sb}), 1)"
    )


def jaccard_lower_bound(cfg: LinkConfig, include_jaro_winkler: bool = True) -> float:
    """Minimum token_jaccard a pair needs to possibly reach cfg.threshold,
    assuming the other components score a perfect 1.0. Pairs below it can be
    dropped BEFORE the expensive Levenshtein/Jaro-Winkler work without
    changing the thresholded edge set — the reference's cheap-to-expensive
    cascade (P1, README.md:19-47) applied inside the scorer."""
    w_rest = cfg.w_levenshtein + (cfg.w_jaro_winkler if include_jaro_winkler else 0.0)
    w_sum = cfg.w_jaccard + w_rest
    if cfg.w_jaccard <= 0:
        # jaccard carries no weight -> it can exclude nothing; validate()
        # allows a zero weight (only the SUM must be positive), so this
        # must degrade to "no cascade bound", not divide by zero
        return 0.0
    return max(0.0, (cfg.threshold * w_sum - w_rest) / cfg.w_jaccard)


def _blend(cfg: LinkConfig, include_jaro_winkler: bool):
    """The weighted blend of the component columns (the non-exact score)."""
    terms = [
        F.col("token_jaccard") * cfg.w_jaccard,
        F.col("levenshtein_sim") * cfg.w_levenshtein,
    ]
    w_sum = cfg.w_jaccard + cfg.w_levenshtein
    if include_jaro_winkler:
        terms.append(F.col("jaro_winkler") * cfg.w_jaro_winkler)
        w_sum += cfg.w_jaro_winkler
    return sum(terms[1:], terms[0]) / w_sum


def _pair_jaccard(sh_a: list, sh_b: list) -> "np.ndarray":
    """Per-row Jaccard of two lists of deduped shingle-hash arrays, from
    the set sizes. ``inter / union`` is the same float64 division as
    ``jaccard_from_arrays``; an empty union scores 0.0 there and here."""
    import numpy as np

    m = len(sh_a)
    inter = np.fromiter(
        (np.intersect1d(a, b, assume_unique=True).size
         for a, b in zip(sh_a, sh_b)),
        dtype=np.int64, count=m,
    )
    union = (np.fromiter(map(len, sh_a), dtype=np.int64, count=m)
             + np.fromiter(map(len, sh_b), dtype=np.int64, count=m) - inter)
    jac = np.zeros(m, dtype=np.float64)
    nz = union > 0
    jac[nz] = inter[nz] / union[nz]
    return jac


def _cascade(pairs: DataFrame, cfg: LinkConfig, include_jaro_winkler: bool):
    """``score_pairs(cascade=True)``: one ``mapInPandas`` pass per pair.

    A JVM projection directly under the kernel adds ``_exact`` (byte-equal
    texts) and ``levenshtein_sim``. The kernel shingles both texts with
    ``signatures.shingler`` (the hash family of ``make_shingle_udf``),
    takes Jaccard from the set sizes, drops the pairs that fail the
    Jaccard bound or the perfect-Jaro-Winkler bound (exact pairs exempt)
    and runs the batch Jaro-Winkler on the survivors only. The optimizer
    pushes no predicate through ``mapInPandas``, so none of this reaches a
    join condition or runs twice. Every input column crosses to Python,
    so callers pass ids and texts only."""
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    from translink.signatures import shingler

    shingle = shingler(cfg.shingle_size)
    jac_bound = jaccard_lower_bound(cfg, include_jaro_winkler)
    w_sum = cfg.w_jaccard + cfg.w_levenshtein + cfg.w_jaro_winkler
    w_j, w_l, w_jw = cfg.w_jaccard, cfg.w_levenshtein, cfg.w_jaro_winkler
    thr, cap = cfg.threshold, cfg.jw_text_cap

    staged = pairs.withColumns({
        "_exact": F.col("canon_text_a") == F.col("canon_text_b"),
        "levenshtein_sim": levenshtein_sim_expr(cfg.lev_text_cap),
    })
    added = [StructField("token_jaccard", DoubleType())]
    if include_jaro_winkler:
        added.append(StructField("jaro_winkler", DoubleType()))
    out_schema = StructType([*staged.schema.fields, *added])

    def kernel(batches):
        for pdf in batches:
            m = len(pdf)
            texts = pd.concat([pdf["canon_text_a"], pdf["canon_text_b"]],
                              ignore_index=True)
            sh = shingle(texts)
            jac = _pair_jaccard(sh[:m], sh[m:])
            exact = pdf["_exact"].eq(True).to_numpy()
            keep = jac >= jac_bound
            if include_jaro_winkler:
                # stage 2: assume a perfect JW; a pair that still cannot
                # clear the threshold never needs the kernel at all
                lev = pdf["levenshtein_sim"].to_numpy(dtype=np.float64)
                keep &= (jac * w_j + lev * w_l + w_jw) / w_sum >= thr
            keep |= exact
            out = pdf[keep].assign(token_jaccard=jac[keep])
            if include_jaro_winkler:
                jw = np.ones(len(out), dtype=np.float64)
                todo = ~exact[keep]
                if todo.any():
                    jw[todo] = _jw_batch_numpy(
                        np.array([(t or "")[:cap] for t in
                                  out["canon_text_a"][todo]], dtype=object),
                        np.array([(t or "")[:cap] for t in
                                  out["canon_text_b"][todo]], dtype=object),
                    )
                out = out.assign(jaro_winkler=jw)
            yield out

    return staged.mapInPandas(kernel, out_schema)


def score_pairs(
    pairs: DataFrame,
    cfg: LinkConfig | None = None,
    include_jaro_winkler: bool = True,
    cascade: bool = False,
) -> DataFrame:
    """Score candidate pairs; adds component columns and blended ``score``.

    The exact-duplicate fast path short-circuits the blend: byte-equal
    canonical texts score 1.0 without touching the pandas UDF (the analog of
    the reference's early ``Duplicates`` termination,
    ``src/pipeline/mod.rs:92-95``).

    ``cascade=True`` runs the reference's cheap-to-expensive discipline in
    one Arrow kernel after the payload joins (``_cascade``): pairs whose
    token_jaccard already rules out reaching ``cfg.threshold`` drop, and
    so do pairs whose jaccard+Levenshtein blend cannot reach it even with a
    PERFECT Jaro-Winkler; Jaro-Winkler runs for the rest only. Byte-equal
    pairs are exempt from both drops (they score 1.0 regardless of
    components — an empty-shingle exact pair has token_jaccard 0.0). The
    kept rows equal full scoring's bit for bit, so the thresholded edge set
    is unchanged. The kernel shingles the texts itself (``shingles_a/b``
    are not read) and every input column crosses to Python, so pass ids
    and texts only. Use for edge generation; leave off when every pair's
    full score is the deliverable.
    """
    cfg = cfg or LinkConfig()
    if cascade:
        scored = _cascade(pairs, cfg, include_jaro_winkler)
        exact = F.col("_exact")
    else:
        exact = F.col("canon_text_a") == F.col("canon_text_b")
        if "shingles_a" in pairs.columns and "shingles_b" in pairs.columns:
            jac = jaccard_from_arrays()
        else:
            jac = token_jaccard_expr(n=cfg.shingle_size)
        scored = pairs.withColumns({
            "token_jaccard": jac,
            "levenshtein_sim": levenshtein_sim_expr(cfg.lev_text_cap),
        })
        if include_jaro_winkler:
            scored = scored.withColumn(
                "jaro_winkler",
                F.when(exact, F.lit(1.0)).otherwise(jaro_winkler_udf(
                    F.substring("canon_text_a", 1, cfg.jw_text_cap),
                    F.substring("canon_text_b", 1, cfg.jw_text_cap),
                )),
            )
    components = ["token_jaccard", "levenshtein_sim"]
    if include_jaro_winkler:
        components.append("jaro_winkler")
    return scored.withColumn(
        "score",
        F.when(exact, F.lit(1.0)).otherwise(_blend(cfg, include_jaro_winkler)),
    ).select(
        *[c for c in pairs.columns if c not in (*components, "score")],
        *components, "score",
    )


def edges(scored: DataFrame, cfg: LinkConfig | None = None) -> DataFrame:
    """Thresholded similarity edges for clustering."""
    cfg = cfg or LinkConfig()
    return (
        scored
        .filter(F.col("score") >= cfg.threshold)
        .select(
            F.col("conv_id_a").alias("src"),
            F.col("conv_id_b").alias("dst"),
            "score",
        )
    )
