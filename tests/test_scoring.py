"""Scorer kernels: hand-computed Jaro-Winkler values, Jaccard, blend.

Mirrors the reference's similarity tests (identical > 95, different <
identical; ``tests/phase4_test.rs:240-269``).
"""

import math

import pytest
from pyspark.sql import functions as F

from translink.config import LinkConfig
from translink.scoring import (
    _jaro_winkler,
    levenshtein_sim_expr,
    score_pairs,
    token_jaccard_expr,
)


@pytest.mark.parametrize(
    "s,t,expected",
    [
        ("MARTHA", "MARHTA", 0.9611111),     # classic textbook value
        ("DIXON", "DICKSONX", 0.8133333),
        ("JELLYFISH", "SMELLYFISH", 0.8963),
        ("abc", "abc", 1.0),
        ("", "", 1.0),
        ("abc", "", 0.0),
        ("abc", "xyz", 0.0),
    ],
)
def test_jaro_winkler_known_values(s, t, expected):
    assert math.isclose(_jaro_winkler(s, t), expected, abs_tol=1e-3)


def test_score_pairs_components(spark):
    cfg = LinkConfig()
    pairs = spark.createDataFrame(
        [
            ("a", "b", "the quick brown fox", "the quick brown fox"),
            ("a", "c", "the quick brown fox", "the quick brown cat"),
            ("a", "d", "the quick brown fox", "zzz yyy xxx www"),
        ],
        "conv_id_a string, conv_id_b string, canon_text_a string, canon_text_b string",
    )
    scored = {r["conv_id_b"]: r for r in score_pairs(pairs, cfg).collect()}
    assert scored["b"]["score"] == 1.0
    assert scored["b"]["token_jaccard"] == 1.0
    # 3-gram shingles: {"the quick brown","quick brown fox"} vs {...,"quick brown cat"}
    assert math.isclose(scored["c"]["token_jaccard"], 1 / 3, abs_tol=1e-9)
    assert scored["c"]["score"] > scored["d"]["score"]
    assert scored["d"]["token_jaccard"] == 0.0
    assert scored["d"]["score"] < cfg.threshold


def test_levenshtein_sim_expr(spark):
    df = spark.createDataFrame(
        [("kitten", "sitting")], "canon_text_a string, canon_text_b string"
    )
    v = df.select(levenshtein_sim_expr(512).alias("v")).first()["v"]
    assert math.isclose(v, 1 - 3 / 7, abs_tol=1e-9)


def test_token_jaccard_empty_both_sides(spark):
    """Empty-vs-empty shingle sets score 0.0 (absence of evidence, not
    perfect similarity): byte-identical texts are the exact path's job,
    and 1.0 here falsely merged unrelated token-free conversations."""
    df = spark.createDataFrame(
        [("", "")], "canon_text_a string, canon_text_b string"
    )
    assert df.select(token_jaccard_expr().alias("v")).first()["v"] == 0.0


def test_jw_udf_matches_local(spark):
    rows = [
        ("x", "y", "partition scheduler merge", "partition scheduler merge!"),
        ("x", "z", "stream worker", "worker stream"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id_a string, conv_id_b string, canon_text_a string, canon_text_b string"
    )
    out = score_pairs(df, LinkConfig()).collect()
    for r in out:
        local = _jaro_winkler(r["canon_text_a"], r["canon_text_b"])
        assert math.isclose(r["jaro_winkler"], local, abs_tol=1e-12)


def test_jw_numpy_batch_parity_randomized():
    """The vectorized batch kernel must be BIT-identical to the scalar
    reference on randomized unicode pairs (equal/empty/mutated/disjoint,
    single-char, non-BMP, and grossly unequal lengths — the window-radius
    grouping and pad-sentinel edge cases)."""
    import random
    import numpy as np

    from translink.scoring import _jw_batch_numpy

    rng = random.Random(1234)
    alpha = "abcdefghijklmnopqrstuvwxyz éß中𐍈"
    edge = ["", "a", "ab", "ba", "abc", "martha", "marhta", "dwayne", "duane"]
    pairs = [(s, t) for s in edge for t in edge]
    for _ in range(1500):
        n1 = rng.randint(0, 40)
        s = "".join(rng.choice(alpha) for _ in range(n1))
        r = rng.random()
        if r < 0.3:
            t = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        elif r < 0.6:
            t = "".join(c if rng.random() > 0.2 else rng.choice(alpha) for c in s)
        else:
            t = s
        pairs.append((s, t))
    for _ in range(200):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 4)))
        t = "".join(rng.choice(alpha) for _ in range(rng.randint(40, 90)))
        pairs.extend([(s, t), (t, s)])
    got = _jw_batch_numpy(
        np.array([p[0] for p in pairs], dtype=object),
        np.array([p[1] for p in pairs], dtype=object),
    )
    exp = np.array([_jaro_winkler(s, t) for s, t in pairs])
    assert (got == exp).all()


def test_cascade_edge_set_equivalent(spark):
    """The cascade (jaccard lower bound, then the perfect-JW bound before
    the JW kernel) must produce EXACTLY the edge set of full scoring —
    including the byte-equal pair whose text is too short to shingle
    (token_jaccard 0.0, score 1.0 via the exact path) — and every row it
    keeps must equal full scoring's row bit for bit, with and without
    Jaro-Winkler. Covers a random corpus and tokenizer-adversarial texts
    (CJK, emoji, accents, separators, texts shorter than n tokens, empty
    texts) with near-duplicate variants of each."""
    import itertools
    import random

    cfg = LinkConfig()
    rng = random.Random(99)
    words = [f"w{i:03d}" for i in range(40)]
    rows = [
        ("x1", "x2", "hi", "hi"),                      # exact, empty shingles
        ("y1", "y2", "one two three four", "one two three four"),
    ]
    for i in range(300):
        a = " ".join(rng.choice(words) for _ in range(12))
        r = rng.random()
        if r < 0.4:
            b = a
        elif r < 0.8:  # mutate a few words: mid-range scores
            b = " ".join(
                w if rng.random() > 0.2 else rng.choice(words)
                for w in a.split()
            )
        else:
            b = " ".join(rng.choice(words) for _ in range(12))
        rows.append((f"p{i}a", f"p{i}b", a, b))
    # the samples of test_tokenizer_tri_engine_agreement
    adversarial = [
        "",
        "plain ascii text",
        "  \t\n leading and trailing \x00\x07 ",
        "中文文本没有空格",
        "mixed 中文 and English words",
        "emoji 😀😀 clusters 🎉 here",
        "café naïve résumé",          # combining-free accents
        "café naïve",      # combining marks
        "a.b,c;d:e!f?g(h)i[j]k{l}m|n\\o/p~q`r's\"t",
        "under_scores and-dashes",     # _ and - are separators
        "digits123mixed456tokens",
        "ελληνικά κείμενο และ ไทย",
        "\x7f\x1e\x1f record separators",
        "regex specials .*+?^$ in text",
    ]
    variants = []
    for s in adversarial:
        variants += [s, s + "!", s + " 😀", s[:-1], s.upper()]
    for i, (a, b) in enumerate(itertools.product(variants, repeat=2)):
        rows.append((f"q{i}a", f"q{i}b", a, b))
    pairs = spark.createDataFrame(
        rows,
        "conv_id_a string, conv_id_b string, "
        "canon_text_a string, canon_text_b string",
    )
    from translink.scoring import edges

    full = {
        (r["src"], r["dst"])
        for r in edges(score_pairs(pairs, cfg, cascade=False), cfg).collect()
    }
    casc = {
        (r["src"], r["dst"])
        for r in edges(score_pairs(pairs, cfg, cascade=True), cfg).collect()
    }
    assert ("x1", "x2") in full
    assert casc == full

    for jw in (True, False):
        comps = ["token_jaccard", "levenshtein_sim", "score"]
        comps += ["jaro_winkler"] if jw else []

        def _rows(cascade):
            scored = score_pairs(pairs, cfg, include_jaro_winkler=jw,
                                 cascade=cascade)
            return {
                (r["conv_id_a"], r["conv_id_b"]): tuple(r[c] for c in comps)
                for r in scored.select("conv_id_a", "conv_id_b", *comps)
                .collect()
            }

        kept, every = _rows(True), _rows(False)
        assert kept and set(kept) < set(every)
        # near-duplicate adversarial rows survive the cascade too
        assert sum(k[0].startswith("q") and v[0] < 1.0
                   for k, v in kept.items()) > 10
        for key, got in kept.items():
            assert got == every[key], (key, got, every[key])
