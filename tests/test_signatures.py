"""Signature kernels: digest stability, MinHash accuracy.

Mirrors the reference's kernel unit tests (SimHash determinism
``src/pipeline/stats.rs:433-448``, fingerprint well-formedness ``:485-503``).
"""

import pytest
from pyspark.sql import functions as F

from translink.canonicalize import canonicalize
from translink.config import LinkConfig
from translink.signatures import (
    minhash_jaccard_expr,
    shingles_expr,
    with_exact_digest,
    with_minhash,
)


def test_digest_deterministic_and_discriminating(spark, tiny):
    c = with_exact_digest(canonicalize(tiny["transcripts"]))
    # same text -> same digest; different text -> different digest (md5+xxhash both)
    n_texts = c.select("canon_text").distinct().count()
    assert c.select("digest", "digest_md5").distinct().count() == n_texts


def test_minhash_shape(spark, tiny):
    cfg = LinkConfig(num_hashes=32)
    c = with_minhash(canonicalize(tiny["transcripts"]).limit(20), cfg)
    rows = c.select(F.size("minhash").alias("k")).distinct().collect()
    assert [r["k"] for r in rows] == [32]


@pytest.mark.parametrize("overlap,expected", [(1.0, 1.0), (0.5, 0.5), (0.0, 0.0)])
def test_minhash_estimates_jaccard(spark, overlap, expected):
    """MinHash agreement rate approximates true shingle Jaccard."""
    n = 200
    shared = [f"s{i}" for i in range(int(n * overlap))]
    a_only = [f"a{i}" for i in range(n - len(shared))]
    b_only = [f"b{i}" for i in range(n - len(shared))]
    text_a = " ".join(shared + a_only)
    text_b = " ".join(shared + b_only)
    cfg = LinkConfig(num_hashes=128, shingle_size=1)
    df = spark.createDataFrame(
        [("a", text_a), ("b", text_b)], "conv_id string, canon_text string"
    )
    signed = with_minhash(df, cfg)
    est = (
        signed.alias("a").join(signed.alias("b"), F.col("a.conv_id") < F.col("b.conv_id"))
        .select(minhash_jaccard_expr().alias("j"))
        .first()["j"]
    )
    # true jaccard of the two sets
    true_j = len(shared) / (len(shared) + len(a_only) + len(b_only)) if n else 1.0
    assert abs(est - true_j) < 0.15


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("c", "one two")], "conv_id string, canon_text string")
    row = df.select(shingles_expr("canon_text", 3).alias("s")).first()
    assert row["s"] == ["one two"]


def test_shingles_expr_long_text_matches_reference(spark):
    """A 3,000-token text: the bound-once token array gives exactly the
    pure-Python word n-gram set, in first-occurrence order."""
    import random
    import re

    from translink.signatures import TOKENIZE_PATTERN

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)] + ["Mixed", "CASE", "中文"]
    text = ", ".join(" ".join(rng.choice(vocab) for _ in range(10))
                     for _ in range(300))
    toks = [t for t in re.split(TOKENIZE_PATTERN, text.lower()) if t]
    assert len(toks) == 3000
    want = list(dict.fromkeys(
        " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
    ))
    df = spark.createDataFrame([("c", text)], "conv_id string, canon_text string")
    row = df.select(shingles_expr("canon_text", 3).alias("s")).first()
    assert row["s"] == want


def test_empty_text_sentinel_signature(spark):
    cfg = LinkConfig(num_hashes=16)
    df = spark.createDataFrame(
        [("a", ""), ("b", "")], "conv_id string, canon_text string"
    )
    rows = with_minhash(df, cfg).select("minhash").collect()
    assert rows[0]["minhash"] == rows[1]["minhash"] == [0] * 16


def test_sketch_agreement_conservative(spark):
    """The byte-lane sketch's agreement count is >= the exact positional
    agreement for any pair of signatures (false byte agreements can only ADD
    agreement), so prefiltering on it never drops a pair the exact MinHash
    estimate would keep."""
    import numpy as np

    from translink.signatures import make_signature_udf

    cfg = LinkConfig()
    texts = [
        "the quick brown fox jumps over the lazy dog " * 3,
        "the quick brown fox jumps over the lazy cat " * 3,
        "completely different text about databases and storage engines",
        "",
        "one two",
    ]
    df = spark.createDataFrame([(str(i), t) for i, t in enumerate(texts)],
                               "conv_id string, canon_text string")
    sig = make_signature_udf(cfg.num_hashes, cfg.shingle_size)
    rows = df.select(sig("canon_text").alias("s")).collect()
    mh = np.array([r["s"]["minhash"] for r in rows], dtype=np.int64)
    sk = np.array([r["s"]["minhash_sketch"] for r in rows], dtype=np.int64)
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            exact = int((mh[i] == mh[j]).sum())
            x = (sk[i] ^ sk[j]).view(np.uint64)
            lanes = (x[:, None] >> (np.uint64(8) * np.arange(8, dtype=np.uint64)))
            sketch_agree = int(((lanes & np.uint64(255)) == 0).sum())
            assert sketch_agree >= exact, (i, j, sketch_agree, exact)


def test_tokenizer_tri_engine_agreement(spark):
    """TOKENIZE_PATTERN must tokenize IDENTICALLY in Python re (the Arrow
    kernels), Spark's Java-regex split (shingles_expr), and DuckDB's RE2
    (the oracle's _shingles_sql) — the whole hash-family consistency rests
    on it. Drives adversarial inputs through all three engines: CJK,
    emoji (surrogate-pair range), combining marks, control chars, every
    ASCII separator run, regex metacharacters, and mixed-script text."""
    import re

    import duckdb

    from translink.signatures import TOKENIZE_PATTERN, tokens_expr

    samples = [
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
    pat = re.compile(TOKENIZE_PATTERN)
    py = [[t for t in pat.split(s.lower()) if t] for s in samples]

    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "i int, canon_text string")
    got = {r["i"]: list(r["toks"]) for r in df.select(
        "i", tokens_expr("canon_text").alias("toks")).collect()}
    # tokens_expr dedups; compare against deduped python (order-preserving)
    py_dedup = [list(dict.fromkeys(t)) for t in py]
    for i, want in enumerate(py_dedup):
        assert got[i] == want, f"spark != python on {samples[i]!r}"

    con = duckdb.connect()
    for i, s in enumerate(samples):
        duck = [
            t for (t,) in con.execute(
                "SELECT unnest(list_filter(string_split_regex(lower(?), ?),"
                " x -> x <> ''))",
                [s, TOKENIZE_PATTERN],
            ).fetchall()
        ]
        assert duck == py[i], f"duckdb != python on {s!r}"
