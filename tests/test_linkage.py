"""Two-corpus record linkage: A-vs-B pairs, mutual-best one-to-one matches.

The reference's grouping machinery only ever dedups one corpus
(``src/pipeline/streaming_hash.rs:132-202``); linkage generalizes it to
matching across two. These tests pin: cross-corpus-only pair generation,
combined-population salting, greedy mutual-best resolution (one-to-one,
deterministic tie-breaks), id-collision safety, and end-to-end matching of
planted exact/near duplicates across corpora through ``run_link_pipeline``
(the one linkage entry point) for every model.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from translink.config import LinkConfig
from translink.linkage import (
    link_candidate_pairs, mutual_best_matches, prep_corpus, run_link_pipeline,
)

TS = datetime(2026, 1, 1, 12, 0, 0)

LONG = ("the quick brown fox jumps over the lazy dog while the band plays "
        "a slow waltz under the paper moon and nobody asks why")
OTHER = ("completely different subject matter entirely unrelated to any "
         "other conversation in either corpus with zero shared phrasing")
THIRD = ("orthogonal third topic about volcanic geology sampling routines "
         "and seismic sensor calibration logs from the northern array site")


def _turns(spark, convs):
    """convs: {conv_id: [turn texts]} -> transcript frame."""
    rows = [
        (cid, i, "user" if i % 2 == 0 else "assistant", text, None, TS)
        for cid, texts in convs.items()
        for i, text in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp"
    )


@pytest.fixture(scope="module")
def linked(spark):
    """Planted two-corpus fixture and its end-to-end blend matches."""
    a = _turns(spark, {
        "a_exact": [LONG, LONG + " two"],
        "a_near": [LONG, LONG + " three"],
        "a_lonely": [OTHER, OTHER + " two"],
        # two A records courting the same B record; the exact copy must win
        "a_suitor_exact": [LONG + " four", LONG],
        "a_suitor_near": [LONG + " four xq", LONG],
    })
    b = _turns(spark, {
        "b_exact": [LONG, LONG + " two"],                    # = a_exact
        "b_near": [LONG, LONG + " three xq"],                # ~ a_near
        "b_contested": [LONG + " four", LONG],               # = a_suitor_exact
        "b_lonely": [THIRD, THIRD + " two"],
    })
    cfg = LinkConfig(salt_mode="rank")
    return {
        "a": a, "b": b, "cfg": cfg,
        "matches": run_link_pipeline(spark, a, b, cfg)["matches"].collect(),
    }


def test_planted_matches_found(linked):
    got = {(r.conv_id_a, r.conv_id_b) for r in linked["matches"]}
    assert ("a_exact", "b_exact") in got
    assert ("a_near", "b_near") in got
    assert ("a_suitor_exact", "b_contested") in got


def test_matches_are_one_to_one_and_thresholded(linked):
    rows = linked["matches"]
    a_ids = [r.conv_id_a for r in rows]
    b_ids = [r.conv_id_b for r in rows]
    assert len(a_ids) == len(set(a_ids))
    assert len(b_ids) == len(set(b_ids))
    cfg = linked["cfg"]
    assert all(r.score >= cfg.threshold for r in rows)
    # the unrelated records must not match anything
    assert "a_lonely" not in a_ids
    assert "b_lonely" not in b_ids
    # the losing suitor stays unmatched (its target went to the exact copy)
    assert "a_suitor_near" not in a_ids


def test_exact_copy_scores_one(linked):
    by_pair = {(r.conv_id_a, r.conv_id_b): r for r in linked["matches"]}
    assert by_pair[("a_exact", "b_exact")].score == 1.0
    assert by_pair[("a_suitor_exact", "b_contested")].score == 1.0
    assert by_pair[("a_near", "b_near")].score < 1.0


def test_pairs_are_cross_corpus_only(spark):
    """No A×A or B×B pairs, even when both corpora share a block."""
    cfg = LinkConfig(salt_mode="rank")
    a = _turns(spark, {"a1": [LONG], "a2": [LONG]})
    b = _turns(spark, {"b1": [LONG], "b2": [LONG]})
    pairs = link_candidate_pairs(
        prep_corpus(a, cfg), prep_corpus(b, cfg), cfg,
        payload_cols=["canon_text"],
    ).collect()
    got = {(r.conv_id_a, r.conv_id_b) for r in pairs}
    assert got == {("a1", "b1"), ("a1", "b2"), ("a2", "b1"), ("a2", "b2")}


def test_id_collision_across_corpora(spark):
    """The same conv_id on both sides is legal (distinct corpora) and can
    match itself; the salt's ordering key disambiguates by side."""
    cfg = LinkConfig(salt_mode="rank")
    a = _turns(spark, {"same_id": [LONG]})
    b = _turns(spark, {"same_id": [LONG]})
    pairs = link_candidate_pairs(
        prep_corpus(a, cfg), prep_corpus(b, cfg), cfg,
        payload_cols=["canon_text"],
    ).collect()
    assert [(r.conv_id_a, r.conv_id_b) for r in pairs] == [
        ("same_id", "same_id")
    ]


def test_salt_bounds_combined_population(spark):
    """A block hot across BOTH corpora is salted by the combined count:
    with 6 A-copies + 6 B-copies of one text and max_block_size=4, the
    12-member block splits into 3 salt sub-blocks, so the A×B fan-out is
    strictly below the unsalted 36 — the bounded-skew trade, and the
    overflow is observable via oversized_blocks."""
    from translink.blocking import oversized_blocks

    cfg = LinkConfig(salt_mode="rank", max_block_size=4)
    a = _turns(spark, {f"a{i}": [LONG] for i in range(6)})
    b = _turns(spark, {f"b{i}": [LONG] for i in range(6)})
    prep = lambda t: prep_corpus(t, cfg)  # noqa: E731
    pairs = link_candidate_pairs(
        prep(a), prep(b), cfg, payload_cols=["canon_text"]
    )
    n = pairs.count()
    assert 0 < n < 36
    # the same salted union exposes the overflow metric
    from translink.blocking import with_salt

    tagged = (
        prep(a).select("conv_id", "block_key", "canon_text")
        .withColumn("_side", F.lit("a"))
        .unionByName(
            prep(b).select("conv_id", "block_key", "canon_text")
            .withColumn("_side", F.lit("b"))
        )
        .withColumn("_sid", F.concat_ws("#", "_side", "conv_id"))
    )
    ob = oversized_blocks(
        with_salt(tagged, ["block_key"], cfg, id_col="_sid"), cfg
    ).collect()
    assert len(ob) == 1 and ob[0].block_size == 12 and ob[0].n_salt == 3


def test_mutual_best_tie_breaks_deterministic(spark):
    """Equal scores resolve by smallest partner id on both sides."""
    rows = [
        ("a1", "b1", 0.9), ("a1", "b2", 0.9),   # a1 prefers b1 (id tie-break)
        ("a2", "b3", 0.8), ("a3", "b3", 0.8),   # b3 prefers a2
        ("a4", "b4", 0.5),                       # below threshold
    ]
    scored = spark.createDataFrame(
        rows, "conv_id_a string, conv_id_b string, score double"
    )
    got = {
        (r.conv_id_a, r.conv_id_b)
        for r in mutual_best_matches(scored, LinkConfig(threshold=0.7)).collect()
    }
    assert got == {("a1", "b1"), ("a2", "b3")}


# -- unlinkables (coverage diagnostic) ---------------------------------------

def test_unlinkable_records_separates_blocking_and_scoring_misses(spark):
    from translink.linkage import unlinkable_records

    a_records = spark.createDataFrame(
        [("a1",), ("a2",), ("a3",)], "conv_id string"
    )
    scored = spark.createDataFrame(
        [("a1", "b1", 0.9), ("a1", "b2", 0.5), ("a2", "b1", 0.3)],
        "conv_id_a string, conv_id_b string, score double",
    )
    rows = {
        r["conv_id_a"]: r
        for r in unlinkable_records(
            a_records, scored, LinkConfig(threshold=0.7)
        ).collect()
    }
    assert set(rows) == {"a2", "a3"}      # a1 linked at 0.9 -> absent
    assert (rows["a2"]["n_candidates"], rows["a2"]["best_score"]) == (1, 0.3)
    # a3 never collided in blocking: the blocking-miss signature
    assert rows["a3"]["n_candidates"] == 0
    assert rows["a3"]["best_score"] is None


# -- resumable linkage pipeline ---------------------------------------------

def test_run_link_pipeline_resumes_from_checkpoint(spark, tmp_path):
    def turns(convs):
        rows = []
        for cid, text in convs.items():
            for i in range(3):
                rows.append((cid, i, "user", f"{text} turn {i}", None,
                             datetime(2026, 2, 1, 0, i)))
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    a = turns({"a1": "alpha conversation text body", "a2": "beta topic body"})
    b = turns({"b1": "alpha conversation text body", "b9": "unrelated talk"})
    wd = str(tmp_path / "link_wd")
    cfg = LinkConfig()

    first = run_link_pipeline(spark, a, b, cfg, workdir=wd,
                              input_fingerprint="v1")
    m1 = {(r["conv_id_a"], r["conv_id_b"]) for r in first["matches"].collect()}
    assert ("a1", "b1") in m1
    assert all(t > 0 for t in first["timings"].values())

    # rerun with the same fingerprint: every stage resumes (timing 0.0),
    # matches identical
    second = run_link_pipeline(spark, a, b, cfg, workdir=wd,
                               input_fingerprint="v1")
    assert all(t == 0.0 for t in second["timings"].values())
    m2 = {(r["conv_id_a"], r["conv_id_b"]) for r in second["matches"].collect()}
    assert m2 == m1

    # changed input fingerprint invalidates the resume
    third = run_link_pipeline(spark, a, b, cfg, workdir=wd,
                              input_fingerprint="v2")
    assert any(t > 0 for t in third["timings"].values())


def test_run_link_pipeline_fs_model(spark, tmp_path):
    def turns(convs):
        rows = []
        for cid, text in convs.items():
            for i in range(3):
                rows.append((cid, i, "user", f"{text} turn {i}", None,
                             datetime(2026, 2, 1, 0, i)))
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    a = turns({"a1": "gamma body of conversation", "a2": "delta body text"})
    b = turns({"b1": "gamma body of conversation"})
    res = run_link_pipeline(spark, a, b, LinkConfig(), model="fs")
    rows = res["matches"].collect()
    assert {(r["conv_id_a"], r["conv_id_b"]) for r in rows} == {("a1", "b1")}


def test_run_link_pipeline_meta_model(spark, tmp_path):
    """model="meta": the schema-free bipartite meta-blocking lane under
    the same resumable stage discipline — the exact-twin pair matches at
    key-Jaccard weight 1.0, and a same-fingerprint rerun resumes every
    stage."""
    from datetime import datetime

    def turns(convs):
        rows = []
        for cid, text in convs.items():
            for i in range(3):
                rows.append((cid, i, "user", f"{text} turn {i}", None,
                             datetime(2026, 2, 1, 0, i)))
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )

    a = turns({"a1": "epsilon conversation body words here",
               "a2": "zeta completely different topic words"})
    b = turns({"b1": "epsilon conversation body words here",
               "b9": "unrelated chatter about nothing shared"})
    wd = str(tmp_path / "meta_wd")
    first = run_link_pipeline(spark, a, b, LinkConfig(), workdir=wd,
                              input_fingerprint="v1", model="meta")
    rows = first["matches"].collect()
    assert {(r["conv_id_a"], r["conv_id_b"]) for r in rows} == {("a1", "b1")}
    assert rows[0]["score"] == 1.0
    assert rows[0]["common_keys"] >= 1

    second = run_link_pipeline(spark, a, b, LinkConfig(), workdir=wd,
                               input_fingerprint="v1", model="meta")
    assert all(t == 0.0 for t in second["timings"].values())
    assert {(r["conv_id_a"], r["conv_id_b"])
            for r in second["matches"].collect()} == {("a1", "b1")}


def test_link_pair_budget_trips_before_join(spark):
    """Bipartite pre-flight: a hot shared block across the two corpora must
    raise PairBudgetExceeded from the O(records) forecast, before the A×B
    join materializes a pair; the forecast counts CROSS-side products only."""
    from translink.blocking import PairBudgetExceeded

    # 40 x 40 same-length single-turn conversations -> one shared block
    a = _turns(spark, {f"a{i:02d}": [f"{LONG} {i:02d}"] for i in range(40)})
    b = _turns(spark, {f"b{i:02d}": [f"{LONG} {i:02d}"] for i in range(40)})
    cfg = LinkConfig(pair_budget=50, max_block_size=512)
    prep_a, prep_b = prep_corpus(a, cfg), prep_corpus(b, cfg)
    with pytest.raises(PairBudgetExceeded) as exc:
        link_candidate_pairs(prep_a, prep_b, cfg, payload_cols=[])
    assert all(d["lane"] == "link" for d in exc.value.over)
    # cross-side only: 40*40 = 1600 (C(80,2) = 3160 would be the self-join
    # overcount the bipartite forecast must NOT produce)
    assert sum(d["join_pairs"] for d in exc.value.over) == 1600


def test_link_pair_budget_forecast_matches_actual(spark):
    """With a generous budget the forecast equals the actual A×B pair count
    (each record holds exactly one (block_key, salt) key)."""
    a = _turns(spark, {f"a{i:02d}": [f"{LONG} {i:02d}"] for i in range(12)})
    b = _turns(spark, {f"b{i:02d}": [f"{LONG} {i:02d}"] for i in range(9)})
    cfg = LinkConfig(pair_budget=10_000, max_block_size=512)
    prep_a, prep_b = prep_corpus(a, cfg), prep_corpus(b, cfg)
    n = link_candidate_pairs(prep_a, prep_b, cfg, payload_cols=[]).count()
    assert n == 12 * 9


# -- side prep on the hashed shingle kernel ---------------------------------

#: Adversarial texts (the tokenizer tri-engine set of test_signatures plus
#: upper-case, sub-n and empty texts) for the kernel-vs-expression parity.
ADVERSARIAL = [
    "",
    "plain ascii text",
    "  \t\n leading and trailing \x00\x07 ",
    "中文文本没有空格",
    "mixed 中文 and English words",
    "emoji 😀😀 clusters 🎉 here",
    "café naïve résumé",
    "café naïve",
    "a.b,c;d:e!f?g(h)i[j]k{l}m|n\\o/p~q`r's\"t",
    "under_scores and-dashes",
    "digits123mixed456tokens",
    "ελληνικά κείμενο และ ไทย",
    "\x7f\x1e\x1f record separators",
    "regex specials .*+?^$ in text",
    "ÉCOLE ΟΔΟΣ Straße MIXED case Words",
    "one two",
    "x",
    "...",
]


def test_prep_kernel_jaccard_equals_string_shingle_expression(spark, linked):
    """Every scored pair's token_jaccard (hashed shingle arrays from
    prep_corpus) equals the string-shingle expression on the same
    canonical texts, exactly — over adversarial texts blocked together
    (one huge length bucket) and the planted fixture pairs."""
    from translink.scoring import token_jaccard_expr

    cfg = LinkConfig(salt_mode="rank", length_bucket=1_000_000,
                     shuffle_partitions=4)
    a = _turns(spark, {f"adv_a{i:02d}": [t]
                       for i, t in enumerate(ADVERSARIAL)})
    b = _turns(spark, {
        f"adv_b{i:02d}": [t + " tail words" if i % 2 else t]
        for i, t in enumerate(ADVERSARIAL)
    })
    scored = run_link_pipeline(
        spark, a.unionByName(linked["a"]), b.unionByName(linked["b"]), cfg,
    )["scored"]
    rows = scored.select(
        "token_jaccard",
        token_jaccard_expr(n=cfg.shingle_size).alias("ref"),
    ).collect()
    assert len(rows) > len(ADVERSARIAL) ** 2 // 2
    assert all(r["token_jaccard"] == r["ref"] for r in rows)
    values = {r["ref"] for r in rows}
    assert 1.0 in values and 0.0 in values
    assert any(0.0 < v < 1.0 for v in values)


def test_prep_corpus_spreads_hashed_shingles(spark, linked):
    """prep_corpus runs the shingle kernel on cfg.shuffle_partitions
    partitions (AQE does not coalesce a fixed-count repartition) and emits
    hashed shingles."""
    cfg = LinkConfig(shuffle_partitions=5)
    prep = prep_corpus(linked["a"], cfg)
    assert dict(prep.dtypes)["shingles"] == "array<bigint>"
    assert prep.rdd.getNumPartitions() == cfg.shuffle_partitions


def test_engine_version_changes_fingerprint(monkeypatch):
    """Catalogs written with string shingles (engine version 2) must not
    resume into the hashed-shingle engine."""
    current = LinkConfig().fingerprint()
    monkeypatch.setattr(LinkConfig, "ENGINE_VERSION", 2)
    assert LinkConfig().fingerprint() != current
