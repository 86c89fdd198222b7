"""End-to-end: planted-label F1, golden clusters, resume semantics.

The F1 >= 0.99 gate is BASELINE.json's headline metric; resume mirrors the
reference's F6 idempotence guards (kill-and-rerun -> identical clusters,
completed stages not recomputed).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from translink.config import LinkConfig
from translink.evaluate import pairwise_prf
from translink.pipeline import run_pipeline


CFG = LinkConfig()

#: Physical nodes that evaluate Python (one Arrow crossing each).
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")


@pytest.fixture(scope="module")
def tiny_run(spark, tiny):
    """One no-workdir pipeline over ``tiny``, shared by every test here
    that only reads the result, with the physical plan (before execution)
    of the frame each stage writes."""
    from translink import pipeline

    plans: dict[str, str] = {}
    runner = pipeline.stage_runner

    def capturing(cat, fp, timings, reporter):
        inner = runner(cat, fp, timings, reporter)

        def _stage(name, build):
            def planned():
                df = build()
                plans[name] = df._jdf.queryExecution().executedPlan().toString()
                return df

            return inner(name, planned)

        return _stage

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "stage_runner", capturing)
        result = run_pipeline(spark, tiny["transcripts"], CFG)
    return result, plans


def test_end_to_end_f1(tiny_run, tiny):
    result, _ = tiny_run
    prf = pairwise_prf(tiny["labeled_pairs"], result["clusters"])
    assert prf["f1"] >= 0.99, prf
    assert prf["precision"] >= 0.99, prf
    assert prf["recall"] >= 0.99, prf


def test_expected_clusters_golden(tiny_run, tiny):
    """Cluster partition must equal the planted partition exactly (golden
    assert, analog of group-structure asserts in tests/pipeline_test.rs:61-83)."""
    result, _ = tiny_run
    got = result["clusters"]
    expected = tiny["expected_clusters"]
    # compare as partitions: same members <-> same cluster label sets
    diff = (
        got.alias("g").join(expected.alias("e"), "conv_id", "full")
        .filter(
            (F.col("g.cluster_id") != F.col("e.cluster_id"))
            | F.col("g.cluster_id").isNull()
            | F.col("e.cluster_id").isNull()
        )
        .count()
    )
    assert diff == 0


def test_primary_election(tiny_run):
    result, _ = tiny_run
    members = result["members"]
    per_cluster = members.groupBy("cluster_id").agg(
        F.sum(F.col("is_primary").cast("int")).alias("n_primary")
    )
    assert per_cluster.filter(F.col("n_primary") != 1).count() == 0
    # primary is the newest member (max_ts)
    newest = members.groupBy("cluster_id").agg(F.max("max_ts").alias("mx"))
    bad = (
        members.filter("is_primary")
        .join(newest, "cluster_id")
        .filter(F.col("max_ts") != F.col("mx"))
        .count()
    )
    assert bad == 0


def test_scored_plan_runs_cascade_once_above_joins(tiny_run):
    """The scoring cascade must not reach a payload join's condition:
    there the optimizer splits the shingle kernel below the join's
    exchange (shingling every conversation, not the candidates) and runs
    Jaccard and Levenshtein a second time in the projection. One Python
    node evaluates the whole cascade."""
    _, plans = tiny_run
    plan = plans["scored"]
    joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert joins, plan
    for ln in joins:
        for banned in ("pythonUDF", "levenshtein", "array_intersect"):
            assert banned not in ln, ln
    py = [ln for ln in plan.splitlines() if any(n in ln for n in PY_NODES)]
    assert len(py) == 1, plan


def test_pairs_plan_has_only_the_blocking_self_joins(tiny_run):
    """The exact digests ride the attribute and LSH self-joins: no join
    back by id for payload or the md5 collision guard."""
    _, plans = tiny_run
    plan = plans["pairs"]
    joins = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert len(joins) == 2, plan


def test_xxhash_collision_still_scored(spark, tiny, tiny_run):
    """The 64-bit collision guard: with every ``digest`` equal (a
    constant xxhash64) and ``digest_md5`` real, pairs and clusters must
    equal the unpatched run — a pair is dropped from scoring only when
    both digests match, exactly as exact_edges links it."""
    from translink import pipeline
    from translink.signatures import with_exact_digest

    def colliding(canonical):
        return with_exact_digest(canonical).withColumn(
            "digest", F.lit(7).cast("long")
        )

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "with_exact_digest", colliding)
        patched = run_pipeline(spark, tiny["transcripts"], CFG)
    base, _ = tiny_run
    for stage in ("pairs", "clusters"):
        got = sorted(tuple(r) for r in patched[stage].collect())
        want = sorted(tuple(r) for r in base[stage].collect())
        assert got == want, stage


def test_resume_skips_completed_stages(spark, tiny, tmp_path):
    wd = str(tmp_path / "work")
    r1 = run_pipeline(spark, tiny["transcripts"], CFG, workdir=wd, input_fingerprint="tiny")
    c1 = sorted((r["conv_id"], r["cluster_id"]) for r in r1["clusters"].collect())
    manifest1 = json.loads(open(os.path.join(wd, "_manifest.json")).read())
    assert set(manifest1) == {"canonical", "signed", "pairs", "scored", "clusters", "members"}

    # simulate a mid-pipeline kill: drop the two final stages
    r1["catalog"].invalidate("clusters")
    r1["catalog"].invalidate("members")
    r2 = run_pipeline(spark, tiny["transcripts"], CFG, workdir=wd, input_fingerprint="tiny")
    c2 = sorted((r["conv_id"], r["cluster_id"]) for r in r2["clusters"].collect())
    assert c1 == c2  # byte-identical final clusters
    # earlier stages were resumed, not recomputed
    assert r2["timings"]["canonical"] == 0.0
    assert r2["timings"]["signed"] == 0.0
    assert r2["timings"]["pairs"] == 0.0
    assert r2["timings"]["scored"] == 0.0
    assert r2["timings"]["clusters"] > 0.0


def test_stale_config_invalidates_checkpoint(spark, tiny, tmp_path):
    wd = str(tmp_path / "work2")
    run_pipeline(spark, tiny["transcripts"], CFG, workdir=wd, input_fingerprint="tiny")
    other = LinkConfig(threshold=0.9)
    r = run_pipeline(spark, tiny["transcripts"], other, workdir=wd, input_fingerprint="tiny")
    assert r["timings"]["canonical"] > 0.0  # fingerprint changed -> recompute


def test_lineage_manifest_contents(spark, tiny, tmp_path):
    wd = str(tmp_path / "work3")
    r = run_pipeline(spark, tiny["transcripts"], CFG, workdir=wd, input_fingerprint="tiny")
    lineage = r["catalog"].lineage()
    for stage, entry in lineage.items():
        assert entry["rows"] >= 0
        assert entry["snapshot_id"]
        assert isinstance(entry["partitions"], list)
        if entry["partitions"]:
            assert sum(p["rows"] for p in entry["partitions"]) == entry["rows"]


def test_non_latin_conversations_do_not_falsely_merge(spark):
    """Regression: ASCII-only tokenization reduced ALL non-Latin text to
    zero tokens, whose empty shingle sets (and sentinel minhash) scored
    token_jaccard 1.0 — unrelated Chinese conversations merged into one
    cluster. Non-ASCII is token material now, and an empty shingle union
    scores 0.0 (absence of evidence), so only byte-identical texts link
    via the exact path."""
    import datetime as dt

    from translink import LinkConfig, run_pipeline

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("zh1", 0, "user", "今天天气很好我们去公园散步吧", None, t0),
        ("zh1", 1, "assistant", "好的带上水和帽子注意防晒", None, t0),
        ("zh2", 0, "user", "请帮我写一个二分查找的函数", None, t0),
        ("zh2", 1, "assistant", "可以的请看下面的代码实现", None, t0),
        # true exact dup of zh1 must still merge (exact path)
        ("zh3", 0, "user", "今天天气很好我们去公园散步吧", None, t0),
        ("zh3", 1, "assistant", "好的带上水和帽子注意防晒", None, t0),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    res = run_pipeline(spark, t, LinkConfig(min_turns=1))
    got = {r["conv_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert got["zh1"] == got["zh3"]      # byte-identical: merged
    assert got["zh1"] != got["zh2"]      # unrelated: NOT merged


def test_pair_budget_trips_before_pair_generation(spark):
    """Pre-flight backpressure (reference bounded-channel analog,
    src/main.rs:141-146): a planted hot attribute block must raise
    PairBudgetExceeded from the O(records) forecast — carrying the
    offending lane's exact fan-out — without the O(pairs) self-join ever
    running."""
    import datetime as dt

    import pytest

    from translink.blocking import PairBudgetExceeded

    t0 = dt.datetime(2026, 1, 1)
    # one hot block: 150 single-turn conversations of identical length
    # (same n_turns, same length bucket -> one attribute block)
    rows = [
        (f"conv{i:04d}", 0, "user", f"the quick brown fox {i:04d}", None, t0)
        for i in range(150)
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    cfg = LinkConfig(pair_budget=10)
    with pytest.raises(PairBudgetExceeded) as exc:
        run_pipeline(spark, t, cfg)
    assert exc.value.budget == 10
    # the exception carries the forecast rows: lane name + exact fan-out
    lanes = {d["lane"] for d in exc.value.over}
    assert lanes, exc.value.over
    assert all(d["join_pairs"] > 10 for d in exc.value.over)


def test_pair_budget_forecast_matches_actual_attr_fanout(spark, tiny):
    """The attr-lane forecast is the EXACT self-join row count (each
    record holds one (block_key, salt) key, so multiplicity is 1)."""
    from translink.blocking import volume_forecast, with_block_key, with_salt
    from translink.candidates import candidate_pairs
    from translink.canonicalize import canonicalize
    from translink.signatures import with_exact_digest

    signed = with_exact_digest(canonicalize(tiny["transcripts"], CFG))
    blocked = with_salt(
        with_block_key(signed, CFG), ["block_key"], CFG,
        order_cols=["canon_text"],
    ).localCheckpoint(eager=True)
    forecast = volume_forecast(
        blocked, ["block_key", "salt"], "attr"
    ).first()["join_pairs"]
    actual = candidate_pairs(blocked, CFG, payload_cols=[]).count()
    assert forecast == actual


def test_pair_budget_generous_budget_passes(spark, tiny):
    """A budget above the corpus's true fan-out must not alter the
    pipeline's output (the forecast is a guard, not a transformation)."""
    res = run_pipeline(
        spark, tiny["transcripts"], LinkConfig(pair_budget=10_000_000)
    )
    base = run_pipeline(spark, tiny["transcripts"], CFG)
    got = {r["conv_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    want = {r["conv_id"]: r["cluster_id"] for r in base["clusters"].collect()}
    assert got == want


def test_pair_budget_with_meta_lane(spark, tiny):
    """The meta lane under a pair budget: one purged key table feeds both
    the lane's forecast and its pair generation, so a generous budget
    leaves the clusters unchanged, and a budget of 1 trips on the meta
    lane's own forecast."""
    import pytest

    from translink.blocking import PairBudgetExceeded

    meta = LinkConfig(use_meta_lane=True)
    base = run_pipeline(spark, tiny["transcripts"], meta)
    want = {r["conv_id"]: r["cluster_id"] for r in base["clusters"].collect()}
    res = run_pipeline(
        spark, tiny["transcripts"],
        LinkConfig(use_meta_lane=True, pair_budget=10_000_000),
    )
    got = {r["conv_id"]: r["cluster_id"] for r in res["clusters"].collect()}
    assert got == want
    with pytest.raises(PairBudgetExceeded) as exc:
        run_pipeline(spark, tiny["transcripts"],
                     LinkConfig(use_meta_lane=True, pair_budget=1))
    assert "meta" in {d["lane"] for d in exc.value.over}
