"""Structured-Streaming ingestion: availableNow drain, incremental
signatures, store read-back (T1-T7 analogs; SURVEY §2.9)."""

import os

import pytest
from pyspark.sql import functions as F

from translink import fixtures
from translink.clustering import exact_clusters
from translink.config import LinkConfig
from translink.streaming import incremental_signatures
from translink.streaming.incremental import read_signature_store


def test_incremental_signature_stream(spark, tiny, tmp_path):
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    t = tiny["transcripts"]
    # drop the corpus as several files, whole conversations per drop (the
    # walker's batch semantics: a record arrives complete)
    convs = [r["conv_id"] for r in t.select("conv_id").distinct().collect()]
    third = max(1, len(convs) // 3)
    batches = [convs[:third], convs[third:2 * third], convs[2 * third:]]
    for i, batch in enumerate(batches):
        (
            t.filter(F.col("conv_id").isin(batch))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(landing, f"drop_{i}"))
        )
    # stream source reads the directory tree's parquet files
    q = incremental_signatures(
        spark,
        landing_dir=os.path.join(landing, "*"),
        store_dir=store,
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q.awaitTermination(300)

    signed = read_signature_store(spark, store)
    assert signed.count() == len(convs)
    # signatures from the stream equal batch-mode signatures
    from translink.canonicalize import canonicalize
    from translink.signatures import with_exact_digest

    batch_signed = with_exact_digest(canonicalize(t, LinkConfig()))
    joined = signed.select("conv_id", "digest_md5").alias("s").join(
        batch_signed.select("conv_id", "digest_md5").alias("b"), "conv_id"
    )
    mismatch = joined.filter(F.col("s.digest_md5") != F.col("b.digest_md5")).count()
    assert mismatch == 0
    # downstream batch clustering over the streamed store works
    ec = exact_clusters(signed)
    assert ec.filter(F.col("conv_id").startswith("hot_")).count() >= 20


def test_split_conversation_repaired_at_read(spark, tiny, tmp_path):
    """A conversation whose turns arrive across two drops must read back
    with the FULL canonical text — per-batch partial signatures are
    discarded and the conversation is re-canonicalized from the turn store."""
    landing = str(tmp_path / "landing3")
    store = str(tmp_path / "store3")
    ckpt = str(tmp_path / "ckpt3")
    os.makedirs(landing)
    t = tiny["transcripts"]
    victim = "conv_000000"
    # drop 0: victim's first half + some whole conversations
    first = t.filter(
        (F.col("conv_id") == victim) & (F.col("turn_idx") < 2)
        | (F.col("conv_id") == "conv_000001")
    )
    second = t.filter((F.col("conv_id") == victim) & (F.col("turn_idx") >= 2))
    first.coalesce(1).write.parquet(os.path.join(landing, "d0"))
    q = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q.awaitTermination(300)
    second.coalesce(1).write.parquet(os.path.join(landing, "d1"))
    q2 = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q2.awaitTermination(300)

    signed = read_signature_store(spark, store)
    assert signed.filter(F.col("conv_id") == victim).count() == 1
    # digest equals the batch-mode digest over the WHOLE conversation
    from translink.canonicalize import canonicalize
    from translink.signatures import with_exact_digest

    batch = with_exact_digest(
        canonicalize(t.filter(F.col("conv_id") == victim), LinkConfig())
    ).first()
    streamed = signed.filter(F.col("conv_id") == victim).first()
    assert streamed["digest_md5"] == batch["digest_md5"]
    assert streamed["n_turns"] == batch["n_turns"]


def test_same_batch_duplicate_turn_slot_matches_batch(spark, tiny, tmp_path):
    """A drop that ships TWO rows for one (conv_id, turn_idx) slot (a
    malformed-but-real producer case) must read back exactly as a batch run
    over the same delivery: batch canonicalize keeps BOTH rows (array_sort
    keeps duplicates), so the store merge must keep every row of the
    winning batch per slot — not row_number-pick one, which diverged from
    batch and picked nondeterministically when the duplicates tied on
    batch id."""
    landing = str(tmp_path / "landing_dup")
    store = str(tmp_path / "store_dup")
    ckpt = str(tmp_path / "ckpt_dup")
    os.makedirs(landing)
    t = tiny["transcripts"]
    victim = "conv_000000"
    first = t.filter((F.col("conv_id") == victim) & (F.col("turn_idx") < 2))
    tail = t.filter((F.col("conv_id") == victim) & (F.col("turn_idx") >= 2))
    dup = tail.filter(F.col("turn_idx") == 2).withColumn(
        "text", F.lit("DUPLICATE SLOT PAYLOAD")
    )
    second = tail.unionByName(dup)
    first.coalesce(1).write.parquet(os.path.join(landing, "d0"))
    q = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q.awaitTermination(300)
    second.coalesce(1).write.parquet(os.path.join(landing, "d1"))
    q2 = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q2.awaitTermination(300)

    signed = read_signature_store(spark, store)
    from translink.canonicalize import canonicalize
    from translink.signatures import with_exact_digest

    batch = with_exact_digest(
        canonicalize(first.unionByName(second), LinkConfig())
    ).first()
    streamed = signed.filter(F.col("conv_id") == victim).first()
    assert streamed["n_turns"] == batch["n_turns"]  # duplicate row counted
    assert streamed["digest_md5"] == batch["digest_md5"]


def test_replacement_redelivery_drops_deleted_turns(spark, tmp_path):
    """A conversation re-delivered WHOLE with turns removed (redaction) must
    read back as the latest delivery only: merge-only semantics would keep
    the stale turns 2-3 and the repaired digest would cover deleted content.
    'auto' classifies the newest batch as a replacement (turn 0 + contiguous
    range); 'merge' keeps the old union semantics on request."""
    import datetime

    from translink.canonicalize import canonicalize
    from translink.signatures import with_exact_digest

    landing = str(tmp_path / "landing4")
    store = str(tmp_path / "store4")
    ckpt = str(tmp_path / "ckpt4")
    os.makedirs(landing)
    ts = datetime.datetime(2026, 1, 1)
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp")
    original = spark.createDataFrame(
        [("A", i, "user", f"turn {i} secret-{i}", None, ts) for i in range(4)]
        + [("B", 0, "user", "bystander", None, ts)],
        ddl,
    )
    redacted = spark.createDataFrame(
        [("A", i, "user", f"turn {i} secret-{i}", None, ts) for i in range(2)],
        ddl,
    )
    original.coalesce(1).write.parquet(os.path.join(landing, "d0"))
    q = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q.awaitTermination(300)
    redacted.coalesce(1).write.parquet(os.path.join(landing, "d1"))
    q2 = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q2.awaitTermination(300)

    def digest_of(df, cfg):
        return with_exact_digest(canonicalize(df, cfg)).first()["digest_md5"]

    # default (auto): A == batch run over the LATEST delivery (2 turns)
    got = read_signature_store(spark, store).filter(F.col("conv_id") == "A").first()
    assert got["n_turns"] == 2
    assert got["digest_md5"] == digest_of(redacted, LinkConfig())
    # explicit merge: union semantics (all 4 turns survive)
    cfg_m = LinkConfig(stream_redelivery="merge")
    got_m = read_signature_store(spark, store, cfg_m) \
        .filter(F.col("conv_id") == "A").first()
    assert got_m["n_turns"] == 4
    assert got_m["digest_md5"] == digest_of(original.filter("conv_id = 'A'"), cfg_m)


def _labels(clusters):
    return sorted(tuple(r) for r in
                  clusters.select("conv_id", "cluster_id").collect())


@pytest.fixture(scope="module")
def recluster_tiny(spark, tiny):
    """Inputs of a two-drop re-cluster over ``tiny`` and its result: the
    previous clusters of a 70% old corpus, the full signature store and
    the 30% of new ids."""
    from translink.canonicalize import canonicalize
    from translink.pipeline import run_pipeline
    from translink.signatures import with_exact_digest, with_minhash
    from translink.streaming.incremental import recluster_incremental

    cfg = LinkConfig()
    # the equivalence contract holds when no block overflows max_block_size
    # (see recluster_incremental docstring) — drop the planted hot-key rows,
    # whose size-dependent salting is deliberately run-dependent
    t = tiny["transcripts"].filter(~F.col("conv_id").startswith("hot_"))
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    # 70/30 split: old corpus, then a drop of new conversations
    cut = int(len(convs) * 0.7)
    old_ids, new_ids = set(convs[:cut]), set(convs[cut:])
    old_t = t.filter(F.col("conv_id").isin(list(old_ids)))

    prev = run_pipeline(spark, old_t, cfg)["clusters"]
    signed_all = with_minhash(with_exact_digest(canonicalize(t, cfg)), cfg) \
        .localCheckpoint(eager=True)
    new_df = spark.createDataFrame(
        [(c,) for c in sorted(new_ids)], "conv_id string"
    )
    inc = recluster_incremental(spark, signed_all, prev, new_df, cfg)
    return {
        "transcripts": t, "signed": signed_all, "prev": prev, "new": new_df,
        "clusters": _labels(inc),
    }


def test_incremental_recluster_matches_batch(spark, recluster_tiny):
    """Two drops + affected-component re-clustering == one-shot batch
    clustering over the merged corpus (byte-identical labels)."""
    from translink.pipeline import run_pipeline

    batch = run_pipeline(spark, recluster_tiny["transcripts"], LinkConfig())
    assert recluster_tiny["clusters"] == _labels(batch["clusters"])


def test_recluster_xxhash_collision_still_scored(spark, recluster_tiny):
    """The 64-bit collision guard in the re-cluster: with every ``digest``
    equal (a constant xxhash64) and ``digest_md5`` real, the re-cluster
    must equal the unpatched one — a new pair skips scoring only when both
    carried digests match."""
    from translink.streaming.incremental import recluster_incremental

    colliding = recluster_tiny["signed"].withColumn(
        "digest", F.lit(7).cast("long")
    )
    inc = recluster_incremental(
        spark, colliding, recluster_tiny["prev"], recluster_tiny["new"],
        LinkConfig(),
    )
    assert _labels(inc) == recluster_tiny["clusters"]


def test_mixed_format_store_reads_signed_columns(spark, tiny, tmp_path,
                                                 monkeypatch):
    """A store holding a batch written with the corpus-wide
    ``shingle_hashes`` column (as stores signed before it was dropped do)
    and a batch without it reads back with exactly the batch ``signed``
    stage's columns, including a conversation split across the two."""
    from translink.canonicalize import canonicalize
    from translink.signatures import with_exact_digest, with_minhash
    from translink.streaming import incremental

    landing = str(tmp_path / "landing_mixed")
    store = str(tmp_path / "store_mixed")
    ckpt = str(tmp_path / "ckpt_mixed")
    os.makedirs(landing)
    t = tiny["transcripts"]
    victim = "conv_000000"
    first = t.filter(
        (F.col("conv_id") == victim) & (F.col("turn_idx") < 2)
        | (F.col("conv_id") == "conv_000001")
    )
    second = t.filter(
        (F.col("conv_id") == victim) & (F.col("turn_idx") >= 2)
        | (F.col("conv_id") == "conv_000002")
    )
    old_format = incremental.with_minhash
    with monkeypatch.context() as mp:
        mp.setattr(incremental, "with_minhash",
                   lambda df, cfg, **_: old_format(df, cfg))
        first.coalesce(1).write.parquet(os.path.join(landing, "d0"))
        incremental_signatures(
            spark, os.path.join(landing, "*"), store, ckpt, available_now=True
        ).awaitTermination(300)
    second.coalesce(1).write.parquet(os.path.join(landing, "d1"))
    incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    ).awaitTermination(300)

    cfg = LinkConfig()
    batch = with_minhash(
        with_exact_digest(canonicalize(t, cfg)), cfg, include_shingles=False
    )
    signed = read_signature_store(spark, store)
    assert signed.columns == batch.columns
    rows = {r["conv_id"]: r for r in signed.collect()}
    assert set(rows) == {victim, "conv_000001", "conv_000002"}
    want = batch.filter(F.col("conv_id") == victim).first()
    assert rows[victim]["digest_md5"] == want["digest_md5"]
    assert rows[victim]["minhash"] == want["minhash"]


def test_stream_is_incremental(spark, tiny, tmp_path):
    """A second drain with one new file only processes the new file."""
    landing = str(tmp_path / "landing2")
    store = str(tmp_path / "store2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(landing)
    t = tiny["transcripts"]
    t.filter(F.col("conv_id").startswith("hot_")).coalesce(1) \
        .write.mode("overwrite").parquet(os.path.join(landing, "d0"))
    q = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q.awaitTermination(300)
    n1 = read_signature_store(spark, store).count()

    t.filter(F.col("conv_id") == "conv_000000").coalesce(1) \
        .write.mode("overwrite").parquet(os.path.join(landing, "d1"))
    q2 = incremental_signatures(
        spark, os.path.join(landing, "*"), store, ckpt, available_now=True
    )
    q2.awaitTermination(300)
    signed = read_signature_store(spark, store)
    assert signed.count() == n1 + 1
    assert signed.filter(F.col("conv_id") == "conv_000000").count() == 1


#: Physical nodes that evaluate Python.
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "FlatMapGroupsInPandas")


def _python_under_exchange(plan: str) -> list[str]:
    """Python-evaluating nodes of a physical plan string that sit below an
    Exchange (ancestry read from the tree indentation)."""
    stack: list[tuple[int, str]] = []
    found = []
    for line in plan.splitlines():
        name = line.lstrip(" :+-")
        depth = len(line) - len(name)
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if any(name.startswith(n) for n in PY_NODES) and any(
            "Exchange" in anc for _, anc in stack
        ):
            found.append(name)
        stack.append((depth, name))
    return found


def test_incremental_scoring_shingles_candidates_only(spark, tiny, monkeypatch):
    """A re-cluster's scoring plan evaluates Python only above the payload
    joins' exchanges: below one, the shingle kernel would run over the
    whole signature store instead of the candidate pairs."""
    from translink import pipeline
    from translink.canonicalize import canonicalize
    from translink.signatures import with_exact_digest, with_minhash
    from translink.streaming.incremental import recluster_incremental

    class Planned(Exception):
        pass

    plans = []
    score_pairs = pipeline.score_pairs

    def planning(*args, **kwargs):
        df = score_pairs(*args, **kwargs)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        raise Planned

    monkeypatch.setattr(pipeline, "score_pairs", planning)
    cfg = LinkConfig()
    # a materialized store, as read_signature_store reads it from parquet
    signed = with_minhash(
        with_exact_digest(canonicalize(tiny["transcripts"], cfg)), cfg
    ).localCheckpoint(eager=True)
    prev = signed.select("conv_id", F.col("conv_id").alias("cluster_id"))
    new_ids = spark.createDataFrame([("conv_000000",)], "conv_id string")
    with pytest.raises(Planned):
        recluster_incremental(spark, signed, prev, new_ids, cfg)
    (plan,) = plans
    assert any(n in plan for n in PY_NODES), plan
    assert _python_under_exchange(plan) == [], plan
