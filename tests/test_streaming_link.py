"""Streaming record linkage: new B-side conversations matched against a
static reference corpus A on arrival (translink/streaming/link.py) —
first-come-first-served assignment, batch-equivalence on a single drop,
replay-safe per-batch partitions."""

import os
from datetime import datetime

import pytest

from translink.config import LinkConfig
from translink.linkage import run_link_pipeline
from translink.streaming.link import (
    incremental_link,
    prepare_reference,
    read_match_store,
)

CFG = LinkConfig()


def _turns(spark, convs: dict[str, str]):
    """One 2-turn conversation per (conv_id -> base text)."""
    rows = []
    for cid, text in convs.items():
        for i in range(2):
            rows.append(
                (cid, i, "user" if i == 0 else "assistant",
                 f"{text} turn {i}", None, datetime(2026, 1, 1, 0, i))
            )
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


A_TEXTS = {
    "a1": "the quick brown fox jumps over the lazy dog again and again",
    "a2": "completely different subject matter about database systems here",
    "a3": "a third reference conversation about streaming watermarks now",
}


def test_streaming_link_first_come_first_served(spark, tmp_path):
    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    os.makedirs(landing)

    prepare_reference(spark, _turns(spark, A_TEXTS), store, CFG)
    # drop 0: b1 is a copy of a1 -> must match a1
    _turns(spark, {"b1": A_TEXTS["a1"]}).coalesce(1).write.parquet(
        os.path.join(landing, "d0")
    )
    q = incremental_link(
        spark, os.path.join(landing, "*"), store,
        str(tmp_path / "ckpt0"), CFG, available_now=True,
    )
    q.awaitTermination(300)
    # drop 1: b2 also copies a1 (taken -> unmatched), b3 copies a2
    _turns(
        spark, {"b2": A_TEXTS["a1"], "b3": A_TEXTS["a2"]}
    ).coalesce(1).write.parquet(os.path.join(landing, "d1"))
    q2 = incremental_link(
        spark, os.path.join(landing, "*"), store,
        str(tmp_path / "ckpt1"), CFG, available_now=True,
    )
    q2.awaitTermination(300)

    matches = {
        r["conv_id_b"]: r for r in read_match_store(spark, store).collect()
    }
    assert matches["b1"]["conv_id_a"] == "a1"
    assert matches["b3"]["conv_id_a"] == "a2"
    assert "b2" not in matches          # a1 was taken in an earlier batch
    # one row per A and per B
    all_rows = read_match_store(spark, store)
    assert all_rows.count() == all_rows.select("conv_id_a").distinct().count()


def test_streaming_link_single_drop_equals_batch(spark, tmp_path):
    """A corpus delivered as one drop gets exactly the batch result of
    ``run_link_pipeline`` with the same model: same pairs, same scores.
    The near-duplicate b4 (a3 with one word swapped for another of equal
    length, so it stays in a3's block) scores below 1.0, so it pins the
    scorer itself, not just the pair set."""
    landing = str(tmp_path / "landing_b")
    store = str(tmp_path / "store_b")
    os.makedirs(landing)

    b_texts = {
        "b1": A_TEXTS["a1"],
        "b3": A_TEXTS["a2"],
        "b4": A_TEXTS["a3"].replace("streaming", "buffering"),
        "b9": "unrelated",
    }
    a = _turns(spark, A_TEXTS)
    b = _turns(spark, b_texts)
    prepare_reference(spark, a, store, CFG)
    b.coalesce(1).write.parquet(os.path.join(landing, "d0"))
    q = incremental_link(
        spark, os.path.join(landing, "*"), store,
        str(tmp_path / "ckpt_b"), CFG, available_now=True,
    )
    q.awaitTermination(300)
    streamed = {
        (r["conv_id_a"], r["conv_id_b"]): r["score"]
        for r in read_match_store(spark, store).collect()
    }
    batch = {
        (r["conv_id_a"], r["conv_id_b"]): r["score"]
        for r in run_link_pipeline(spark, a, b, CFG)["matches"].collect()
    }
    assert streamed.keys() == batch.keys()
    for pair, score in batch.items():
        assert streamed[pair] == pytest.approx(score, abs=1e-12), pair
    assert ("a1", "b1") in streamed
    assert streamed[("a3", "b4")] < 1.0


def test_streaming_link_fs_model(spark, tmp_path):
    """FS scoring lane: score in the match store is the match WEIGHT, the
    exact-copy pair clears the 0.95-posterior weight threshold, and the
    unrelated record never matches."""
    landing = str(tmp_path / "landing_fs")
    store = str(tmp_path / "store_fs")
    os.makedirs(landing)

    prepare_reference(spark, _turns(spark, A_TEXTS), store, CFG)
    _turns(
        spark, {"b1": A_TEXTS["a1"], "b9": "wholly unrelated text here"}
    ).coalesce(1).write.parquet(os.path.join(landing, "d0"))
    q = incremental_link(
        spark, os.path.join(landing, "*"), store,
        str(tmp_path / "ckpt_fs"), CFG, available_now=True, model="fs",
    )
    q.awaitTermination(300)
    rows = {r["conv_id_b"]: r for r in read_match_store(spark, store).collect()}
    assert set(rows) == {"b1"}
    assert rows["b1"]["conv_id_a"] == "a1"
    from translink.fellegi_sunter import fs_weight_threshold

    assert rows["b1"]["score"] >= fs_weight_threshold(0.95)


def test_reference_store_fingerprinted(spark, tmp_path, monkeypatch):
    """The reference store is a catalog stage under the config
    fingerprint: a store prepped with another shingle size, or by another
    engine version, is refused before the stream starts, with both
    fingerprints named; a matching store is read."""
    landing = str(tmp_path / "landing_fp")
    os.makedirs(landing)
    a = _turns(spark, A_TEXTS)
    _turns(spark, {"b1": A_TEXTS["a1"]}).coalesce(1).write.parquet(
        os.path.join(landing, "d0")
    )

    def link(store):
        return incremental_link(
            spark, os.path.join(landing, "*"), store,
            str(tmp_path / "ckpt_fp"), CFG, available_now=True,
        )

    other = LinkConfig(shingle_size=CFG.shingle_size + 1)
    prepare_reference(spark, a, str(tmp_path / "store_k"), other)
    with monkeypatch.context() as mp:
        mp.setattr(LinkConfig, "ENGINE_VERSION", 2)
        old_fp = CFG.fingerprint()
        prepare_reference(spark, a, str(tmp_path / "store_v2"), CFG)
    for store, found in (("store_k", other.fingerprint()),
                         ("store_v2", old_fp)):
        with pytest.raises(ValueError) as err:
            link(str(tmp_path / store))
        assert found in str(err.value) and CFG.fingerprint() in str(err.value)

    store = str(tmp_path / "store_fp")
    prepare_reference(spark, a, store, CFG)
    link(store).awaitTermination(300)
    (row,) = read_match_store(spark, store).collect()
    assert (row["conv_id_a"], row["conv_id_b"]) == ("a1", "b1")


def test_match_store_read_errors_propagate(spark, tmp_path):
    """Only a match store that does not exist yet means "no earlier
    matches". An existing store that cannot be read must fail the batch:
    taking it as empty would let already-assigned A records be assigned
    again."""
    from translink.streaming.link import MATCHES, _read_matches_before

    store = str(tmp_path / "store")
    assert _read_matches_before(spark, store, 0) is None
    part = tmp_path / "store" / MATCHES / "batch_id=0"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"not a parquet file")
    prior = _read_matches_before(spark, store, 1)
    assert prior is not None
    with pytest.raises(Exception, match="(?i)parquet"):
        prior.collect()
