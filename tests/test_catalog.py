"""Catalog / input-layer behaviors: partitioned-input pruning (F3 analog —
the reference's depth-limit predicate maps to partition-value predicates on
a partitioned table), content-based resume invalidation (F6 idempotence
that survives an input overwritten in place) and checkpoint read-back with
the manifest's recorded schema (a resume starts no Spark job)."""

import json
import os

import pytest
from conftest import jobs_started
from pyspark.sql import functions as F

from translink.catalog import Catalog, input_content_fingerprint
from translink.config import LinkConfig
from translink.linkage import run_link_pipeline
from translink.pipeline import run_pipeline

CFG = LinkConfig()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def dedup_run(spark, tiny, tmp_path_factory):
    """One checkpointed ``tiny`` dedup pass, shared by this module; its
    clusters are collected before any test re-runs into the workdir."""
    wd = str(tmp_path_factory.mktemp("dedup_catalog"))
    res = run_pipeline(spark, tiny["transcripts"], CFG, workdir=wd)
    return {"workdir": wd, "clusters": _sorted_rows(res["clusters"])}


@pytest.fixture(scope="module")
def link_run(spark, tiny, tmp_path_factory):
    """One checkpointed link pass over ``tiny`` split by conversation
    into an A and a B side, shared by this module."""
    t = tiny["transcripts"]
    side = F.abs(F.xxhash64("conv_id")) % 2
    a, b = t.filter(side == 0), t.filter(side == 1)
    wd = str(tmp_path_factory.mktemp("link_catalog"))
    res = run_link_pipeline(spark, a, b, CFG, workdir=wd)
    return {"a": a, "b": b, "workdir": wd,
            "matches": _sorted_rows(res["matches"])}


def _strip_schema(root: str, stage: str) -> None:
    """Rewrite ``stage``'s manifest entry as written before schemas were
    recorded."""
    path = os.path.join(root, Catalog.MANIFEST)
    with open(path) as fh:
        manifest = json.load(fh)
    del manifest[stage]["schema"]
    with open(path, "w") as fh:
        json.dump(manifest, fh)


def test_partition_pruning_reaches_scan(spark, tiny, tmp_path):
    """A filter on the partition column must prune partitions at the scan
    (the engine's F3: bounding the walked subtree = reading only matching
    partition directories), not read-then-filter."""
    path = str(tmp_path / "part_input")
    t = tiny["transcripts"].withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    t.write.partitionBy("day").mode("overwrite").parquet(path)
    days = sorted(r["day"] for r in
                  spark.read.parquet(path).select("day").distinct().collect())
    assert len(days) >= 2, "fixture must span several partition values"
    pick = days[0]
    df = spark.read.parquet(path).filter(F.col("day") == pick)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filters appear at the scan node, not as a post-scan Filter
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:200]
    # and only the matching partition's rows are produced
    expected = spark.read.parquet(os.path.join(path, f"day={pick}")).count()
    assert df.count() == expected


def test_content_fingerprint_changes_on_overwrite(spark, tiny, tmp_path):
    path = str(tmp_path / "fp_input")
    t = tiny["transcripts"]
    t.limit(100).write.mode("overwrite").parquet(path)
    fp1 = input_content_fingerprint(spark, path)
    assert fp1 == input_content_fingerprint(spark, path)  # stable
    t.limit(150).write.mode("overwrite").parquet(path)
    fp2 = input_content_fingerprint(spark, path)
    assert fp1 != fp2


def test_resume_invalidated_by_input_overwrite(spark, tiny, tmp_path):
    """Overwriting the input at the same path must NOT reuse checkpointed
    stages (the round-1 staleness bug: a path-string fingerprint silently
    returned clusters of the old data)."""
    workdir = str(tmp_path / "wd")
    inpath = str(tmp_path / "in")
    t = tiny["transcripts"]
    convs = [r["conv_id"] for r in t.select("conv_id").distinct().limit(20).collect()]
    t.filter(F.col("conv_id").isin(convs[:10])).write.mode("overwrite").parquet(inpath)
    cfg = LinkConfig()

    first = run_pipeline(
        spark, spark.read.parquet(inpath), cfg, workdir=workdir,
        input_fingerprint=input_content_fingerprint(spark, inpath),
    )
    n1 = first["clusters"].count()

    # overwrite input with MORE conversations; rerun with content fingerprint
    t.filter(F.col("conv_id").isin(convs)).write.mode("overwrite").parquet(inpath)
    second = run_pipeline(
        spark, spark.read.parquet(inpath), cfg, workdir=workdir,
        input_fingerprint=input_content_fingerprint(spark, inpath),
    )
    n2 = second["clusters"].count()
    assert n2 > n1, "stale checkpoint reused after input overwrite"
    # and the recompute actually happened (timings non-zero for stage 0)
    assert second["timings"]["canonical"] > 0.0


def test_remote_style_root_manifest_and_resume(spark, tiny, tmp_path):
    """A '://' root routes manifest IO through the Hadoop FileSystem API
    (the round-1 bug: local open() crashed AFTER the stage parquet was
    persisted, leaving data without lineage). file:// exercises the same
    code path against the local FS: lineage must be recorded and a rerun
    must reuse every stage."""
    root = f"file://{tmp_path}/remote_wd"
    t = tiny["transcripts"]
    first = run_pipeline(spark, t, LinkConfig(), workdir=root)
    lineage = first["catalog"].lineage()
    assert set(lineage) == {"canonical", "signed", "pairs", "scored",
                            "clusters", "members"}
    assert all(v["rows"] >= 0 and v["fingerprint"] for v in lineage.values())
    second = run_pipeline(spark, t, LinkConfig(), workdir=root)
    assert all(v == 0.0 for v in second["timings"].values()), second["timings"]
    assert second["clusters"].count() == first["clusters"].count()


def test_remote_manifest_transport_error_propagates(spark, tmp_path):
    """A transient FS error while reading a remote manifest must PROPAGATE —
    degrading it to {} (as a missing manifest) would let the next
    write_stage persist a manifest holding only the current stage, silently
    discarding every prior stage's lineage. Only missing/corrupt manifests
    degrade to a fresh run."""
    import pytest

    from translink.catalog import Catalog

    cat = Catalog(spark, f"file://{tmp_path}/remote_err")

    def boom():
        raise RuntimeError("transient transport failure")

    cat._hadoop_fs = boom
    with pytest.raises(RuntimeError, match="transient transport failure"):
        cat._read_manifest()


def test_local_manifest_corrupt_degrades_missing_permission_does_not(tmp_path, spark):
    from translink.catalog import Catalog

    root = str(tmp_path / "wd_local")
    os.makedirs(root, exist_ok=True)
    cat = Catalog(spark, root)
    # corrupt manifest -> fresh run
    with open(cat.manifest_path, "w") as fh:
        fh.write("{not json")
    assert cat._read_manifest() == {}


def test_iceberg_table_name_sanitizes_path_namespace(spark, tmp_path):
    """Namespace derived from a filesystem path must fold every char
    outside [A-Za-z0-9_] to '_' — dashes/dots are legal in paths but break
    an unquoted multipart Iceberg identifier on the first write."""
    from translink.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "run-2026.08.18 final"))
    cat._iceberg_catalog = "ice"
    name = cat._table_name("signed")
    assert name.startswith("ice.") and name.endswith(".signed")
    ns = name.split(".", 1)[1].rsplit(".", 1)[0]
    assert ns == ns.replace("-", "_") and " " not in ns
    import re as _re
    assert _re.fullmatch(r"[A-Za-z0-9_]+", ns)


def test_lineage_frame_exposes_per_partition_rows(spark, dedup_run):
    """The manifest as data: one row per (stage, partition), stage totals
    equal the sum of partition rows, fingerprints/snapshots present."""
    from translink.catalog import lineage_frame

    lf = lineage_frame(spark, Catalog(spark, dedup_run["workdir"]))
    assert lf.count() > 0
    # per-stage: partition rows sum to the recorded stage total
    agg = (
        lf.groupBy("stage", "stage_rows")
        .agg(F.sum("partition_rows").alias("part_sum"))
        .collect()
    )
    assert len(agg) > 1                      # several checkpointed stages
    for r in agg:
        assert r["part_sum"] == r["stage_rows"]
    assert lf.filter(
        F.col("fingerprint").isNull() | F.col("snapshot_id").isNull()
    ).count() == 0


def test_resumed_pipelines_start_no_spark_job(spark, tiny, dedup_run, link_run):
    """A fully resumed pass reads every checkpoint back with its recorded
    schema: no schema-inference job, so no Spark job at all inside the
    call (a plain ``spark.read.parquet`` per stage started 6 dedup and 4
    link jobs)."""
    res, jobs = jobs_started(spark, lambda: run_pipeline(
        spark, tiny["transcripts"], CFG, workdir=dedup_run["workdir"]))
    assert all(v == 0.0 for v in res["timings"].values()), res["timings"]
    assert jobs == []
    assert _sorted_rows(res["clusters"]) == dedup_run["clusters"]

    res, jobs = jobs_started(spark, lambda: run_link_pipeline(
        spark, link_run["a"], link_run["b"], CFG,
        workdir=link_run["workdir"]))
    assert all(v == 0.0 for v in res["timings"].values()), res["timings"]
    assert jobs == []
    assert _sorted_rows(res["matches"]) == link_run["matches"]


def test_read_stage_schema_equals_inferred(spark, dedup_run, link_run):
    """The recorded schema, nullability included, is the one Spark infers
    from the files: every stage plans exactly as an inferred read would."""
    for run in (dedup_run, link_run):
        cat = Catalog(spark, run["workdir"])
        stages = sorted(cat.lineage())
        assert stages
        for stage in stages:
            inferred = spark.read.parquet(cat.stage_path(stage)).schema
            assert cat.read_stage(stage).schema == inferred, stage


def test_entry_without_schema_is_recomputed(spark, tiny, dedup_run):
    """A manifest entry with the right fingerprint but no recorded schema
    (a catalog written before schemas were recorded) is recomputed once,
    not read through a schema-inferring path, and gives the same
    clusters."""
    wd = dedup_run["workdir"]
    _strip_schema(wd, "clusters")
    cat = Catalog(spark, wd)
    with pytest.raises(ValueError, match="no recorded schema"):
        cat.read_stage("clusters")
    res = run_pipeline(spark, tiny["transcripts"], CFG, workdir=wd)
    assert res["timings"]["clusters"] > 0.0
    assert res["timings"]["scored"] == 0.0
    assert _sorted_rows(res["clusters"]) == dedup_run["clusters"]
    assert "schema" in cat.lineage()["clusters"]


def test_reference_store_without_schema_is_refused(spark, tiny, tmp_path):
    """A reference store written before schemas were recorded holds the
    right fingerprint but cannot be read back without inference:
    ``incremental_link`` refuses it before the stream starts and says to
    rerun ``prepare_reference``, which makes it usable."""
    from translink.streaming.link import (
        A_PREP, incremental_link, prepare_reference,
    )

    store = str(tmp_path / "store")
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    a = tiny["transcripts"].filter(F.col("conv_id").isin(
        [r["conv_id"] for r in tiny["transcripts"].select("conv_id")
         .distinct().limit(3).collect()]))
    prepare_reference(spark, a, store, CFG)
    _strip_schema(store, A_PREP)
    with pytest.raises(ValueError) as err:
        incremental_link(spark, landing, store, str(tmp_path / "ckpt"), CFG)
    msg = str(err.value)
    assert "without a recorded schema" in msg and "prepare_reference" in msg
    prepare_reference(spark, a, store, CFG)
    assert Catalog(spark, store).has_stage(A_PREP, CFG.fingerprint())
