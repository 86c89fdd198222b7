"""Table layer — Iceberg-or-Parquet stage checkpointing with lineage.

Production path: an Iceberg catalog (``iceberg-spark-runtime`` on the
classpath) gives snapshots, manifests and partition metrics natively; stages
write with ``writeTo(table).createOrReplace()``.

Sandbox path (no Iceberg jar, SURVEY §7.0): plain Parquet directories plus a
``_manifest.json`` sidecar carrying the same facts — stage fingerprint,
schema, snapshot id, row count, per-partition lineage rows — so
checkpoint/resume semantics are identical and testable offline. Resume =
skip any stage whose manifest entry matches the current config fingerprint
(the reference's F6 idempotence guards: records already enriched are not
recomputed, ``src/pipeline/streaming_quickcheck.rs:112-114``). A stage is
read back with the schema its entry records, as Iceberg reads a table's
schema from its metadata, so a resume starts no Spark job: a plain
``spark.read.parquet`` runs a footer-reading job to infer the schema on
every call.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def hadoop_fs(spark: SparkSession, path: str):
    """``(jvm, FileSystem, Path)`` for ``path`` through the Hadoop
    FileSystem API, so local / HDFS / s3a paths all work."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def input_content_fingerprint(spark: SparkSession, path: str) -> str:
    """Content fingerprint of an input path: digest of the sorted file
    listing with sizes and modification times (Hadoop FS, so local / HDFS /
    s3a all work). Used as the pipeline's ``input_fingerprint`` so resume
    detects an input OVERWRITTEN at the same path — a path-string
    fingerprint would silently reuse every checkpointed stage and return
    clusters computed from the old data. For Iceberg tables, the snapshot id
    plays this role instead."""
    _, fs, p = hadoop_fs(spark, path)
    entries = []
    if fs.exists(p):
        it = fs.listFiles(p, True) if fs.getFileStatus(p).isDirectory() else None
        if it is None:
            st = fs.getFileStatus(p)
            entries.append(f"{st.getPath()}|{st.getLen()}|{st.getModificationTime()}")
        else:
            while it.hasNext():
                st = it.next()
                entries.append(
                    f"{st.getPath()}|{st.getLen()}|{st.getModificationTime()}"
                )
    entries.sort()
    return hashlib.md5("\n".join(entries).encode()).hexdigest()[:16]


class Catalog:
    """A pipeline workspace rooted at ``root`` (local dir, HDFS, or s3a)."""

    MANIFEST = "_manifest.json"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._iceberg_catalog = self._detect_iceberg()
        if not self._is_remote():
            os.makedirs(root, exist_ok=True)

    # -- paths / manifest -------------------------------------------------

    def _is_remote(self) -> bool:
        return "://" in self.root

    def _detect_iceberg(self) -> str | None:
        """Return the configured Iceberg catalog name, if any."""
        for k, v in self.spark.sparkContext.getConf().getAll():
            if (
                k.startswith("spark.sql.catalog.")
                and k.count(".") == 3
                and "iceberg" in str(v).lower()
            ):
                return k.rsplit(".", 1)[-1]
        return None

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def _hadoop_fs(self):
        return hadoop_fs(self.spark, self.manifest_path)

    def _read_manifest(self) -> dict:
        if self._is_remote():
            # manifest IO must go through the Hadoop FileSystem API on
            # HDFS/s3a roots — local open() would raise after the stage
            # parquet was already persisted, leaving data without lineage.
            # Only a MISSING or CORRUPT manifest degrades to {} (fresh run);
            # a transport/permission error must propagate — swallowing it
            # would make write_stage's read-modify-write persist a manifest
            # holding only the current stage, silently discarding every
            # prior stage's lineage.
            jvm, fs, path = self._hadoop_fs()
            if not fs.exists(path):
                return {}
            stream = fs.open(path)
            try:
                data = bytes(
                    jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                )
            finally:
                stream.close()
            try:
                return json.loads(data.decode())
            except (UnicodeDecodeError, json.JSONDecodeError):
                return {}
        try:
            with open(self.manifest_path) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def _write_manifest(self, manifest: dict) -> None:
        payload = json.dumps(manifest, indent=2, sort_keys=True)
        if self._is_remote():
            jvm, fs, path = self._hadoop_fs()
            tmp = jvm.org.apache.hadoop.fs.Path(self.manifest_path + ".tmp")
            out = fs.create(tmp, True)
            try:
                out.write(bytearray(payload.encode()))
            finally:
                out.close()
            # rename is atomic on HDFS; best-effort replace elsewhere
            if fs.exists(path):
                fs.delete(path, False)
            fs.rename(tmp, path)
            return
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    # -- stage IO ---------------------------------------------------------

    def has_stage(self, stage: str, fingerprint: str) -> bool:
        """True when the manifest holds ``stage`` under ``fingerprint``
        with its schema recorded. An entry written before schemas were
        recorded is not resumable: the stage is recomputed once."""
        entry = self._read_manifest().get(stage) or {}
        return entry.get("fingerprint") == fingerprint and "schema" in entry

    def read_stage(self, stage: str) -> DataFrame:
        """The stage's checkpoint, read with the schema its manifest entry
        records (Iceberg: the table's own metadata), so no Spark job runs.
        Raises ``ValueError`` for a stage without a recorded schema; callers
        check ``has_stage`` first."""
        if self._iceberg_catalog:
            return self.spark.read.table(self._table_name(stage))
        entry = self._read_manifest().get(stage) or {}
        if "schema" not in entry:
            raise ValueError(
                f"stage {stage!r} has no recorded schema in "
                f"{self.manifest_path}: recompute it"
            )
        return self._read_parquet(self.stage_path(stage), entry["schema"])

    def _read_parquet(self, path: str, schema_json: str) -> DataFrame:
        schema = StructType.fromJson(json.loads(schema_json))
        return self.spark.read.schema(schema).parquet(path)

    def _table_name(self, stage: str) -> str:
        # the namespace is derived from a filesystem path: every character
        # outside [A-Za-z0-9_] (dashes, dots, spaces — all legal in paths)
        # must be folded to '_', or the unquoted multipart identifier fails
        # to parse on the first write ('cat.tmp_run-2026.stage')
        ns = re.sub(r"[^A-Za-z0-9_]", "_", self.root.strip("/"))
        return f"{self._iceberg_catalog}.{ns}.{stage}"

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        extra_meta: dict | None = None,
    ) -> DataFrame:
        """Persist a stage output and record lineage + metrics.

        Lineage recorded per stage: the written schema
        (``df.schema.json()``), snapshot id, wall time, row count and
        per-partition row counts (the analog of the reference's per-stage
        atomic counters + snapshot pattern, ``src/walker_hp.rs:57-100``).
        Returns the re-read DataFrame so downstream stages read the
        checkpoint, not the live lineage; reading it back with the recorded
        schema runs no job. File sources make a given schema nullable, as
        they make an inferred one, so the read-back schema equals
        ``spark.read.parquet``'s.
        """
        t0 = time.time()
        snapshot_id = uuid.uuid4().hex[:16]
        schema_json = df.schema.json()
        if self._iceberg_catalog:
            df.writeTo(self._table_name(stage)).using("iceberg").createOrReplace()
            part_rows = []
            n_rows = self.spark.read.table(self._table_name(stage)).count()
        else:
            path = self.stage_path(stage)
            df.write.mode("overwrite").parquet(path)
            # per-partition lineage from parquet footers (driver-side,
            # milliseconds) — re-reading the table for a groupBy would
            # decode every array column a second time
            part_rows = self._footer_partition_rows(path, schema_json)
            n_rows = sum(p["rows"] for p in part_rows)
        manifest = self._read_manifest()
        manifest[stage] = {
            "fingerprint": fingerprint,
            "schema": schema_json,
            "snapshot_id": snapshot_id,
            "rows": n_rows,
            "partitions": part_rows,
            "wall_s": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **(extra_meta or {}),
        }
        self._write_manifest(manifest)
        return self.read_stage(stage)

    def _footer_partition_rows(self, path: str, schema_json: str) -> list[dict]:
        """One lineage row per output file (file == write partition):
        row counts read from parquet footers, no data decode."""
        try:
            import pyarrow.parquet as pq

            files = sorted(
                f for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            return [
                {
                    "partition_id": i,
                    "file": f,
                    "rows": pq.ParquetFile(os.path.join(path, f)).metadata.num_rows,
                }
                for i, f in enumerate(files)
            ]
        except Exception:
            # remote paths / missing pyarrow: fall back to a count job,
            # read with the written schema so no inference job runs first
            return [{"partition_id": 0, "file": None,
                     "rows": self._read_parquet(path, schema_json).count()}]

    def invalidate(self, stage: str) -> None:
        manifest = self._read_manifest()
        manifest.pop(stage, None)
        self._write_manifest(manifest)

    def lineage(self) -> dict:
        """The full manifest — stage -> {fingerprint, snapshot, rows,
        per-partition rows, timings}."""
        return self._read_manifest()


def lineage_frame(spark: SparkSession, catalog: "Catalog") -> DataFrame:
    """The catalog's lineage manifest as a queryable DataFrame — one row
    per (stage, partition): stage name, config fingerprint, snapshot id,
    stage row count, write wall time, write timestamp, partition id/file/
    row count. The SQL face of the per-partition lineage + metrics the
    north rule requires each checkpoint to carry: operators can join it,
    dashboards can read it, and a resume decision is auditable as data
    (``SELECT stage, fingerprint, rows FROM lineage``). Driver-side
    construction from the manifest sidecar (or Iceberg snapshot metadata)
    — bounded by stages × files, never by corpus rows.
    """
    rows = []
    for stage, meta in sorted(catalog.lineage().items()):
        parts = meta.get("partitions") or [
            {"partition_id": None, "file": None, "rows": None}
        ]
        for p in parts:
            rows.append((
                stage,
                meta.get("fingerprint"),
                meta.get("snapshot_id"),
                int(meta["rows"]) if meta.get("rows") is not None else None,
                float(meta["wall_s"]) if meta.get("wall_s") is not None else None,
                meta.get("written_at"),
                p.get("partition_id"),
                p.get("file"),
                int(p["rows"]) if p.get("rows") is not None else None,
            ))
    return spark.createDataFrame(
        rows,
        "stage string, fingerprint string, snapshot_id string, "
        "stage_rows bigint, wall_s double, written_at string, "
        "partition_id int, file string, partition_rows bigint",
    )
