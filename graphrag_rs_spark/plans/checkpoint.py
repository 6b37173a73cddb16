"""Per-stage checkpointing with per-partition lineage and exact resume.

Mirrors the reference's incremental/rollback semantics (graphrag-rs
graph/incremental.rs:196-341: GraphDelta, transactions, rollback; versioned
auto-save config/mod.rs:107-123) re-expressed as table snapshots:

* every stage writes its output table and one commit record, a
  ``manifest.json``: the stage fingerprint (content hash of the stage
  name, its config, its lineage format and its upstream fingerprints —
  the analogue of incremental/mod.rs:47-51's content-hash change
  detection), one lineage row per data file ``(stage, partition_id,
  row_count, checksum, hash_sum)`` with their totals, and the data files'
  byte sizes;
* resume = if a manifest with a matching fingerprint lists the data files
  on disk at their sizes, the stage is served from its checkpoint and NOT
  recomputed (a deleted or truncated data file makes it recompute);
* a fingerprint mismatch (changed config or upstream) invalidates the stage
  and everything downstream — exactly the delta/rollback contract. A
  first stage names its input by :func:`content_digest` in its config
  (``build_graph``'s ``documents``), so other input invalidates it too.

Storage here is parquet + JSON manifests (this sandbox has no Iceberg
runtime jar); the interface is 1:1 with an Iceberg deployment where
``write`` → ``df.writeTo(...).using("iceberg")``, the ``files`` rows →
manifest entries (data file, record count), and rollback →
``CALL rollback_to_snapshot``.
"""

from __future__ import annotations

import functools
import hashlib
import json
import operator
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "stage string, partition_id string, row_count long, checksum long, "
    "hash_sum long"
)
# Part of every stage fingerprint: a checkpoint in an older layout (v2 kept
# its lineage in a ``lineage/`` table, v3 hashed no NULL flags) is
# recomputed once, not failed.
LINEAGE_FORMAT = "lineage-v4:manifest"


def _row_hashes(df: DataFrame, *keep) -> DataFrame:
    # xxhash64 over every column's (is-NULL flag, value cast to string):
    # xxhash64 skips NULL arguments, so without the flag ("c", "x", NULL)
    # and ("c", NULL, "x") would hash equal
    return df.select(*keep, F.xxhash64(*[
        x for c in df.columns for x in (F.isnull(c), F.col(c).cast("string"))
    ]).alias("row_hash"))


def _hash_totals() -> tuple:
    # row count, checksum and hash_sum, see CheckpointManager._lineage_for
    return (
        F.count(F.lit(1)).alias("row_count"),
        F.expr("bit_xor(row_hash)").alias("checksum"),
        F.sum(F.pmod("row_hash", F.lit(2**31))).alias("hash_sum"),
    )


def content_digest(df: DataFrame) -> str:
    """Order-independent digest of ``df``'s schema and rows, in one Spark
    job: the row count, xor and bounded sum of the row hashes, as the
    lineage rows record per data file. Neither the files a frame reads
    (a filtered read lists the same ones) nor its plan (two equal frames
    may hash differently) identify its content."""
    # observed on a noop write: one scan, no exchange, no second job
    totals = Observation("content_digest")
    (_row_hashes(df).observe(totals, *_hash_totals())
     .write.format("noop").mode("overwrite").save())
    row = totals.get
    return (f"{df.schema.simpleString()}:{row['row_count']}:"
            f"{row['checksum']}:{row['hash_sum']}")


def _fingerprint(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


class CheckpointManager:
    """Directory layout::

        <base>/<stage>/data/          parquet output
        <base>/<stage>/manifest.json  fingerprint, per-file lineage, totals
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self._fingerprints: dict[str, str] = {}
        self.stages_computed: list[str] = []
        self.stages_resumed: list[str] = []

    # -- paths -----------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "manifest.json")

    # -- public API ------------------------------------------------------
    def stage(
        self,
        name: str,
        compute,
        config_repr: str = "",
        upstreams: tuple[str, ...] = (),
    ) -> DataFrame:
        """Run (or resume) one stage.

        ``compute`` is a zero-arg callable returning the stage DataFrame.
        """
        upstream_fps = tuple(self._fingerprints.get(u, "?") for u in upstreams)
        fp = _fingerprint(name, config_repr, LINEAGE_FORMAT, *upstream_fps)
        self._fingerprints[name] = fp

        data_dir = os.path.join(self._stage_dir(name), "data")
        manifest_path = self._manifest_path(name)

        manifest = self._read_manifest(manifest_path)
        if (
            manifest and manifest.get("fingerprint") == fp
            and manifest.get("committed")
            and manifest.get("data_files") == self._data_files(data_dir)
        ):
            self.stages_resumed.append(name)
            return self.spark.read.parquet(data_dir)

        # (re)compute: invalidate any stale artifact first
        if os.path.exists(self._stage_dir(name)):
            shutil.rmtree(self._stage_dir(name))

        t0 = time.monotonic()
        df = compute()
        df.write.mode("overwrite").parquet(data_dir)
        wall_ms = int((time.monotonic() - t0) * 1000)

        out = self.spark.read.parquet(data_dir)
        files = [r.asDict() for r in self._lineage_for(name, out).collect()]
        self._write_manifest(
            manifest_path,
            {
                "stage": name,
                "fingerprint": fp,
                "upstreams": list(upstreams),
                "row_count": sum(f["row_count"] for f in files),
                # python's xor of signed 64-bit ints equals Spark's bit_xor
                "checksum": functools.reduce(
                    operator.xor, (f["checksum"] for f in files), 0),
                "hash_sum": sum(f["hash_sum"] for f in files),
                "wall_ms": wall_ms,
                "committed": True,
                "files": files,
                "data_files": self._data_files(data_dir),
            },
        )
        self.stages_computed.append(name)
        return out

    def rollback(self, stage: str) -> None:
        """Drop a stage's snapshot (and force recompute on next run) —
        the analogue of Iceberg ``rollback_to_snapshot`` /
        GraphDelta rollback (graph/incremental.rs:253-301)."""
        d = self._stage_dir(stage)
        if os.path.exists(d):
            shutil.rmtree(d)

    def lineage(self, stage: str) -> DataFrame:
        """The per-file lineage rows recorded in the stage's manifest."""
        return self.spark.createDataFrame(self.manifest(stage)["files"], LINEAGE_SCHEMA)

    def validate(self, stage: str) -> DataFrame:
        """Re-derive per-file (row_count, checksum, hash_sum) from the stage's
        CURRENT data files and compare them, as sets, with the manifest's
        lineage rows — returns the mismatched/missing file rows (empty =
        intact). The content-level integrity check behind exact resume: a
        damaged snapshot is detected before anything downstream trusts it.
        """
        data_dir = os.path.join(self._stage_dir(stage), "data")
        recorded = {tuple(f.values()) for f in self.manifest(stage)["files"]}
        try:
            current = set(map(tuple, self._lineage_for(
                stage, self.spark.read.parquet(data_dir)).collect()))
        except Exception:
            # snapshot unreadable (all data files gone, or one cut short):
            # every recorded file is missing
            current = set()
        report = [(*r, "missing_or_changed") for r in sorted(recorded - current)]
        report += [(*r, "unexpected") for r in sorted(current - recorded)]
        return self.spark.createDataFrame(report, LINEAGE_SCHEMA + ", problem string")

    def manifest(self, stage: str) -> dict | None:
        return self._read_manifest(self._manifest_path(stage))

    # -- internals -------------------------------------------------------
    def _lineage_for(self, stage: str, df: DataFrame) -> DataFrame:
        """One lineage row per DATA FILE of the written snapshot.

        Keyed on ``input_file_name()`` (basename), not
        ``spark_partition_id()``: scan-partition packing depends on session
        config (``spark.sql.files.maxPartitionBytes``, parallelism), so a
        validating session configured differently from the writer would see
        different partition ids for an intact snapshot. The data file is
        the session-independent unit — it IS the write partition.

        ``checksum`` is the xor of the row hashes, under which two equal
        rows cancel; ``hash_sum`` adds their bounded sum (each hash taken
        mod 2^31, so the long sum cannot overflow under ANSI mode), which
        changes when a duplicated pair of rows is replaced by another.
        """
        file_id = F.element_at(F.split(F.input_file_name(), "/"), -1)
        return (
            _row_hashes(df, file_id.alias("partition_id"))
            .groupBy("partition_id")
            .agg(*_hash_totals())
            .select(
                F.lit(stage).alias("stage"),
                "partition_id", "row_count", "checksum", "hash_sum",
            )
        )

    @staticmethod
    def _data_files(data_dir: str) -> dict[str, int] | None:
        """Name → byte size of every data file (not Spark's ``_SUCCESS`` or
        ``.crc`` side files), listed on the driver; ``None`` without a dir."""
        if not os.path.isdir(data_dir):
            return None
        return {
            n: os.path.getsize(os.path.join(data_dir, n))
            for n in sorted(os.listdir(data_dir))
            if not n.startswith(("_", "."))
        }

    @staticmethod
    def _read_manifest(path: str) -> dict | None:
        if not os.path.exists(path):
            return None
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    @staticmethod
    def _write_manifest(path: str, manifest: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, path)  # atomic commit
