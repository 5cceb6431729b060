"""Snapshot checkpointing with per-partition lineage + metrics.

North-rule requirement: jobs must be *resumable from checkpoint with
per-partition lineage and metrics*. The container ships no Iceberg
runtime, so this implements the moral equivalent over partitioned
Parquet, with one commit protocol for ``run_stage`` stages and
``VersionedTable`` versions alike, after Iceberg's manifests:

1. the frame is written, as a (optionally partitioned) parquet dataset,
   to a fresh directory ``<base>/<name>/<snapshot_id>/``;
2. the manifest ``<base>/_manifests/<name>.json`` that names that
   snapshot is written with ``atomic_write`` (tmp + rename): this is
   the pointer swap, so a reader sees the old snapshot or the new one,
   never a partial directory;
3. every directory under ``<base>/<name>/`` that the new manifest does
   not name is deleted: superseded snapshots, and orphans a crash left
   before its swap.

A manifest records the snapshot id, the name, the input snapshot ids
(the lineage chain), the files the committed frame read (``sources``:
each of its ``inputFiles()`` with its size and ``st_mtime_ns``), the
commit's wall time, total rows, per-partition row counts
(per-partition lineage/metrics), ``files_per_partition`` (the ``part-*``
files the write left under each partition key, ``{"": n}`` for a flat
stage: how many tasks wrote it, which AQE sizes by the shuffle's
bytes), and ``versions``: each kept snapshot's ``version``,
``snapshot_id`` and ``schema``. A stage keeps only its
current snapshot; a table keeps every version (time travel).

A commit runs no Spark job but the write (``_commit``). The row counts
are the rows actually persisted: the driver sums the ``num_rows`` of
the written parquet footers, keyed by each file's ``col=value``
directory, as Iceberg records each data file's ``record_count`` in its
manifest when the file is written. That costs O(files) small driver reads and
no pass over the rows. Every read takes the schema the manifest records
(or the written frame's), so no read runs a schema-inference job, and a
partition column keeps its type: a string ``"007"`` stays ``"007"``.

Lineage rule: ``run_stage`` resumes a stage whose manifest says
``complete`` only while every input it records still has the snapshot
id it recorded, and every source file still has its recorded size and
mtime — the job resumes from the last good snapshot, the
Iceberg-snapshot resume semantics of SURVEY.md §2.15. The file check is
what a root stage (one with no inputs) has: rewriting a table it read
recomputes it. Otherwise the stage recomputes; its new id then fails the
check of every stage that read it, so the recompute cascades downstream.

The reference's closest analogs: chunk-restartable utilities and the
geocoding cache layer (ogr/ogr_geocoding.cpp:118); GDAL itself has no
distributed checkpoint model — this is Spark-side design.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gdal_spark.sources.commit import atomic_write


def _commit(df: DataFrame, path: str, partition_by: str | None = None):
    """Write ``df`` to the new directory ``path`` as parquet, and run no
    Spark job beyond the write's → (the written dataset, its rows, its
    rows per partition, its ``part-*`` files per partition).

    The counts come from the footers of the written ``part-*`` files,
    per partition keyed by the unescaped value of their ``col=value``
    directory (a flat write has the one key ``""``). The dataset is
    read back with ``df``'s schema, the partition column moved last as
    a partitioned read orders it."""
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    per_part, files = {}, {}
    for d, dirs, names in os.walk(path):
        dirs.sort()
        parts = [f for f in names if f.startswith("part-")]
        if parts:
            key = unquote(os.path.basename(d).partition("=")[2])
            if key == "__HIVE_DEFAULT_PARTITION__":
                key = "None"  # str() of the null it reads back as
            per_part[key] = sum(pq.read_metadata(os.path.join(d, f)).num_rows
                                for f in parts)
            files[key] = len(parts)
    schema = StructType(sorted(df.schema.fields,
                               key=lambda f: f.name == partition_by))
    out = df.sparkSession.read.schema(schema).parquet(path)
    return (out, sum(per_part.values()), per_part if partition_by else {},
            files)


def _stat(uri: str) -> dict:
    """A source file's record: its ``inputFiles()`` URI, size and mtime."""
    st = os.stat(unquote(urlparse(uri).path))
    return {"path": uri, "size": st.st_size, "mtime_ns": st.st_mtime_ns}


def _unchanged(sources: list[dict] | None) -> bool:
    """Every recorded source file still has its size and mtime. A
    manifest without ``sources`` predates the record, so it fails."""
    try:
        return sources is not None and all(_stat(f["path"]) == f
                                           for f in sources)
    except FileNotFoundError:
        return False


class SnapshotStore:
    def __init__(self, base_dir: str):
        self.base = base_dir
        os.makedirs(os.path.join(base_dir, "_manifests"), exist_ok=True)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.base, "_manifests", f"{stage}.json")

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _snapshot_id(self, stage: str) -> str | None:
        return (self.manifest(stage) or {}).get("snapshot_id")

    def data_path(self, stage: str) -> str:
        """The directory of the snapshot the manifest names."""
        return os.path.join(self.base, stage, self._snapshot_id(stage))

    def _read(self, spark: SparkSession, name: str, snap: dict) -> DataFrame:
        """One kept snapshot (a ``versions`` entry), read with its schema."""
        return spark.read.schema(StructType.fromJson(snap["schema"])).parquet(
            os.path.join(self.base, name, snap["snapshot_id"]))

    def _publish(self, spark: SparkSession, name: str, df: DataFrame,
                 partition_by: str | None = None, inputs=(), kept=(),
                 **extra) -> tuple[DataFrame, dict]:
        """Commit ``df`` as a new snapshot of ``name`` that the manifest
        names after the ``kept`` ones → (the written frame, the manifest).
        Each input's snapshot id is read after the write, before the swap."""
        sid = uuid.uuid4().hex
        t0 = time.monotonic()
        sources = [_stat(uri) for uri in df.inputFiles()]  # no Spark job
        out, total, per_part, files = _commit(
            df, os.path.join(self.base, name, sid), partition_by)
        versions = [*kept, {"version": len(kept) + 1, "snapshot_id": sid,
                            "schema": out.schema.jsonValue()}]
        manifest = {
            "snapshot_id": sid,
            "stage": name,
            "status": "complete",
            "version": len(versions),
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "inputs": [{"stage": s, "snapshot_id": self._snapshot_id(s)}
                       for s in inputs],
            "sources": sources,
            "metrics": {
                "wall_sec": round(time.monotonic() - t0, 3),
                "rows": total,
                "partition_by": partition_by,
                "rows_per_partition": per_part,
                "files_per_partition": files,
            },
            "versions": versions,
            **extra,
        }
        atomic_write(self._manifest_path(name),
                     [json.dumps(manifest, indent=1).encode()])
        named = {v["snapshot_id"] for v in versions}
        for d in set(os.listdir(os.path.join(self.base, name))) - named:
            shutil.rmtree(os.path.join(self.base, name, d))
        return out, manifest

    def run_stage(self, spark: SparkSession, stage: str, fn,
                  partition_by: str | None = None,
                  inputs: list[str] | None = None) -> DataFrame:
        """Compute-or-resume one stage. ``fn() -> DataFrame``.

        A stage resumes when its manifest says ``complete``, each input
        it records still has the recorded snapshot id and each source
        file its recorded size and mtime; it then reads the committed
        snapshot with the manifest's schema and runs no Spark job.
        Otherwise ``fn()`` is committed, which runs only the write's
        job: the manifest's ``rows`` and ``rows_per_partition`` are the
        persisted counts from the written parquet footers, read on the
        driver (O(files) small reads, no pass over the rows)."""
        m = self.manifest(stage)
        if m and m.get("status") == "complete" and all(
                self._snapshot_id(i["stage"]) == i["snapshot_id"]
                for i in m["inputs"]) and _unchanged(m.get("sources")):
            return self._read(spark, stage, m["versions"][-1])
        return self._publish(spark, stage, fn(), partition_by, inputs or ())[0]

    def lineage(self, stage: str) -> list[dict]:
        """Walk the input chain of a stage (most recent first)."""
        chain = []
        seen = set()
        frontier = [stage]
        while frontier:
            s = frontier.pop()
            if s in seen:
                continue
            seen.add(s)
            m = self.manifest(s)
            if m:
                chain.append({"stage": s, "snapshot_id": m["snapshot_id"],
                              "rows": m["metrics"]["rows"]})
                frontier.extend(i["stage"] for i in m["inputs"])
        return chain


class VersionedTable(SnapshotStore):
    """ogr2ogr access-mode analog over the snapshot store
    (apps/ogr2ogr_lib.cpp ACCESS_APPEND / -upsert via UpsertFeature,
    :98-330): a named table whose every write produces a NEW immutable
    snapshot version with the prior version recorded as lineage —
    the Iceberg append/merge snapshot semantics.

    - ``write(df, mode="overwrite")``  — new table state = df
    - ``write(df, mode="append")``     — prior rows ∪ df
    - ``write(df, mode="upsert", key=...)`` — prior rows whose key
      appears in df are REPLACED by df's rows (ogr2ogr -upsert),
      the rest kept; df rows with fresh keys are inserts.

    A write commits as a stage does: version N goes to
    ``<base>/<table>/<snapshot_id>/``, then the manifest swap names it
    after versions 1..N-1 in ``versions``, then any directory it does
    not name (a crashed write's) is deleted. Reads resolve the latest
    version, or ``read(version=N)`` for time travel, each with the
    schema recorded for that version, so no read runs a Spark job."""

    def read(self, spark: SparkSession, table: str,
             version: int | None = None) -> DataFrame:
        m = self.manifest(table)
        if m is None:
            raise FileNotFoundError(f"no snapshot for table {table}")
        snaps = {v["version"]: v for v in m["versions"]}
        return self._read(spark, table,
                          snaps[m["version"] if version is None else version])

    def write(self, spark: SparkSession, table: str, df: DataFrame,
              mode: str = "overwrite", key: str | None = None) -> dict:
        if mode not in ("overwrite", "append", "upsert"):
            raise ValueError(f"unknown mode {mode!r}")
        if mode == "upsert" and not key:
            raise ValueError("upsert requires a key column")
        m = self.manifest(table)
        if m and mode != "overwrite":
            cur = self.read(spark, table)
            if mode == "upsert":
                cur = cur.join(df.select(key).distinct(), key, "left_anti")
            df = cur.unionByName(df)
        return self._publish(spark, table, df, inputs=[table] if m else (),
                             kept=m["versions"] if m else (),
                             mode=mode, upsert_key=key)[1]
