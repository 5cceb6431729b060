"""Snapshot checkpointing with per-partition lineage + metrics.

North-rule requirement: jobs must be *resumable from checkpoint with
per-partition lineage and metrics*. The container ships no Iceberg
runtime, so this implements the moral equivalent over partitioned
Parquet: every stage commit writes

- the stage output as a (optionally partitioned) parquet dataset,
- an atomic JSON manifest (tmp + rename) recording: snapshot id, stage
  name, input snapshot ids (lineage chain), wall time, total rows,
  per-partition row counts (per-partition lineage/metrics) and the
  output schema.

A commit runs no Spark job but the write (``_commit``). The row counts
are the rows actually persisted: the driver sums the ``num_rows`` of
the written parquet footers, keyed by each file's ``col=value``
directory, as Iceberg records each data file's ``record_count`` in its
manifest when the file is written. That costs O(files) small driver reads and
no pass over the rows. The read-back and the resume read take the
schema given to them (the written frame's, or the manifest's), so
neither runs a schema-inference job, and a partition column keeps its
type: a string ``"007"`` stays ``"007"``.

``run_stage`` is idempotent: a stage whose manifest says ``complete`` is
not recomputed — the job resumes from the last good snapshot, exactly
the Iceberg-snapshot resume semantics described in SURVEY.md §2.15.
(Swapping this for a real Iceberg catalog is a one-line change of the
write path — ``df.writeTo(table).append()`` — the manifest becomes the
snapshot summary + table properties.)

The reference's closest analogs: chunk-restartable utilities and the
geocoding cache layer (ogr/ogr_geocoding.cpp:118); GDAL itself has no
distributed checkpoint model — this is Spark-side design.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gdal_spark.sources.commit import atomic_write


def _commit(df: DataFrame, path: str, partition_by: str | None = None):
    """Write ``df`` to ``path`` as parquet, replacing it, and run no
    Spark job beyond the write's → (the written dataset, its rows, its
    rows per partition).

    The counts come from the footers of the written ``part-*`` files,
    per partition keyed by the unescaped value of their ``col=value``
    directory. The dataset is read back with ``df``'s schema, the
    partition column moved last as a partitioned read orders it."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    per_part = {}
    for d, dirs, files in os.walk(path):
        dirs.sort()
        parts = [f for f in files if f.startswith("part-")]
        if parts:
            key = unquote(os.path.basename(d).partition("=")[2])
            if key == "__HIVE_DEFAULT_PARTITION__":
                key = "None"  # str() of the null it reads back as
            per_part[key] = sum(pq.read_metadata(os.path.join(d, f)).num_rows
                                for f in parts)
    schema = StructType(sorted(df.schema.fields,
                               key=lambda f: f.name == partition_by))
    out = df.sparkSession.read.schema(schema).parquet(path)
    return out, sum(per_part.values()), per_part if partition_by else {}


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

    def data_path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def run_stage(self, spark: SparkSession, stage: str, fn,
                  partition_by: str | None = None,
                  inputs: list[str] | None = None) -> DataFrame:
        """Compute-or-resume one stage. ``fn() -> DataFrame``.

        A resume reads the committed output with the manifest's schema
        and runs no Spark job. A commit runs only the write's: the
        manifest's ``rows`` and ``rows_per_partition`` are the
        persisted counts from the written parquet footers, read on the
        driver (O(files) small reads, no pass over the rows)."""
        m = self.manifest(stage)
        path = self.data_path(stage)
        if m and m.get("status") == "complete":
            return spark.read.schema(
                StructType.fromJson(m["schema"])).parquet(path)

        t0 = time.monotonic()
        out, total, per_part = _commit(fn(), path, partition_by)
        wall = time.monotonic() - t0

        manifest = {
            "snapshot_id": uuid.uuid4().hex,
            "stage": stage,
            "status": "complete",
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "inputs": [
                {"stage": s, "snapshot_id": (self.manifest(s) or {}).get("snapshot_id")}
                for s in (inputs or [])
            ],
            "metrics": {
                "wall_sec": round(wall, 3),
                "rows": total,
                "partition_by": partition_by,
                "rows_per_partition": per_part,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            },
            "schema": out.schema.jsonValue(),
        }
        atomic_write(self._manifest_path(stage),
                     [json.dumps(manifest, indent=1).encode()])
        return out

    def lineage(self, stage: str) -> list[dict]:
        """Walk the input chain of a stage (most recent first)."""
        chain = []
        m = self.manifest(stage)
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

    Reads always resolve the latest complete version; time travel via
    ``read(version=N)``."""

    def _vpath(self, table: str, version: int) -> str:
        return os.path.join(self.base, f"{table}__v{version}")

    def read(self, spark: SparkSession, table: str,
             version: int | None = None) -> DataFrame:
        m = self.manifest(table)
        if m is None:
            raise FileNotFoundError(f"no snapshot for table {table}")
        v = m["version"] if version is None else version
        return spark.read.parquet(self._vpath(table, v))

    def write(self, spark: SparkSession, table: str, df: DataFrame,
              mode: str = "overwrite", key: str | None = None) -> dict:
        m = self.manifest(table)
        if m is not None and mode != "overwrite":
            cur = self.read(spark, table)
            if mode == "append":
                out = cur.unionByName(df)
            elif mode == "upsert":
                if not key:
                    raise ValueError("upsert requires a key column")
                out = (cur.join(df.select(key).distinct(), key, "left_anti")
                       .unionByName(df))
            else:
                raise ValueError(f"unknown mode {mode!r}")
            version = m["version"] + 1
        else:
            out = df
            version = (m["version"] + 1) if m else 1
        written, rows, _ = _commit(out, self._vpath(table, version))
        manifest = {
            "snapshot_id": uuid.uuid4().hex,
            "stage": table,
            "status": "complete",
            "version": version,
            "mode": mode,
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "inputs": ([{"stage": table,
                         "snapshot_id": m["snapshot_id"]}] if m else []),
            "metrics": {"rows": rows,
                        "upsert_key": key},
            "schema": written.schema.jsonValue(),
        }
        atomic_write(self._manifest_path(table),
                     [json.dumps(manifest, indent=1).encode()])
        return manifest
