"""Snapshot checkpointing with per-partition lineage + metrics.

North-rule requirement: jobs must be *resumable from checkpoint with
per-partition lineage and metrics*. The container ships no Iceberg
runtime, so this implements the moral equivalent over partitioned
Parquet: every stage commit writes

- the stage output as a (optionally partitioned) parquet dataset,
- an atomic JSON manifest (tmp + rename) recording: snapshot id, stage
  name, input snapshot ids (lineage chain), wall time, total rows, and
  per-partition row counts (per-partition lineage/metrics).

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

from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources.commit import atomic_write


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

        The manifest's ``rows`` metric is the Observation-counted
        INPUT row count of the write (zero extra passes), not a
        post-write audit of the persisted parquet — an intentional
        trade at 10^12-row scale where a recount is a second full
        scan; parquet's own footer row counts remain available for an
        offline audit."""
        m = self.manifest(stage)
        path = self.data_path(stage)
        if m and m.get("status") == "complete":
            return spark.read.parquet(path)

        t0 = time.monotonic()
        # Observation rides the WRITE action itself (df.observe), so the
        # row metric costs zero extra passes — on a 10^12-row stage a
        # post-write recount would be a second full scan of the output.
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation(f"stage_{stage}")
        df = fn().observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        wall = time.monotonic() - t0

        out = spark.read.parquet(path)
        total = obs.get["rows"]
        per_part = {}
        if partition_by:
            # partition-column-only scan: reads no data pages, the
            # partition values come from the directory layout
            for r in out.groupBy(partition_by).count().collect():
                per_part[str(r[0])] = r[1]

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
        path = self._vpath(table, version)
        out.write.mode("overwrite").parquet(path)
        written = spark.read.parquet(path)
        manifest = {
            "snapshot_id": uuid.uuid4().hex,
            "stage": table,
            "status": "complete",
            "version": version,
            "mode": mode,
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "inputs": ([{"stage": table,
                         "snapshot_id": m["snapshot_id"]}] if m else []),
            "metrics": {"rows": written.count(),
                        "upsert_key": key},
            "schema": written.schema.jsonValue(),
        }
        atomic_write(self._manifest_path(table),
                     [json.dumps(manifest, indent=1).encode()])
        return manifest
