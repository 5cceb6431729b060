"""Snapshot checkpoint/resume with per-partition lineage + metrics."""

import json
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from gdal_spark.pipeline.checkpoint import SnapshotStore


def test_resume_skips_completed_stage(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(100).withColumn("p", F.col("id") % 4)

    df1 = store.run_stage(spark, "s1", make, partition_by="p")
    assert df1.count() == 100 and calls["n"] == 1
    df2 = store.run_stage(spark, "s1", make, partition_by="p")
    assert df2.count() == 100 and calls["n"] == 1  # resumed, not recomputed


def test_manifest_records_partition_lineage_and_metrics(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    store.run_stage(spark, "a", lambda: spark.range(40).withColumn("p", F.col("id") % 2),
                    partition_by="p")
    store.run_stage(
        spark, "b",
        lambda: store.run_stage(spark, "a", lambda: None).groupBy("p").count(),
        inputs=["a"])
    m = store.manifest("a")
    assert m["status"] == "complete"
    assert m["metrics"]["rows"] == 40
    assert m["metrics"]["rows_per_partition"] == {"0": 20, "1": 20}
    chain = store.lineage("b")
    stages = {c["stage"] for c in chain}
    assert stages == {"a", "b"}
    assert store.manifest("b")["inputs"][0]["snapshot_id"] == m["snapshot_id"]


def test_incomplete_stage_recomputed(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    store.run_stage(spark, "s", lambda: spark.range(5))
    # simulate a torn run: mark manifest incomplete
    p = store._manifest_path("s")
    m = json.load(open(p))
    m["status"] = "running"
    json.dump(m, open(p, "w"))
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(7)

    df = store.run_stage(spark, "s", make)
    assert calls["n"] == 1 and df.count() == 7


def test_versioned_append_upsert(spark, tmp_path):
    from gdal_spark.pipeline.checkpoint import VersionedTable
    vt = VersionedTable(str(tmp_path / "vt"))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    m1 = vt.write(spark, "t", base)
    assert m1["version"] == 1 and m1["metrics"]["rows"] == 3
    # -append: rows accumulate, duplicates allowed (OGR append)
    m2 = vt.write(spark, "t",
                  spark.createDataFrame([(3, "c2"), (4, "d")],
                                        "k long, v string"),
                  mode="append")
    assert m2["version"] == 2 and m2["metrics"]["rows"] == 5
    # -upsert: matching keys replaced, fresh keys inserted
    m3 = vt.write(spark, "t",
                  spark.createDataFrame([(3, "C"), (5, "e")],
                                        "k long, v string"),
                  mode="upsert", key="k")
    got = {(r["k"], r["v"]) for r in vt.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "b"), (3, "C"), (4, "d"), (5, "e")}
    assert m3["inputs"][0]["snapshot_id"] == m2["snapshot_id"]  # lineage
    # time travel to version 1
    assert vt.read(spark, "t", version=1).count() == 3


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"ckpt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_is_one_job_and_resume_none(spark, tmp_path):
    """A commit runs only its write; a resume runs nothing."""
    from gdal_spark.pipeline.checkpoint import VersionedTable
    store = SnapshotStore(str(tmp_path / "s"))
    make = lambda: spark.range(100).withColumn("p", F.col("id") % 4)
    _, n = _jobs(spark, lambda: store.run_stage(spark, "part", make,
                                                partition_by="p"))
    assert n == 1
    out, n = _jobs(spark, lambda: store.run_stage(spark, "part", make,
                                                  partition_by="p"))
    assert n == 0 and out.count() == 100
    _, n = _jobs(spark, lambda: store.run_stage(spark, "flat", make))
    assert n == 1
    vt = VersionedTable(str(tmp_path / "vt"))
    _, n = _jobs(spark, lambda: vt.write(spark, "t", make()))
    assert n == 1


@pytest.mark.parametrize("col", ["i", "s"])
def test_manifest_counts_match_input(spark, tmp_path, col):
    """``rows`` and ``rows_per_partition`` equal the input's own counts,
    with partition values that need escaping in a directory name."""
    words = ["a b", "x/y", "50%", None]
    df = spark.createDataFrame(
        [(k, k % 3, words[k % 4]) for k in range(50)], "k long, i int, s string")
    store = SnapshotStore(str(tmp_path))
    store.run_stage(spark, "st", lambda: df, partition_by=col)
    metrics = store.manifest("st")["metrics"]
    want = {str(r[0]): r[1] for r in df.groupBy(col).count().collect()}
    assert metrics["rows_per_partition"] == want
    assert metrics["rows"] == sum(metrics["rows_per_partition"].values()) == 50


def test_string_partition_keeps_its_type(spark, tmp_path):
    """A string partition column of digits stays a string: in the
    committed and the resumed frame, and in the manifest's keys."""
    df = spark.createDataFrame([(1, "007"), (2, "007"), (3, "12")],
                               "k long, p string")
    store = SnapshotStore(str(tmp_path))
    for _ in range(2):  # commit, then resume
        out = store.run_stage(spark, "st", lambda: df, partition_by="p")
        assert out.schema["p"].dataType == StringType()
        assert sorted((r.k, r.p) for r in out.collect()) == [
            (1, "007"), (2, "007"), (3, "12")]
    assert store.manifest("st")["metrics"]["rows_per_partition"] == {
        "007": 2, "12": 1}
