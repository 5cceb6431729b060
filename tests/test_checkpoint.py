"""Snapshot checkpoint/resume with per-partition lineage + metrics."""

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from gdal_spark.pipeline.checkpoint import SnapshotStore, VersionedTable


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
    _, n = _jobs(spark, lambda: vt.write(spark, "t", make(), mode="append"))
    assert n == 1
    for version, rows in ((None, 200), (1, 100)):
        out, n = _jobs(spark, lambda: vt.read(spark, "t", version=version))
        assert n == 0 and out.count() == rows


def test_small_pyramid_writes_one_file_per_zoom(spark, tmp_path):
    """A post-shuffle stage is sized by its bytes: the z12→z0 pyramid
    of a few thousand points is one small shuffle, so one task writes
    it and each z gets one part file, not one per shuffle partition."""
    from gdal_spark.operators import tiling

    pts = spark.range(3000).select((F.rand(3) * 170 - 85).alias("lat"),
                                   (F.rand(4) * 360 - 180).alias("lon"))
    store = SnapshotStore(str(tmp_path))
    store.run_stage(spark, "pyr",
                    lambda: tiling.pyramid(tiling.tile_counts(pts, 12), 0),
                    partition_by="z")
    files = store.manifest("pyr")["metrics"]["files_per_partition"]
    assert files == {str(z): 1 for z in range(13)}


def test_large_shuffle_keeps_full_width(spark, tmp_path):
    """A shuffle above ``defaultParallelism`` × 1 MB is not coalesced
    below one task per core, so a big aggregate is not starved.

    The keys are 32-byte SHA-256 digests, which lz4 cannot shrink, one
    group each: 60,000 rows per core shuffle 36.75 B a row, about
    2.2 MB per core (17,641,584 B measured at local[8]). The flat
    stage's ``files_per_partition`` is ``{"": files}``."""
    n = spark.sparkContext.defaultParallelism
    df = (spark.range(n * 60_000)
          .select(F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("k"))
          .groupBy("k").count())
    store = SnapshotStore(str(tmp_path))
    store.run_stage(spark, "agg", lambda: df)
    metrics = store.manifest("agg")["metrics"]
    assert metrics["rows"] == n * 60_000
    assert list(metrics["files_per_partition"]) == [""]
    assert metrics["files_per_partition"][""] >= n


def test_mid_shuffle_is_narrowed_unless_full_width(spark, tmp_path):
    """A shuffle between 1 MB and ``defaultParallelism`` × 1 MB is
    coalesced to about one task per MB, whatever its CPU cost per row;
    ``full_width`` keeps such a stage at one task per core.

    15,000 SHA-256 keys per core shuffle about 0.55 MB per core
    (4,415,425 B measured at local[8], 2,205,324 B at local[4]), so
    AQE's target is its 1 MB floor and the aggregate is written by
    about half as many tasks as there are cores."""
    from gdal_spark.session import full_width

    n = spark.sparkContext.defaultParallelism
    if n < 4:
        pytest.skip("needs at least 4 cores for a 1 MB to cores × 1 MB shuffle")
    agg = (spark.range(n * 15_000)
           .select(F.unhex(F.sha2(F.col("id").cast("string"), 256)).alias("k"))
           .groupBy("k").count())
    store = SnapshotStore(str(tmp_path))
    store.run_stage(spark, "agg", lambda: agg)
    files = store.manifest("agg")["metrics"]["files_per_partition"][""]
    assert 2 <= files < n

    def width(df):
        return df.select(F.spark_partition_id()).distinct().count()

    assert width(agg) == files
    assert width(full_width(agg)) == n
    # a hash on the keys the input is already partitioned by is dropped
    # by the planner, so the aggregate's own coalesced width stays
    assert width(full_width(agg, "k")) == files


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


def test_resume_checks_input_lineage(spark, tmp_path):
    """A stage whose input was recomputed is recomputed too: ``b`` read
    5 rows of ``a``; once ``a`` is recomputed as 8 rows, ``b`` has 8 and
    its manifest names ``a``'s new snapshot, the only one left on disk."""
    store = SnapshotStore(str(tmp_path))

    def publish(n):
        a = store.run_stage(spark, "a", lambda: spark.range(n))
        return store.run_stage(spark, "b", lambda: a, inputs=["a"])

    assert publish(5).count() == 5
    os.remove(store._manifest_path("a"))
    assert publish(8).count() == 8
    a_id = store.manifest("a")["snapshot_id"]
    assert store.manifest("b")["inputs"] == [{"stage": "a", "snapshot_id": a_id}]
    assert os.listdir(tmp_path / "a") == [a_id]
    assert os.listdir(tmp_path / "b") == [store.manifest("b")["snapshot_id"]]


def test_root_stage_recomputes_when_its_file_changes(spark, tmp_path):
    """A root stage records the files it read: once its parquet file is
    rewritten with 8 rows instead of 5, it recomputes, and so does the
    stage that reads it. While the file is unchanged both resume and run
    no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src.parquet")
    store = SnapshotStore(str(tmp_path / "s"))

    def publish():
        a = store.run_stage(spark, "a", lambda: spark.read.parquet(src))
        return store.run_stage(spark, "b", lambda: a, inputs=["a"])

    pq.write_table(pa.table({"k": list(range(5))}), src)
    assert publish().count() == 5
    assert store.manifest("a")["sources"][0]["size"] == os.path.getsize(src)
    out, n = _jobs(spark, publish)
    assert n == 0 and out.count() == 5
    pq.write_table(pa.table({"k": list(range(8))}), src)
    assert publish().count() == 8
    assert store.run_stage(spark, "a", lambda: None).count() == 8


@pytest.mark.parametrize("mode", ["bogus", "upsert"])
def test_versioned_write_checks_its_arguments(spark, tmp_path, mode):
    """A bad ``mode``, or an upsert without ``key``, fails on a table's
    first write as on later ones, and commits nothing."""
    vt = VersionedTable(str(tmp_path))
    with pytest.raises(ValueError):
        vt.write(spark, "t", spark.range(3), mode=mode)
    assert vt.manifest("t") is None


# ------------------------------------------------------------ kill points
# A child process republishes three stages, geocoded → tile_base →
# tile_pyramid as perfbench's tile_publish does, on inline input, and
# SIGKILLs its process group (driver and JVM) at one point. The store it
# starts from holds a complete publish of N_OLD points whose geocoded
# commit was lost, so the child commits N_NEW points and every stage
# after geocoded must notice its stale input. The test session then
# reruns the publish, which must end as a clean run does.

N_OLD, N_NEW = 2000, 3000
STAGES = ("geocoded", "tile_base", "tile_pyramid")
KILL_POINTS = ("between_commits", "part_write", "before_swap")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _publish(spark, store, n):
    from gdal_spark.operators import tiling

    g = store.run_stage(spark, "geocoded", lambda: spark.range(
        n, numPartitions=4).select(
            "id", (F.col("id") * 7919 % 36000 / 100 - 180).alias("lon"),
            (F.col("id") * 104729 % 17000 / 100 - 85).alias("lat")))
    b = store.run_stage(spark, "tile_base", lambda: tiling.tile_counts(g, 12),
                        inputs=["geocoded"])
    store.run_stage(spark, "tile_pyramid", lambda: tiling.pyramid(b, 0),
                    partition_by="z", inputs=["tile_base"])


def _outputs(spark, store):
    return {s: sorted(map(tuple, spark.read.parquet(store.data_path(s))
                          .collect())) for s in STAGES}


def _orphans(store, stage):
    """Directories under ``<base>/<stage>/`` the manifest does not name."""
    keep = store.manifest(stage)["snapshot_id"]
    return [os.path.join(store.base, stage, d)
            for d in os.listdir(os.path.join(store.base, stage)) if d != keep]


def _kill_on_part_file(path, pg):
    """A pass-through ``mapInArrow`` function: a task passes its rows
    on, then, before its input ends, waits until a part file exists
    under ``path`` and kills. A small write is coalesced to one task,
    so that task is the one that kills."""
    def fn(batches):
        yield from batches
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and not any(
                f.startswith("part-") for _, _, fs in os.walk(path)
                for f in fs):
            time.sleep(0.05)
        os.killpg(pg, signal.SIGKILL)
        os.killpg(0, signal.SIGKILL)  # the Python worker daemon's group
    return fn


def _child(base, point):
    """Republish N_NEW points into ``base``; SIGKILL at ``point``."""
    from gdal_spark.pipeline import checkpoint as ckpt
    from gdal_spark.session import get_spark

    pg = os.getpgid(0)
    run_stage, commit, atomic_write = (
        SnapshotStore.run_stage, ckpt._commit, ckpt.atomic_write)

    def before_tile_base(self, spark, stage, *a, **k):
        if stage == "tile_base":
            os.killpg(pg, signal.SIGKILL)
        return run_stage(self, spark, stage, *a, **k)

    def slow_tile_base(df, path, partition_by=None):
        if os.path.basename(os.path.dirname(path)) == "tile_base":
            df = df.mapInArrow(_kill_on_part_file(path, pg), df.schema)
        return commit(df, path, partition_by)

    def before_pyramid_swap(path, chunks):
        if path.endswith("tile_pyramid.json"):
            os.killpg(pg, signal.SIGKILL)
        return atomic_write(path, chunks)

    if point == "between_commits":
        SnapshotStore.run_stage = before_tile_base
    elif point == "part_write":
        ckpt._commit = slow_tile_base
    else:
        ckpt.atomic_write = before_pyramid_swap
    _publish(get_spark(app="checkpoint-kill", master="local[2]"),
             SnapshotStore(base), N_NEW)


@pytest.fixture(scope="module")
def killed(spark, tmp_path_factory):
    """{kill point: (its store's base, the child's exit code, its log)}.
    The three children run at once, each in its own process group."""
    root = tmp_path_factory.mktemp("killed")
    seed = SnapshotStore(str(root / "seed"))
    _publish(spark, seed, N_OLD)
    os.remove(seed._manifest_path("geocoded"))
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_DRIVER_MEM": "1g",
           "SPARK_LOCAL_DIRS": str(root / "spark-local")}
    procs = {}
    try:
        for point in KILL_POINTS:
            base = str(root / point)
            shutil.copytree(seed.base, base)
            with open(f"{base}.log", "wb") as log:
                procs[point] = subprocess.Popen(
                    [sys.executable, __file__, base, point], env=env,
                    stdout=log, stderr=subprocess.STDOUT,
                    start_new_session=True)
        codes = {p: proc.wait(timeout=300) for p, proc in procs.items()}
    finally:
        for proc in procs.values():
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return {p: (str(root / p), codes[p], (root / f"{p}.log").read_text())
            for p in KILL_POINTS}


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("clean")))
    _publish(spark, store, N_NEW)
    return _outputs(spark, store)


def _landed(store, point):
    """The store shows the kill where ``point`` says it was."""
    m = {s: store.manifest(s) for s in STAGES}
    if point == "between_commits":  # geocoded new, tile_base on the old
        return (m["geocoded"]["metrics"]["rows"] == N_NEW
                and m["tile_base"]["inputs"][0]["snapshot_id"]
                != m["geocoded"]["snapshot_id"])
    stage = "tile_base" if point == "part_write" else "tile_pyramid"
    done = [os.path.exists(os.path.join(d, "_SUCCESS"))
            for d in _orphans(store, stage)]
    return done == [point == "before_swap"]


@pytest.mark.parametrize("point", KILL_POINTS)
def test_rerun_after_kill_matches_clean_run(spark, killed, clean, point):
    base, code, log = killed[point]
    assert code == -signal.SIGKILL, log[-3000:]
    store = SnapshotStore(base)
    assert _landed(store, point)
    _publish(spark, store, N_NEW)
    assert _outputs(spark, store) == clean
    for s in STAGES:
        assert all(store.manifest(i["stage"])["snapshot_id"] == i["snapshot_id"]
                   for i in store.manifest(s)["inputs"])
        assert _orphans(store, s) == []


if __name__ == "__main__":
    _child(*sys.argv[1:])
