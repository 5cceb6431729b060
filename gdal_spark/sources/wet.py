"""WET-format Spark data source — a from-scratch format driver for
the WARC conversion format (ISO 28500; the *.warc.wet.gz sidecars
Common Crawl publishes: one ``WARC/1.0`` record per page, CRLF header
block with ``Content-Length`` octet count, body = the extracted plain
text, record closed by two CRLFs).

Reader contract (the PRODUCTION one — contrast queries.q_warc_records,
which documents its split-on-magic deviation): records are consumed
strictly by header parse + Content-Length slice, never by scanning the
payload for the version magic — a payload containing ``WARC/1.0`` is
handled correctly here. Files are gzip members, decompressed
streamwise in the reader.

Scan model: ONE InputPartition per .wet.gz file — GDAL's one-dataset-
per-file sequential scan (gcore/rasterband GetLockedBlockRef ordering;
ogrsf sequential ReadNextFeature), which is also how a 10^12-record
WET corpus parallelizes: Spark schedules files across executors, each
file decompresses as one stream (gzip members are not splittable —
the same reason CC shards WET files at ~1 GiB).

GDAL analog cited for parity: frmts/ driver registration +
Identify/Open contract (gcore/gdaldriver.cpp); the reader here plays
OGRSFDriver::Open + GetNextFeature for a text format.
"""

from __future__ import annotations

import gzip
import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceWriter, InputPartition,
                                    SimpleDataSourceStreamReader,
                                    WriterCommitMessage)

CRLF = "\r\n"


def wet_record(url: str, text: str) -> str:
    """One WARC conversion record, octet-exact Content-Length (ASCII
    fixture: char count == octet count, asserted by the writer)."""
    return (f"WARC/1.0{CRLF}"
            f"WARC-Type: conversion{CRLF}"
            f"WARC-Target-URI: {url}{CRLF}"
            f"Content-Length: {len(text)}{CRLF}"
            f"{CRLF}{text}{CRLF}{CRLF}")


def write_wet_shards(rows, out_dir: str, n_shards: int = 4) -> list[str]:
    """Synthesize .wet.gz shards from (doc_id, text) rows — the test
    scaffolding that stands in for the crawler's WET writer. Shard =
    doc_id % n_shards, records in doc_id order within a shard."""
    paths = []
    shards: dict[int, list] = {i: [] for i in range(n_shards)}
    for doc_id, text in rows:
        assert len(text) == len(text.encode("ascii"))
        shards[doc_id % n_shards].append((doc_id, text))
    for i in range(n_shards):
        p = os.path.join(out_dir, f"shard-{i:05d}.warc.wet.gz")
        with gzip.open(p, "wt", encoding="ascii", newline="") as f:
            for doc_id, text in sorted(shards[i]):
                f.write(wet_record(f"urn:doc:{doc_id}", text))
        paths.append(p)
    return paths


def parse_wet_stream(fh):
    """Sequential record reader: header lines to the blank line, then
    EXACTLY Content-Length chars of body, then the 2-CRLF terminator.
    Yields (rec_idx, url, content_length, text)."""
    idx = 0
    while True:
        line = fh.readline()
        if not line:
            return
        if line.strip() == "":
            continue
        if line.rstrip(CRLF) != "WARC/1.0":
            raise ValueError(f"bad record start: {line!r}")
        url = ""
        clen = -1
        while True:
            h = fh.readline().rstrip(CRLF)
            if h == "":
                break
            k, _, v = h.partition(": ")
            if k == "WARC-Target-URI":
                url = v
            elif k == "Content-Length":
                clen = int(v)
        if clen < 0:
            raise ValueError("record missing Content-Length")
        body = fh.read(clen)
        if len(body) != clen:
            raise ValueError("truncated record body")
        term = fh.read(4)
        if term != CRLF + CRLF:
            raise ValueError(f"bad record terminator: {term!r}")
        yield idx, url, clen, body
        idx += 1


class WetReader(DataSourceReader):
    def __init__(self, path: str):
        # names starting with '_' or '.' are hidden (in-flight temps,
        # markers) — the Hadoop convention; a crashed task's orphaned
        # _tmp-*.wet.gz must never be listed as data
        self.files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".wet.gz") and not f.startswith(("_", ".")))

    def partitions(self):
        # one partition per gzip member — the unsplittable-file scan
        return [InputPartition(f) for f in self.files]

    def read(self, partition):
        fname = os.path.basename(partition.value)
        with gzip.open(partition.value, "rt",
                       encoding="ascii", newline="") as fh:
            for idx, url, clen, text in parse_wet_stream(fh):
                yield fname, idx, url, clen, text


class WetDataSource(DataSource):
    """spark.read.format("wet").load(dir) over *.warc.wet.gz shards."""

    @classmethod
    def name(cls) -> str:
        return "wet"

    def schema(self) -> str:
        return ("file string, rec_idx bigint, url string, "
                "content_length bigint, text string")

    def reader(self, schema):
        return WetReader(self.options["path"])

    def simpleStreamReader(self, schema):
        return WetStreamReader(self.options["path"])

    def writer(self, schema, overwrite: bool):
        path = self.options["path"]
        os.makedirs(path, exist_ok=True)
        # overwrite is deferred to commit(): deleting here, at
        # job-planning time, would destroy the old dataset before any
        # task has succeeded — a failed job must leave it intact
        return WetWriter(path, overwrite)


class WetCommit(WriterCommitMessage):
    def __init__(self, path: str, n: int):
        self.path = path
        self.n = n


class WetWriter(DataSourceWriter):
    """Per-task WET shard writer with the two-phase commit protocol —
    the sink half of the format driver (GDAL: Driver::Create /
    CreateCopy, gcore/gdaldriver.cpp; OGR partitioned sink SURVEY
    §2.1). Each task streams its partition into a TEMPORARY gzip
    member (``_``-prefixed, so readers skip it); ``commit`` runs only
    once every task reports success, ``abort`` removes the temps. So a
    failed job never touches the existing dataset, and no task's
    partial output is ever visible. ``commit`` itself is not atomic:
    an overwrite deletes the prior parts first, then renames the new
    ones in one by one, so a crash inside ``commit`` can leave the
    directory with none or only some of the new parts. Append mode
    numbers new parts AFTER the existing ones, so successive appends
    never clobber earlier shards (the ogr2ogr ACCESS_APPEND analog).

    Filesystem contract: ``commit`` runs on the DRIVER and renames the
    task-written temp files, so ``path`` must be a filesystem shared
    by driver and executors — local mode, NFS, or a fuse-mounted
    object store. On a shared-nothing cluster writing to executor-
    local disks the temps would be unreachable from the driver; there
    the path must point at the shared store (which is how every Spark
    file sink, including parquet's FileOutputCommitter, states the
    same requirement)."""

    def __init__(self, path: str, overwrite: bool = True):
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        import uuid as _uuid
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        tmp = os.path.join(self.path,
                           f"_tmp-{pid:05d}-{_uuid.uuid4().hex}.wet.gz")
        n = 0
        with gzip.open(tmp, "wt", encoding="ascii", newline="") as f:
            for row in iterator:
                f.write(wet_record(row.url, row.text))
                n += 1
        return WetCommit(tmp, n)

    def commit(self, messages):
        import re as _re
        existing = [f for f in os.listdir(self.path)
                    if f.endswith(".wet.gz") and not f.startswith("_")]
        if self.overwrite:
            for f in existing:
                os.remove(os.path.join(self.path, f))
            start = 0
        else:
            # next index past the highest committed part — robust to
            # gaps and to externally-named shards (which can never
            # collide with the part- prefix)
            idxs = [int(m.group(1)) for f in existing
                    if (m := _re.match(r"part-(\d+)\.warc\.wet\.gz$", f))]
            start = max(idxs) + 1 if idxs else 0
        for i, m in enumerate(sorted(messages, key=lambda m: m.path)):
            final = os.path.join(
                self.path, f"part-{start + i:05d}.warc.wet.gz")
            os.replace(m.path, final)

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)




class WetStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the format driver — the crawler-ingest tail
    reader (spark.readStream.format("wet")): the offset is the sorted
    list position of the last consumed shard, so each micro-batch
    admits exactly the files that appeared since the previous one and
    a restarted query resumes from the checkpointed offset without
    re-reading consumed shards. The same micro-batch file-admission
    model as Spark's built-in FileStreamSource, expressed in ~30
    lines over the WET record framing.

    Contract: shard names must arrive in sorted order (new files sort
    after consumed ones) — the positional offset assumes a
    monotone-named tail, which real WET shards (timestamped names)
    satisfy; an out-of-order name would shift positions of consumed
    files."""

    def __init__(self, path: str):
        self.path = path

    def _files(self):
        return sorted(f for f in os.listdir(self.path)
                      if f.endswith(".wet.gz")
                      and not f.startswith(("_", ".")))

    def initialOffset(self) -> dict:
        return {"n_consumed": 0}

    def read(self, start: dict):
        files = self._files()
        end = {"n_consumed": len(files)}
        return iter(self._rows(files[start["n_consumed"]:])), end

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        return self._rows(files[start["n_consumed"]:end["n_consumed"]])

    def _rows(self, names):
        # materialized (picklable) rows: the simple stream reader runs
        # on the DRIVER and Spark caches the batch for replay — the
        # documented model for low-throughput tail sources; a
        # firehose-rate source implements the partitioned streamReader
        # instead (same framing, executor-side)
        out = []
        for fname in names:
            with gzip.open(os.path.join(self.path, fname), "rt",
                           encoding="ascii", newline="") as fh:
                for idx, url, clen, text in parse_wet_stream(fh):
                    out.append((fname, idx, url, clen, text))
        return out
