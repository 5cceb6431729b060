"""The one commit path of the single-file sinks (shapefile, GeoJSON,
strip TIFF) — GDAL's CreateCopy shape on Spark: executors encode fixed
blocks of records into part files under ``<path>.parts``, the driver
streams the parts in block order behind a format header into the final
file. Every file, part or final, lands by tmp + ``os.replace``, and the
parts dir goes whether the write commits or fails. The driver reads
what executors wrote, so the parts dir must be on a filesystem both
share: local mode, NFS or a fuse mount, as for Spark's own committers.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager


def atomic_write(path: str, chunks) -> None:
    """Write ``chunks`` (bytes, or readable binary files copied
    through) to a per-process tmp name beside ``path``, then
    ``os.replace`` it; on any failure the tmp goes and ``path`` is
    untouched."""
    tmp = f"{path}.tmp.{os.getpid()}"
    try:
        with open(tmp, "wb") as fh:
            for c in chunks:
                if isinstance(c, bytes):
                    fh.write(c)
                else:
                    shutil.copyfileobj(c, fh)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


@contextmanager
def parts_dir(path: str):
    tmp_dir = path + ".parts"
    os.makedirs(tmp_dir, exist_ok=True)
    try:
        yield tmp_dir
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)


def write_blocks(df, block, tmp_dir: str, encode, schema: str) -> list:
    """Group ``df`` on the int column expression ``block``; on the
    executors ``encode(blk, pdf)`` returns ``({name: bytes}, row)`` and
    each payload lands as part ``<name>-<blk>``. Returns the ``row``s
    (fields per the DDL ``schema``, plus ``blk``) sorted by block."""
    import pandas as pd

    def one_block(key, pdf):
        blk = int(key[0])
        payloads, row = encode(blk, pdf)
        for name, data in payloads.items():
            atomic_write(_part(tmp_dir, name, blk), [data])
        return pd.DataFrame({"blk": [blk], **{k: [v] for k, v in row.items()}})

    report = sorted(df.withColumn("_blk", block).groupBy("_blk")
                    .applyInPandas(one_block, "blk int, " + schema)
                    .collect(), key=lambda r: r["blk"])
    blks = [r["blk"] for r in report]
    if blks != list(range(len(blks))):
        raise IOError(f"block ids are not dense from 0: {blks[:8]}")
    return report


def parts(tmp_dir: str, name: str, k: int):
    """Payload ``name``'s parts in block order, as open files for
    ``atomic_write`` to stream."""
    for blk in range(k):
        with open(_part(tmp_dir, name, blk), "rb") as fh:
            yield fh


def _part(tmp_dir: str, name: str, blk: int) -> str:
    return os.path.join(tmp_dir, f"{name}-{blk:06d}")
