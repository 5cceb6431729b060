"""Strip-TIFF raster file source — a Spark 4 Python DataSource.

The raster half of the engine previously started every query from a
synthesized burn table; this is the real file → tile-DataFrame source
the reference gets from gcore/rasterio.cpp + frmts/gtiff (r3 VERDICT
missing-item 2), scoped to the baseline-TIFF subset the reference's
own autotest fixtures use:

- classic TIFF (magic 42) AND BigTIFF (magic 43: 8-byte offsets,
  20-byte IFD entries, LONG8/SLONG8 types), II or MM byte order;
- strip organization (tags 273/278/279), any strip count, AND tiled
  organization (tags 322/323/324/325) with edge tiles padded to the
  full tile size per TIFF 6.0 §15 (clipped after decode, after the
  predictor pass — the predictor runs over the stored padded row);
- Compression 1 (none), 5 (TIFF-LZW, MSB-first packing with
  early-change code widening), 8/32946 (DEFLATE via zlib),
  32773 (PackBits, TIFF 6.0 §9), 4 (CCITT Group 4 / ITU-T T.6 —
  the from-scratch 2-D MMR decoder in sources/ccitt.py);
- Predictor 2 (horizontal differencing) for LZW/DEFLATE, per-sample
  when samples are interleaved;
- BitsPerSample 8/16/32, SampleFormat unsigned/signed int + 32-bit
  IEEE float;
- PlanarConfiguration 2 (one block run per band, e.g. rgbsmall.tif)
  AND chunky 1 with interleaved samples (e.g. contig_tiled.tif —
  the block is de-interleaved into per-band rows after decode).

Scale shape: the DRIVER reads only the header/IFD (a few KiB) to plan;
each InputPartition is ONE block — a (band, strip/tile) for planar
data, one strip/tile carrying all interleaved bands for chunky — and
the executor opens the file and reads exactly its block's byte range,
so a 100k-block mosaic scans block-parallel with no whole-file reads
anywhere. Emitted schema is the engine's pixel convention
``(file string, band int, py int, px int, value double)`` — py/px in
raster space, value widened to double (every raster operator here
consumes doubles; the exact integer is recoverable for the supported
int widths ≤ 2^53).

Parity anchors: tests/test_tiff_source.py pins byte.tif's published
checksum 4672 (autotest/gcore uses it everywhere) plus LZW (n43.tif)
and planar DEFLATE (rgbsmall.tif) equality against the independent
parity-suite decoders; the ``tiff_scan`` gate row pins the same
checksums through the driver's DuckDB compare. The tiled/PackBits/
chunky path pins the reference's partial-final-block quartet
(autotest/gcore/tiff_read.py:68-71: contig_tiled / separate_tiled /
contig_strip / seperate_strip band 2 == 15234, issue #1179) via the
``tiff_tiled_scan`` gate.

The module also carries the WRITER half (write_strip_tiff): strips
are predictor-2-differenced and compressed on executors, one part
file per strip, then the driver streams header + IFD + strip bytes
into the final file. The parts, their ordered concat and the atomic
rename are the shared sink commit path in sources/commit.py (which
states its shared-filesystem contract). gdal_translate's
CreateCopy-to-GTiff analog for the engine's pixel schema.
"""

from __future__ import annotations

import itertools
import struct
import zlib

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

from gdal_spark.sources import commit

PIXEL_SCHEMA = StructType([
    StructField("file", StringType()),
    StructField("band", IntegerType()),
    StructField("py", IntegerType()),
    StructField("px", IntegerType()),
    StructField("value", DoubleType()),
])

# granularity=block: one row per stored (block, band) with the decoded
# samples as a single float64-LE binary payload — ~24x fewer rows and
# ~3x fewer bytes than the per-pixel layout (no py/px columns), the
# scale-path representation for whole-block kernels (checksum, stats,
# warp, overview build). `data` is C-order (bh, bw) float64.
BLOCK_SCHEMA = StructType([
    StructField("file", StringType()),
    StructField("band", IntegerType()),
    StructField("x0", IntegerType()),
    StructField("y0", IntegerType()),
    StructField("bw", IntegerType()),
    StructField("bh", IntegerType()),
    StructField("data", BinaryType()),
])

# TIFF type id -> (struct fmt char, byte size); SHORT/LONG cover every
# tag this subset interprets; 13 is IFD (SubIFDs tag 330), 16/17/18
# are the BigTIFF LONG8/SLONG8/IFD8
_TYPE_FMT = {1: ("B", 1), 2: ("s", 1), 3: ("H", 2), 4: ("I", 4),
             6: ("b", 1), 8: ("h", 2), 9: ("i", 4), 11: ("f", 4),
             12: ("d", 8), 13: ("I", 4), 16: ("Q", 8), 17: ("q", 8),
             18: ("Q", 8)}


def _read_ifd(b: bytes, index: int = 0, subifd: int = None):
    """Parse the index-th IFD of the chain type-aware (values inline
    when they fit the entry's value slot, else at the offset). IFD 0
    is the full-resolution raster; GTiff appends internal overviews
    as chained IFDs (NewSubfileType=1), so index 1.. are the overview
    levels — GDALRasterBand::GetOverview in file terms. When the IFD
    carries a SubIFDs tag (330 — GTIFF_DIR subdataset layouts whose
    overviews hang off each directory instead of the main chain),
    ``subifd`` selects one, ordered largest-first like GDAL's
    overview list.

    Handles BOTH classic TIFF (magic 42: 12-byte entries, 4-byte
    counts/offsets) and BigTIFF (magic 43, TIFF 6.0 supplement: 8-byte
    offsetsize header, 20-byte entries, 8-byte counts/offsets, value
    inline when ≤ 8 bytes, LONG8/SLONG8 types). Returns
    (byteorder, {tag: [values...]})."""
    if b[:2] == b"II":
        bo = "<"
    elif b[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    magic = struct.unpack(bo + "H", b[2:4])[0]
    if magic == 42:
        big = False
        ifd = struct.unpack(bo + "I", b[4:8])[0]
        ent, slot, cntfmt, nfmt, nsz = 12, 4, "I", "H", 2
    elif magic == 43:
        big = True
        osz, _pad = struct.unpack(bo + "HH", b[4:8])
        if osz != 8:
            raise ValueError(f"BigTIFF offset size {osz} != 8")
        ifd = struct.unpack(bo + "Q", b[8:16])[0]
        ent, slot, cntfmt, nfmt, nsz = 20, 8, "Q", "Q", 8
    else:
        raise ValueError(f"not a TIFF (magic {magic})")
    def parse_at(pos: int) -> dict:
        n = struct.unpack(bo + nfmt, b[pos:pos + nsz])[0]
        tags: dict[int, list] = {}
        for i in range(n):
            e = b[pos + nsz + ent * i: pos + nsz + ent * (i + 1)]
            tag, typ = struct.unpack(bo + "HH", e[:4])
            cnt = struct.unpack(bo + cntfmt,
                                e[4:4 + (8 if big else 4)])[0]
            if typ not in _TYPE_FMT:
                continue  # RATIONAL etc. — nothing here interprets
            fmt, sz = _TYPE_FMT[typ]
            total = sz * cnt
            vslot = e[ent - slot:ent]
            if total <= slot:
                raw = vslot
            else:
                off = struct.unpack(bo + ("Q" if big else "I"),
                                    vslot)[0]
                raw = b[off:off + total]
            if typ == 2:
                tags[tag] = [raw[:total].rstrip(b"\0")
                             .decode("ascii", "replace")]
            else:
                tags[tag] = list(struct.unpack(bo + f"{cnt}{fmt}",
                                               raw[:total]))
        return tags

    for _ in range(index):
        n = struct.unpack(bo + nfmt, b[ifd:ifd + nsz])[0]
        tail = ifd + nsz + ent * n
        nxt = struct.unpack(bo + ("Q" if big else "I"),
                            b[tail:tail + slot])[0]
        if nxt == 0:
            raise ValueError(f"TIFF has no IFD {index} "
                             "(overview chain ends)")
        ifd = nxt
    tags = parse_at(ifd)
    if subifd is not None:
        subs = tags.get(330)
        if not subs:
            raise ValueError(f"IFD {index} has no SubIFDs (tag 330)")
        # GDAL overview ordering: largest raster first
        subs = sorted(subs,
                      key=lambda o: -parse_at(o).get(256, [0])[0])
        if subifd >= len(subs):
            raise ValueError(
                f"SubIFD {subifd} out of range ({len(subs)})")
        tags = parse_at(subs[subifd])
    return bo, tags


def tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF flavor LZW (TIFF 6.0 §13): MSB-first bit packing and the
    early-change rule (code width grows one code EARLY, at table size
    510/1022/2046)."""
    out = bytearray()
    CLEAR, EOI = 256, 257
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    width, prev = 9, None
    bitbuf = nbits = pos = 0
    while len(out) < expected:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            table = table[:258]
            width, prev = 9, None
            continue
        if code == EOI:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        if len(table) + 1 >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


def tiff_packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6.0 §9): n in 0..127 → copy n+1 literals,
    n in 129..255 → repeat next byte 257-n times, n == 128 no-op."""
    out = bytearray()
    i, ln = 0, len(data)
    while i < ln and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out)


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF flavor LZW encoder (TIFF 6.0 §13) — the inverse of
    tiff_lzw_decode: MSB-first bit packing, CLEAR first, the
    early-change rule (code width grows when the NEXT code to be
    assigned would not fit, one code early: at table length 511/1023/
    2047), table reset at 4094 entries. Greedy longest-match over a
    dict keyed by byte strings."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int, width: int):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    emit(CLEAR, width)
    cur = b""
    for byte in data:
        cand = cur + bytes([byte])
        if cand in table:
            cur = cand
            continue
        emit(table[cur], width)
        table[cand] = nxt
        nxt += 1
        # width sync: the decoder's table lags the encoder's by one
        # entry (it learns each entry one code later) and grows one
        # early (len+1 >= 1<<width — the TIFF early-change rule), so
        # the encoder grows exactly when its next free code reaches
        # 1<<width
        if nxt == (1 << width) and width < 12:
            width += 1
        elif nxt >= 4094:
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt, width = 258, 9
        cur = bytes([byte])
    if cur:
        emit(table[cur], width)
    emit(EOI, width)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _plan(path: str, ifd: int = 0, subifd: int = None) -> dict:
    """Driver-side header read: everything partition planning needs,
    no pixel data. Normalizes both layouts to a uniform block grid:
    strips are blocks of (w × RowsPerStrip) in a 1-wide grid, tiles
    are (TileWidth × TileLength) in a ceil(w/tw)-wide grid. ifd
    selects the overview level (0 = full resolution)."""
    with open(path, "rb") as fh:
        head = fh.read(64 * 1024)  # IFD + tag arrays of any fixture
    try:
        bo, tags = _read_ifd(head, ifd, subifd)
    except struct.error:
        # tag arrays past the 64 KiB window (e.g. a huge strip
        # offset table) — fall back to the full header region
        with open(path, "rb") as fh:
            head = fh.read()
        bo, tags = _read_ifd(head, ifd, subifd)

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"required TIFF tag {tag} missing")
            return default
        return v[0]

    w, h = one(256), one(257)
    comp = one(259, 1)
    if comp not in (1, 4, 5, 8, 32946, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    bits_all = tags.get(258, [8])
    if len(set(bits_all)) != 1:
        raise ValueError("heterogeneous BitsPerSample not supported")
    bits = bits_all[0]
    if bits not in (1, 8, 16, 24, 32, 64, 128):
        raise ValueError(f"unsupported BitsPerSample {bits}")
    spp = one(277, 1)
    planar = one(284, 1)
    sfmt = one(339, 1)  # 1/2/3 uint/int/float, 5/6 complex int/float
    special, cdtype = None, None
    if bits == 24:
        # GDAL's Int24 / Float24 extensions: 3-byte samples, MSB
        # first within the triple (gcore GDALCopyWords24); Float24 is
        # 1 sign / 7-bit exponent (bias 63) / 16-bit mantissa, LSB
        # word order — both verified against the published byte.tif
        # twins (checksum 4672)
        if sfmt == 2:
            special = "i24"
        elif sfmt == 3:
            special = "f24"
        else:
            raise ValueError("24-bit samples must be int or float")
    elif sfmt in (5, 6):
        # complex samples (SampleFormat 5/6): stored re,im
        # interleaved per pixel; emitted as component bands 0/1
        comp_bits = bits // 2
        kind = "i" if sfmt == 5 else "f"
        if sfmt == 5 and comp_bits not in (16, 32) or \
                sfmt == 6 and comp_bits not in (32, 64):
            raise ValueError(
                f"unsupported complex width {bits}")
        special = "c2"
        cdtype = ("<" if bo == "<" else ">") + kind + str(comp_bits // 8)
        if spp != 1:
            raise ValueError("complex samples only for spp=1")
    elif sfmt == 3 and bits not in (16, 32, 64):
        raise ValueError("float samples only at 16/32/64 bits")
    if comp == 4 and (bits != 1 or spp != 1):
        raise ValueError("CCITT G4 is defined for 1-bit single-sample")
    pred = one(317, 1)
    if pred not in (1, 2, 3):
        raise ValueError(f"unsupported Predictor {pred}")
    if pred == 3 and (sfmt != 3 or bits not in (32, 64)):
        raise ValueError("floating-point predictor needs f32/f64")
    tiled = 322 in tags
    if tiled:
        bw, bh = one(322), one(323)
        offs, lens = tags[324], tags[325]
    else:
        bw, bh = w, one(278, h)
        offs, lens = tags[273], tags[279]
    ba = (w + bw - 1) // bw   # blocks across
    bd = (h + bh - 1) // bh   # blocks down
    blocks_per_band = ba * bd
    want = blocks_per_band * (spp if planar == 2 else 1)
    if len(offs) != want:
        raise ValueError(
            f"block count {len(offs)} does not match layout ({want})")
    np_kind = {1: "u", 2: "i", 3: "f", 5: "i", 6: "f"}[sfmt]
    # 1-bit samples (internal mask bands, Photometric=4: GDAL's
    # GMF_PER_DATASET mask IFDs) unpack to u1 0/1 after decode
    dtype = ("<" if bo == "<" else ">") + np_kind + str(max(1, bits // 8))
    return {"path": path, "w": w, "h": h, "comp": comp, "pred": pred,
            "tiled": tiled, "bw": bw, "bh": bh, "ba": ba, "bd": bd,
            "offs": offs, "lens": lens, "dtype": dtype, "bits": bits,
            "bands": spp, "planar": planar, "special": special,
            "cdtype": cdtype, "psize": max(1, bits // 8),
            "blocks_per_band": blocks_per_band}


def tiff_colormap(path: str) -> list:
    """ColorMap (tag 320, Photometric=3 palette rasters): 3·2^bits
    16-bit SHORTs stored as R-plane, G-plane, B-plane. Scaled to
    8-bit the way GDAL's GTiff driver builds its GDALColorTable
    (v·255/65535 — 65535→255, 32639→127). Driver-side header read;
    the palette is enumeration metadata, definitionally ≤ 256 rows,
    broadcast-joined against the index raster by every consumer."""
    with open(path, "rb") as fh:
        head = fh.read(64 * 1024)
    _, tags = _read_ifd(head)
    if 320 not in tags:
        raise ValueError("no ColorMap tag (not a palette TIFF)")
    cm = tags[320]
    n = len(cm) // 3
    return [(i, cm[i] * 255 // 65535, cm[n + i] * 255 // 65535,
             cm[2 * n + i] * 255 // 65535) for i in range(n)]


def tiff_geotransform(path: str) -> tuple:
    """GDAL-style geotransform from the GeoTIFF tags (ModelPixelScale
    33550 + ModelTiepoint 33922) — a driver-side header read, the
    metadata half of GDALDataset::GetGeoTransform for this subset."""
    with open(path, "rb") as fh:
        head = fh.read(64 * 1024)
    _, tags = _read_ifd(head)
    if 33550 not in tags or 33922 not in tags:
        raise ValueError("no GeoTIFF geotransform tags")
    sx, sy = tags[33550][0], tags[33550][1]
    tp = tags[33922]
    # tiepoint (i, j, k) -> (X, Y, Z): origin = tie minus pixel offset
    return (tp[3] - tp[0] * sx, sx, 0.0,
            tp[4] + tp[1] * sy, 0.0, -sy)


class TiffStripPartition(InputPartition):
    """One stored block: (band, block) for planar files, band == -1
    for a chunky block carrying every interleaved sample."""

    def __init__(self, meta: dict, band: int, block: int):
        self.meta = meta
        self.band = band
        self.block = block


class TiffReader(DataSourceReader):
    def __init__(self, options):
        import glob as _glob
        path = options.get("path")
        if not path:
            raise ValueError("tiff source requires a path")
        ifd = int(options.get("ifd", 0))
        sub = options.get("subifd")
        sub = int(sub) if sub is not None else None
        paths = sorted(_glob.glob(path)) if any(
            c in path for c in "*?[") else [path]
        self.metas = [_plan(p, ifd, sub) for p in paths]
        self.granularity = options.get("granularity", "pixel")

    def partitions(self):
        parts = []
        for m in self.metas:
            if m["planar"] == 2:
                for band in range(m["bands"]):
                    for blk in range(m["blocks_per_band"]):
                        parts.append(TiffStripPartition(m, band, blk))
            else:
                for blk in range(m["blocks_per_band"]):
                    band = 0 if m["bands"] == 1 else -1
                    parts.append(TiffStripPartition(m, band, blk))
        return parts

    def read(self, part: TiffStripPartition):
        import os

        import numpy as np
        m, band, blk = part.meta, part.band, part.block
        chunky = m["planar"] == 1
        samples = m["bands"] if chunky else 1
        idx = blk if chunky else band * m["blocks_per_band"] + blk
        off, ln = m["offs"][idx], m["lens"][idx]
        bx, by = blk % m["ba"], blk // m["ba"]
        x0, y0 = bx * m["bw"], by * m["bh"]
        # tiles are stored padded to the full tile size (TIFF 6.0
        # §15); strips store only the rows that exist
        stored_rows = m["bh"] if m["tiled"] else min(m["bh"],
                                                    m["h"] - y0)
        itemsize = m["psize"]
        onebit = m.get("bits", 8) == 1
        if onebit:
            # bit-packed rows padded to a byte boundary per row
            rowbytes = (m["bw"] * samples + 7) // 8
            expected = stored_rows * rowbytes
        else:
            expected = stored_rows * m["bw"] * samples * itemsize
        with open(m["path"], "rb") as fh:
            fh.seek(off)
            raw = fh.read(ln)
        if m["comp"] == 4:
            # CCITT G4: decodes straight to 0/1 pixel rows (each row
            # is coded against the previous, so a strip is one
            # sequential unit — same constraint as libtiff)
            from gdal_spark.sources.ccitt import (g4_decode,
                                                  g4_rows_to_bits)
            arr = g4_rows_to_bits(
                g4_decode(raw, m["bw"], stored_rows),
                m["bw"]).reshape(stored_rows, m["bw"], 1)
            data = None
        elif m["comp"] == 1:
            data = raw[:expected]
        elif m["comp"] == 5:
            data = tiff_lzw_decode(raw, expected)
        elif m["comp"] == 32773:
            data = tiff_packbits_decode(raw, expected)
        else:
            data = zlib.decompress(raw)[:expected]
        if data is not None and len(data) < expected:
            # sparse/short final block
            data = data + b"\0" * (expected - len(data))
        if m["comp"] == 4:
            pass
        elif onebit:
            arr = np.unpackbits(
                np.frombuffer(data, dtype=np.uint8)
                .reshape(stored_rows, rowbytes),
                axis=1)[:, :m["bw"] * samples].reshape(
                    stored_rows, m["bw"], samples).copy()
        elif m["pred"] == 3:
            # TIFF TechNote 3 floating-point predictor: each stored
            # row is the float bytes split into significance planes
            # (MSB plane first) then byte-differenced — undo by byte
            # cumsum across the row, then re-interleave big-endian
            nb = itemsize
            rows8 = np.frombuffer(data, dtype=np.uint8).reshape(
                stored_rows, m["bw"] * samples * nb).copy()
            np.cumsum(rows8, axis=1, dtype=np.uint8, out=rows8)
            planes = rows8.reshape(stored_rows, nb,
                                   m["bw"] * samples)
            inter = np.stack([planes[:, i, :] for i in range(nb)],
                             axis=-1)
            arr = np.frombuffer(
                inter.tobytes(), dtype=">f" + str(nb)).reshape(
                    stored_rows, m["bw"], samples).copy()
        elif m["special"] == "i24":
            # 3-byte ints, MSB-first triples
            u = np.frombuffer(data, dtype=np.uint8).reshape(
                -1, 3).astype(np.int64)
            v = (u[:, 0] << 16) | (u[:, 1] << 8) | u[:, 2]
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            arr = v.reshape(stored_rows, m["bw"], samples)\
                .astype(np.float64)
        elif m["special"] == "f24":
            # 1 sign / 7-bit exp (bias 63) / 16-bit mantissa, LSB
            # word order
            u = np.frombuffer(data, dtype=np.uint8).reshape(
                -1, 3).astype(np.uint32)
            word = u[:, 0] | (u[:, 1] << 8) | (u[:, 2] << 16)
            sign = 1.0 - 2.0 * ((word >> 23) & 1)
            exp = ((word >> 16) & 0x7F).astype(np.float64)
            man = (word & 0xFFFF).astype(np.float64) / 65536.0
            v = sign * np.where(exp > 0, (1.0 + man)
                                * np.exp2(exp - 63),
                                man * np.exp2(-62.0))
            arr = v.reshape(stored_rows, m["bw"], samples)
        elif m["special"] == "c2":
            # complex: re,im interleaved per pixel -> component bands
            arr = np.frombuffer(data, dtype=m["cdtype"]).reshape(
                stored_rows, m["bw"], 2).astype(np.float64)
            samples = 2
        else:
            arr = np.frombuffer(data, dtype=m["dtype"]).reshape(
                stored_rows, m["bw"], samples).copy()
        if m["pred"] == 2:
            # horizontal differencing runs over the stored (padded)
            # row, per sample — undo BEFORE clipping edge tiles
            np.cumsum(arr, axis=1, dtype=arr.dtype, out=arr)
        nrows = min(m["bh"], m["h"] - y0)
        ncols = min(m["bw"], m["w"] - x0)
        arr = arr[:nrows, :ncols, :]
        # Arrow batches per (block, band) — the whole block crosses
        # to the JVM vectorized, no per-pixel Python loop. Blocks
        # bigger than ~1M pixels (e.g. a whole-image G4 strip) are
        # sliced row-wise so no single batch balloons driver-side
        # Arrow buffers.
        import pyarrow as pa
        fname = os.path.basename(m["path"])
        if self.granularity == "block":
            # one row per (block, band): the whole clipped block as a
            # float64 binary payload — Arrow moves it as one buffer
            cols = {
                "file": [], "band": [], "x0": [], "y0": [],
                "bw": [], "bh": [], "data": [],
            }
            for s in range(samples):
                b = s if chunky and samples > 1 else band
                cols["file"].append(fname)
                cols["band"].append(b)
                cols["x0"].append(x0)
                cols["y0"].append(y0)
                cols["bw"].append(ncols)
                cols["bh"].append(nrows)
                cols["data"].append(
                    np.ascontiguousarray(
                        arr[:, :, s].astype("<f8")).tobytes())
            yield pa.record_batch(
                [pa.array(cols["file"], pa.string()),
                 pa.array(cols["band"], pa.int32()),
                 pa.array(cols["x0"], pa.int32()),
                 pa.array(cols["y0"], pa.int32()),
                 pa.array(cols["bw"], pa.int32()),
                 pa.array(cols["bh"], pa.int32()),
                 pa.array(cols["data"], pa.binary())],
                names=list(cols))
            return
        names = ["file", "band", "py", "px", "value"]
        step = max(1, (1 << 20) // max(1, ncols))
        for r0 in range(0, nrows, step):
            r1 = min(r0 + step, nrows)
            n = (r1 - r0) * ncols
            pys = pa.array(np.repeat(
                np.arange(y0 + r0, y0 + r1, dtype=np.int32), ncols))
            pxs = pa.array(np.tile(
                np.arange(x0, x0 + ncols, dtype=np.int32), r1 - r0))
            fcol = pa.array([fname] * n, pa.string())
            for s in range(samples):
                b = s if chunky and samples > 1 else band
                yield pa.record_batch(
                    [fcol, pa.array(np.full(n, b, dtype=np.int32)),
                     pys, pxs,
                     pa.array(arr[r0:r1, :, s]
                              .astype(np.float64).ravel())],
                    names=names)


class TiffDataSource(DataSource):
    @classmethod
    def name(cls):
        return "tiff"

    def schema(self):
        if self.options.get("granularity", "pixel") == "block":
            return BLOCK_SCHEMA
        return PIXEL_SCHEMA

    def reader(self, schema):
        return TiffReader(self.options)


# ---------------------------------------------------------------- writer

_SFMT = {"u": 1, "i": 2, "f": 3}


def encode_strip(arr, comp: str, pred: int) -> bytes:
    """Pure strip encoder: optional per-row horizontal differencing
    (Predictor 2) then DEFLATE / PackBits / raw. arr is a 2-D numpy
    block in the file dtype."""
    import numpy as np
    if pred == 2:
        arr = np.concatenate(
            [arr[:, :1], np.diff(arr.astype(arr.dtype), axis=1)],
            axis=1).astype(arr.dtype)
    if comp == "g4":
        from gdal_spark.sources.ccitt import g4_encode
        return g4_encode((arr != 0).astype("uint8"))
    raw = arr.tobytes()
    if comp == "deflate":
        return zlib.compress(raw, 6)
    if comp == "lzw":
        return tiff_lzw_encode(raw)
    if comp == "packbits":
        # row-at-a-time, literal-run/repeat-run greedy per TIFF §9
        out = bytearray()
        row_bytes = arr.shape[1] * arr.dtype.itemsize
        for r in range(0, len(raw), row_bytes):
            row = raw[r:r + row_bytes]
            i, n = 0, len(row)
            while i < n:
                # find repeat run
                j = i
                while j + 1 < n and row[j + 1] == row[j] and \
                        j - i < 127:
                    j += 1
                if j > i + 1:  # run of >= 3 pays for itself
                    out += bytes([257 - (j - i + 1) & 0xFF, row[i]])
                    i = j + 1
                    continue
                # literal run up to next >=3 repeat or 128 bytes
                j = i
                while j < n and j - i < 128:
                    if j + 2 < n and row[j] == row[j + 1] == row[j + 2]:
                        break
                    j += 1
                out += bytes([j - i - 1]) + row[i:j]
                i = j
        return bytes(out)
    return raw


def _ifd_bytes(w: int, h: int, dtype, comp_id: int, pred: int,
               rps: int, lens: list, data_start: int,
               geotransform=None) -> bytes:
    """Classic little-endian header + IFD + out-of-line arrays.
    Strip offsets are computed from data_start + running lengths."""
    import numpy as np
    dt = np.dtype(dtype)
    bits = 1 if comp_id == 4 else dt.itemsize * 8
    sfmt = _SFMT[dt.kind]
    nstrips = len(lens)
    offs = []
    pos = data_start
    for ln in lens:
        offs.append(pos)
        pos += ln
    entries = []  # (tag, type, count, values)
    entries.append((256, 4, 1, [w]))
    entries.append((257, 4, 1, [h]))
    entries.append((258, 3, 1, [bits]))
    entries.append((259, 3, 1, [comp_id]))
    entries.append((262, 3, 1, [1]))            # BlackIsZero
    entries.append((273, 4, nstrips, offs))
    entries.append((277, 3, 1, [1]))
    entries.append((278, 4, 1, [rps]))
    entries.append((279, 4, nstrips, lens))
    entries.append((284, 3, 1, [1]))
    if pred == 2:
        entries.append((317, 3, 1, [pred]))
    entries.append((339, 3, 1, [sfmt]))
    if geotransform is not None:
        gt = geotransform
        entries.append((33550, 12, 3, [gt[1], -gt[5], 0.0]))
        entries.append((33922, 12, 6, [0.0, 0.0, 0.0,
                                       gt[0], gt[3], 0.0]))
    entries.sort()
    sizes = {3: 2, 4: 4, 12: 8}
    fmts = {3: "H", 4: "I", 12: "d"}
    ifd_off = 8
    n = len(entries)
    overflow_off = ifd_off + 2 + 12 * n + 4
    head = struct.pack("<2sHI", b"II", 42, ifd_off)
    ifd = struct.pack("<H", n)
    overflow = b""
    for tag, typ, cnt, vals in entries:
        total = sizes[typ] * cnt
        packed = struct.pack(f"<{cnt}{fmts[typ]}", *vals)
        if total <= 4:
            val_field = packed + b"\0" * (4 - total)
        else:
            val_field = struct.pack("<I", overflow_off + len(overflow))
            overflow += packed
        ifd += struct.pack("<HHI", tag, typ, cnt) + val_field
    ifd += struct.pack("<I", 0)  # next-IFD pointer
    return head + ifd + overflow


def write_strip_tiff(df, path: str, dtype="uint8", comp="deflate",
                     rps: int = 64, geotransform=None) -> dict:
    """Distributed strip-TIFF sink over the engine's pixel schema
    (single band). The scale-shaped half runs on executors: each
    strip's pixels shuffle once on strip id, the strip is assembled,
    predictor-2 differenced and compressed inside applyInPandas, and
    lands as one part file. The driver then writes header + IFD and
    streams the (already-compressed) strip bytes in order — driver
    work is O(n_strips) metadata plus a byte copy, never pixel math.
    Parts, the missing-strip check and the atomic final rename are
    sources/commit.py's, with its shared-filesystem contract.

    Reference analog: GTiff CreateCopy + TIFFWriteEncodedStrip
    (frmts/gtiff/geotiff.cpp); the strip layout mirrors what
    gdal_translate emits for a BAND-interleaved single-band raster.
    """
    import numpy as np
    from pyspark.sql import functions as F

    w, h = [(r["w"], r["h"]) for r in df.agg(
        (F.max("px") + 1).alias("w"),
        (F.max("py") + 1).alias("h")).collect()][0]
    w, h = int(w), int(h)
    nstrips = (h + rps - 1) // rps
    comp_id = {"none": 1, "deflate": 8, "lzw": 5,
               "packbits": 32773, "g4": 4}[comp]
    pred = 2 if comp in ("deflate", "lzw") \
        and np.dtype(dtype).kind != "f" else 1

    def one_strip(strip, pdf):
        y0 = strip * rps
        nrows = min(rps, h - y0)
        out_dt = np.dtype(dtype)
        block = np.zeros((nrows, w), dtype=out_dt)
        vals = pdf["value"].to_numpy()
        if out_dt.kind in "iu":
            # GDALCopyWords semantics: round half away from zero and
            # clamp to the output range — NOT numpy's C-cast
            # truncate-toward-zero / modulo wrap.
            info = np.iinfo(out_dt)
            vals = np.clip(np.where(vals >= 0, np.floor(vals + 0.5),
                                    np.ceil(vals - 0.5)),
                           info.min, info.max)
        block[pdf["py"].to_numpy() - y0,
              pdf["px"].to_numpy()] = vals
        payload = encode_strip(block, comp, pred)
        return {"strip": payload}, {"nbytes": len(payload),
                                    "rows": len(pdf)}

    with commit.parts_dir(path) as tmp_dir:
        # dense strip ids 0..k-1 with strip(max py) among them: k == nstrips
        report = commit.write_blocks(
            df, (F.col("py") / F.lit(rps)).cast("int"), tmp_dir, one_strip,
            "nbytes long, rows long")
        lens = [r["nbytes"] for r in report]
        header = _ifd_bytes(w, h, dtype, comp_id, pred, rps, lens,
                            data_start=0, geotransform=geotransform)
        header = _ifd_bytes(w, h, dtype, comp_id, pred, rps, lens,
                            data_start=len(header),
                            geotransform=geotransform)
        commit.atomic_write(path, itertools.chain(
            [header], commit.parts(tmp_dir, "strip", nstrips)))
    return {"path": path, "w": w, "h": h, "strips": nstrips,
            "bytes": len(header) + sum(lens),
            "rows": int(sum(r["rows"] for r in report))}
