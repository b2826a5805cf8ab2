"""Minimal GeoTIFF and shapefile writers for the benchmark's inputs.

The benchmark writes its own files instead of calling the engine's
writers, so the inputs are a function of the seed alone: a change to
the engine's codecs cannot change what both commits of a comparison
read, and the oracle knows the true pixel arrays without decoding.

GeoTIFF: classic little-endian TIFF, one float32 band, strip or tile
layout, no compression / DEFLATE / LZW (TIFF 6.0 section 13, MSB-first
codes with the usual "early change"), GDAL nodata tag.

Shapefile: polygon (type 5) .shp with .shx index and a dBase III .dbf;
one record may hold several outer rings (a multi-part county).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

COMP_NONE, COMP_LZW, COMP_DEFLATE = 1, 5, 8

# TIFF field types
_SHORT, _LONG, _DOUBLE, _ASCII = 3, 4, 12, 2
_FMT = {_SHORT: "H", _LONG: "I", _DOUBLE: "d"}


def lzw_encode(src: bytes) -> bytes:
    """TIFF LZW: Clear=256, EOI=257, 9- to 12-bit codes, widening when
    the next free code reaches 2**width (the decoder, one entry behind,
    widens at 2**width - 1), Clear again before the table overflows."""
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    table = {bytes([i]): i for i in range(256)}
    free, width = 258, 9
    put(clear, width)
    prefix = b""
    for b in src:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        put(table[prefix], width)
        table[cand] = free
        free += 1
        if free == 4094:
            put(clear, width)
            table = {bytes([i]): i for i in range(256)}
            free, width = 258, 9
        elif free == (1 << width) and width < 12:
            width += 1
        prefix = bytes([b])
    if prefix:
        put(table[prefix], width)
    put(eoi, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _compress(raw: bytes, compression: int) -> bytes:
    if compression == COMP_NONE:
        return raw
    if compression == COMP_DEFLATE:
        return zlib.compress(raw, 6)
    if compression == COMP_LZW:
        return lzw_encode(raw)
    raise ValueError(f"unsupported compression {compression}")


def write_geotiff(
    path: str,
    arr: np.ndarray,
    nodata: float,
    compression: int = COMP_NONE,
    rows_per_strip: int | None = None,
    tile: int | None = None,
) -> None:
    """Write a float32 single-band GeoTIFF; ``tile`` (a multiple of 16)
    selects the tiled layout, else strips of ``rows_per_strip`` rows."""
    a = np.ascontiguousarray(arr, dtype="<f4")
    h, w = a.shape
    blocks: list[bytes] = []
    if tile:
        for ty in range(0, h, tile):
            for tx in range(0, w, tile):
                t = np.zeros((tile, tile), dtype="<f4")
                part = a[ty : ty + tile, tx : tx + tile]
                t[: part.shape[0], : part.shape[1]] = part
                blocks.append(_compress(t.tobytes(), compression))
    else:
        rps = rows_per_strip or h
        for y0 in range(0, h, rps):
            blocks.append(_compress(a[y0 : y0 + rps].tobytes(), compression))

    tags: list[tuple[int, int, tuple]] = [
        (256, _LONG, (w,)),
        (257, _LONG, (h,)),
        (258, _SHORT, (32,)),
        (259, _SHORT, (compression,)),
        (262, _SHORT, (1,)),
        (277, _SHORT, (1,)),
        (284, _SHORT, (1,)),
        (339, _SHORT, (3,)),
        (33550, _DOUBLE, (1.0, 1.0, 0.0)),
        (33922, _DOUBLE, (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
        (42113, _ASCII, (repr(float(nodata)),)),
    ]
    counts = tuple(len(b) for b in blocks)
    if tile:
        tags += [(322, _SHORT, (tile,)), (323, _SHORT, (tile,)), (325, _LONG, counts)]
        off_tag = 324
    else:
        tags += [(278, _LONG, (rps,)), (279, _LONG, counts)]
        off_tag = 273

    # layout: header | pixel blocks | out-of-line tag values | IFD
    data = bytearray(b"II*\0" + struct.pack("<I", 0))
    offsets = []
    for b in blocks:
        offsets.append(len(data))
        data += b
    tags.append((off_tag, _LONG, tuple(offsets)))
    tags.sort(key=lambda t: t[0])

    entries = []
    for tag, typ, vals in tags:
        if typ == _ASCII:
            payload = vals[0].encode("ascii") + b"\0"
            count = len(payload)
        else:
            payload = struct.pack(f"<{len(vals)}{_FMT[typ]}", *vals)
            count = len(vals)
        if len(payload) <= 4:
            entries.append(struct.pack("<HHI", tag, typ, count) + payload.ljust(4, b"\0"))
        else:
            if len(data) % 2:
                data += b"\0"
            entries.append(struct.pack("<HHII", tag, typ, count, len(data)))
            data += payload
    if len(data) % 2:
        data += b"\0"
    ifd_off = len(data)
    data += struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", 0)
    struct.pack_into("<I", data, 4, ifd_off)
    with open(path, "wb") as f:
        f.write(bytes(data))


def _signed_area2(ring: list[tuple[float, float]]) -> float:
    return sum(
        x0 * y1 - x1 * y0
        for (x0, y0), (x1, y1) in zip(ring, ring[1:] + ring[:1])
    )


def write_shapefile(
    base: str,
    records: list[list[list[tuple[float, float]]]],
    fields: list[tuple[str, str, int]],
    rows: list[dict],
) -> None:
    """Write ``base``.shp/.shx/.dbf. ``records[i]`` is a list of outer
    rings (open, any winding; written clockwise and closed);
    ``fields`` are (name, 'C' or 'N', width) dBase descriptors."""
    contents = []
    for rings in records:
        parts, pts = [], []
        for ring in rings:
            r = list(ring)
            if _signed_area2(r) > 0:
                r = r[::-1]
            parts.append(len(pts))
            pts.extend(r + r[:1])
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        c = struct.pack("<i4d", 5, min(xs), min(ys), max(xs), max(ys))
        c += struct.pack("<ii", len(parts), len(pts))
        c += struct.pack(f"<{len(parts)}i", *parts)
        c += b"".join(struct.pack("<2d", x, y) for x, y in pts)
        contents.append(c)

    all_x = [p[0] for rings in records for r in rings for p in r]
    all_y = [p[1] for rings in records for r in rings for p in r]

    def header(n_bytes: int) -> bytes:
        return (
            struct.pack(">7i", 9994, 0, 0, 0, 0, 0, n_bytes // 2)
            + struct.pack("<2i", 1000, 5)
            + struct.pack("<8d", min(all_x), min(all_y), max(all_x), max(all_y), 0, 0, 0, 0)
        )

    shp = bytearray()
    shx = bytearray()
    off = 100
    for i, c in enumerate(contents):
        shx += struct.pack(">2i", off // 2, len(c) // 2)
        shp += struct.pack(">2i", i + 1, len(c) // 2) + c
        off += 8 + len(c)
    with open(base + ".shp", "wb") as f:
        f.write(header(100 + len(shp)) + shp)
    with open(base + ".shx", "wb") as f:
        f.write(header(100 + len(shx)) + shx)

    rec_len = 1 + sum(w for _, _, w in fields)
    hdr_len = 32 + 32 * len(fields) + 1
    dbf = bytearray(struct.pack("<4BIHH20x", 3, 126, 1, 1, len(rows), hdr_len, rec_len))
    for name, typ, width in fields:
        dbf += struct.pack("<11sc4xBB14x", name.encode("ascii"), typ.encode("ascii"), width, 0)
    dbf += b"\r"
    for row in rows:
        dbf += b" "
        for name, typ, width in fields:
            v = str(row[name])
            cell = v.rjust(width) if typ == "N" else v.ljust(width)
            dbf += cell.encode("ascii")[:width]
    dbf += b"\x1a"
    with open(base + ".dbf", "wb") as f:
        f.write(bytes(dbf))
