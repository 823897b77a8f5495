"""Pure-Python Cloud-Optimized GeoTIFF codec (no GDAL, stdlib only).

The reference shells out to arcpy's CopyRaster for its GeoTIFF sink
with the ``CLOUD_OPTIMIZED_GEOTIFF`` config keyword
(copy_esrigrid…py:259–261); this image has no GDAL/arcpy, so the sink is
implemented directly against the public TIFF 6.0, GeoTIFF 1.1 and COG
specs. ``encode_cog`` writes little-endian float64 samples in internal
tiles (multiple-of-16 edge, default 512) with DEFLATE-compressed tile
data (TIFF compression 8, stdlib zlib), reduced-resolution overview IFDs
(NewSubfileType=1) built by nodata-aware block-mean, and ALL IFDs
serialized at the front of the file so an HTTP range reader learns the
complete tile layout from one small initial request; tile data follows,
coarsest overview first and full resolution last (GDAL's COG ordering).
Georeferencing is ModelPixelScale, ModelTiepoint and a GeoKeyDirectory
carrying the EPSG code; GDAL_NODATA (tag 42113) carries the nodata value
the way GDAL writes it. Any TIFF reader that understands tiled float64
grayscale (GDAL, rasterio, QGIS, tifffile) can open the output.

``decode_cog`` reads every level back for round-trip tests and for
re-ingesting our own artifacts; ``read_cog_tile`` takes a
``fetch(offset, size)`` callback and touches only the header walk plus
the one tile's byte range — the range-read property is pinned by test,
not just claimed.

Scale note: the codec is a per-row kernel — ``cli.run``'s packaging
kernel calls ``encode_cog`` once per product row inside Arrow-batched
``mapInPandas``, so encoding parallelizes per raster and never touches
the driver. Classic TIFF's 32-bit offsets cap one artifact at 4 GB;
``encode_cog`` auto-switches to BigTIFF (magic 43, 8-byte offsets,
LONG8 tile arrays — the same public spec GDAL emits past 4 GB) before
that ceiling, so mosaic-scale rasters can't produce a wrapped offset.
Both formats round-trip through the same readers.
"""

from __future__ import annotations

import struct
import zlib

_II = b"II"  # little-endian byte order mark
_MAGIC = 42

# TIFF 6.0 field types (+ BigTIFF's LONG8)
_T_SHORT, _T_LONG, _T_DOUBLE, _T_ASCII, _T_LONG8 = 3, 4, 12, 2, 16
_TYPE_SIZE = {_T_SHORT: 2, _T_LONG: 4, _T_DOUBLE: 8, _T_ASCII: 1, _T_LONG8: 8}
_TYPE_FMT = {_T_SHORT: "H", _T_LONG: "I", _T_DOUBLE: "d", _T_LONG8: "Q"}
_MAGIC_BIG = 43

# tags
_NEW_SUBFILE_TYPE = 254
_IMAGE_WIDTH, _IMAGE_LENGTH = 256, 257
_BITS_PER_SAMPLE, _COMPRESSION, _PHOTOMETRIC = 258, 259, 262
_SAMPLES_PER_PIXEL, _PLANAR_CONFIG, _SAMPLE_FORMAT = 277, 284, 339
_TILE_WIDTH, _TILE_LENGTH, _TILE_OFFSETS, _TILE_BYTE_COUNTS = 322, 323, 324, 325
_MODEL_PIXEL_SCALE, _MODEL_TIEPOINT = 33550, 33922
_GEO_KEY_DIRECTORY = 34735
_GDAL_NODATA = 42113

_COMP_NONE, _COMP_DEFLATE = 1, 8  # TIFF 6.0 / Adobe deflate
_REDUCED_RESOLUTION = 1  # NewSubfileType bit 0

# GeoKey ids
_GT_MODEL_TYPE, _GT_RASTER_TYPE = 1024, 1025
_GEOGRAPHIC_TYPE, _PROJECTED_CS_TYPE = 2048, 3072
_MODEL_PROJECTED, _MODEL_GEOGRAPHIC = 1, 2
_RASTER_PIXEL_IS_AREA = 1


def _epsg(crs: str | None) -> int:
    """'EPSG:27200' -> 27200; unknown/absent -> 32767 (user-defined)."""
    if crs and crs.upper().startswith("EPSG:"):
        try:
            return int(crs.split(":", 1)[1])
        except ValueError:
            pass
    return 32767


# --------------------------------------------------------------------------
# Cloud-Optimized GeoTIFF: tiled + overviews + deflate, IFDs at the front
# --------------------------------------------------------------------------


def block_mean_downsample(
    width: int,
    height: int,
    cells: list[float],
    nodata_value: float,
    factor: int = 2,
) -> tuple[int, int, list[float]]:
    """Pure-Python twin of operators.raster.downsample_block_mean: each
    output cell is the mean of its factor×factor block's non-nodata
    cells (row-major fold order, matching the JVM ``aggregate``
    expression bit-for-bit); all-nodata blocks stay nodata; edge blocks
    are partial. Equality with the DataFrame operator is pinned by
    test_raster.py so the COG overview pyramid built per-row here is
    THE SAME pyramid the distributed operator produces."""
    if factor < 2:
        raise ValueError("factor must be >= 2")
    nw = (width + factor - 1) // factor
    nh = (height + factor - 1) // factor
    out = []
    for br in range(nh):
        r0, r1 = br * factor, min(height, (br + 1) * factor)
        for bc in range(nw):
            c0, c1 = bc * factor, min(width, (bc + 1) * factor)
            acc, n = 0.0, 0
            for r in range(r0, r1):
                base = r * width
                for c in range(c0, c1):
                    v = cells[base + c]
                    if v != nodata_value:
                        acc += float(v)
                        n += 1
            out.append(acc / n if n else float(nodata_value))
    return nw, nh, out


def _tile_grid(width: int, height: int, tile_px: int) -> tuple[int, int]:
    return (width + tile_px - 1) // tile_px, (height + tile_px - 1) // tile_px


def _pack_tiles(
    width: int, height: int, cells: list[float], nodata: float,
    tile_px: int, compress: bool,
) -> list[bytes]:
    """Row-major tiles, each padded with nodata to tile_px×tile_px (the
    TIFF tile contract: every tile is full-size; readers crop by the
    image dims), deflate-compressed when asked. Padding is a repeated
    8-byte pattern, so it deflates to almost nothing."""
    ntx, nty = _tile_grid(width, height, tile_px)
    pad_row = struct.pack("<d", float(nodata)) * tile_px
    tiles = []
    for ty in range(nty):
        for tx in range(ntx):
            parts = []
            for dr in range(tile_px):
                r = ty * tile_px + dr
                if r >= height:
                    parts.append(pad_row)
                    continue
                c0 = tx * tile_px
                c1 = min(width, c0 + tile_px)
                row = struct.pack(f"<{c1 - c0}d", *cells[r * width + c0 : r * width + c1])
                if c1 - c0 < tile_px:
                    row += struct.pack("<d", float(nodata)) * (tile_px - (c1 - c0))
                parts.append(row)
            raw = b"".join(parts)
            tiles.append(zlib.compress(raw, 6) if compress else raw)
    return tiles


def _entry_payload(typ: int, values: list) -> tuple[bytes, int]:
    if typ == _T_ASCII:
        return values[0], len(values[0])
    return struct.pack(f"<{len(values)}{_TYPE_FMT[typ]}", *values), len(values)


# Classic TIFF vs BigTIFF (TIFF 6.0 supplement 2, public spec): BigTIFF
# uses magic 43, 8-byte offsets everywhere (header pointer, IFD entry
# count + next pointer, entry value/offset field), 20-byte entries, and
# the LONG8 (16) type for 64-bit tile offsets — lifting classic TIFF's
# 4 GB file ceiling, which is the difference between "one COG per tile
# row" and "one COG per continental mosaic" at the 100 TB design point.
def _hdr_size(big: bool) -> int:
    return 16 if big else 8

def _entry_size(big: bool) -> int:
    return 20 if big else 12

def _inline_max(big: bool) -> int:
    return 8 if big else 4

def _ifd_fixed(big: bool, n: int) -> int:
    # entry-count field + n entries + next-IFD pointer
    return (8 + n * 20 + 8) if big else (2 + n * 12 + 4)


def _ifd_block_size(entries: list[tuple[int, int, list]], big: bool = False) -> int:
    """Serialized size of one IFD + its external value area (payloads
    over the inline limit, each word-aligned). Depends only on counts,
    not values — so offsets can be assigned before values are final."""
    size = _ifd_fixed(big, len(entries))
    ext = 0
    for tag, typ, values in entries:
        payload, _ = _entry_payload(typ, values)
        if len(payload) > _inline_max(big):
            ext += ext % 2
            ext += len(payload)
    total = size + ext
    return total + total % 2  # blocks end word-aligned so IFD offsets stay even


def _ifd_block(
    entries: list[tuple[int, int, list]], off: int, next_off: int,
    big: bool = False,
) -> bytes:
    ext_off = off + _ifd_fixed(big, len(entries))
    ifd = struct.pack("<Q", len(entries)) if big else struct.pack("<H", len(entries))
    inline = _inline_max(big)
    entry_hdr = "<HHQ" if big else "<HHI"
    off_fmt = "<Q" if big else "<I"
    ext = b""
    for tag, typ, values in entries:
        payload, count = _entry_payload(typ, values)
        if len(payload) <= inline:
            value_field = payload.ljust(inline, b"\x00")
        else:
            if (ext_off + len(ext)) % 2:
                ext += b"\x00"
            value_field = struct.pack(off_fmt, ext_off + len(ext))
            ext += payload
        ifd += struct.pack(entry_hdr, tag, typ, count) + value_field
    ifd += struct.pack(off_fmt, next_off)
    block = ifd + ext
    if len(block) % 2:
        block += b"\x00"
    return block


def _geo_entries(
    xllcorner: float, ytop: float,
    cellsize: float, nodata_value: float, crs: str | None,
) -> list[tuple[int, int, list]]:
    """Georeferencing tags anchored at the raster's TOP-LEFT corner.

    ``ytop`` is passed in (not derived from this level's dims): every
    pyramid level shares the full-resolution top edge, because
    block-mean blocks anchor at row 0 — an overview with an odd parent
    dimension extends PAST the bottom edge, never past the top. Deriving
    ytop per level (yll + lh·lcs) shifted odd-dimension overviews one
    source cell north (review finding)."""
    epsg = _epsg(crs)
    model_type = _MODEL_GEOGRAPHIC if 4000 <= epsg < 5000 else _MODEL_PROJECTED
    cs_key = _GEOGRAPHIC_TYPE if model_type == _MODEL_GEOGRAPHIC else _PROJECTED_CS_TYPE
    geo_keys = [
        1, 1, 0, 3,
        _GT_MODEL_TYPE, 0, 1, model_type,
        _GT_RASTER_TYPE, 0, 1, _RASTER_PIXEL_IS_AREA,
        cs_key, 0, 1, epsg,
    ]
    return [
        (_MODEL_PIXEL_SCALE, _T_DOUBLE, [float(cellsize), float(cellsize), 0.0]),
        (_MODEL_TIEPOINT, _T_DOUBLE,
         [0.0, 0.0, 0.0, float(xllcorner), float(ytop), 0.0]),
        (_GEO_KEY_DIRECTORY, _T_SHORT, geo_keys),
        (_GDAL_NODATA, _T_ASCII,
         [repr(float(nodata_value)).encode("ascii") + b"\x00"]),
    ]


def encode_cog(
    width: int,
    height: int,
    xllcorner: float,
    yllcorner: float,
    cellsize: float,
    nodata_value: float,
    crs: str | None,
    cells: list[float],
    tile_px: int | None = None,
    levels: int | None = None,
    compress: bool = True,
    bigtiff: bool | None = None,
) -> bytes:
    """Encode one raster as a Cloud-Optimized GeoTIFF (REF:259–261's
    CLOUD_OPTIMIZED_GEOTIFF keyword, honored structurally):

    - internal tiles (``tile_px`` edge, multiple of 16 per TIFF 6.0)
      with per-tile DEFLATE (compression 8) so nodata padding is
      cheap; ``tile_px=None`` auto-sizes to min(512, the smallest
      multiple of 16 covering the image) — a 10×10 clipped grid gets
      one 16×16 tile, not a 512×512 pad-and-deflate (a reader would
      otherwise inflate 2 MB to fetch 800 bytes);
    - overview pyramid: ``levels`` reduced-resolution IFDs
      (NewSubfileType=1), factor-2 nodata-aware block-mean
      (:func:`block_mean_downsample`, the tested twin of
      operators.raster.downsample_block_mean); ``levels=None`` halves
      until one tile holds the image (minimum 1 level);
    - ALL IFDs serialized directly after the header, full-res first,
      so one small range request yields the complete tile layout; tile
      data follows, coarsest overview first and full resolution LAST
      (GDAL's COG ordering — zoomed-out reads touch the front of the
      file);
    - ``bigtiff``: classic TIFF's 32-bit offsets cap a file at 4 GB.
      True writes BigTIFF (magic 43, 8-byte offsets, LONG8 tile
      arrays — the format GDAL emits as COG past 4 GB); None
      auto-selects BigTIFF by sizing the ACTUAL classic layout (IFD
      blocks + aligned tile data) against the 32-bit ceiling, so a
      mosaic-scale raster can never produce a silently-corrupt
      wrapped offset — including the tile-heavy case where the IFD
      region itself is megabytes of offset arrays.

    Any float64-capable TIFF reader (GDAL, rasterio, tifffile, QGIS)
    opens either format; :func:`read_cog_tile` proves the range-read
    property with a fetch-callback reader."""
    if tile_px is None:
        tile_px = max(16, min(512, ((max(width, height, 1) + 15) // 16) * 16))
    if tile_px % 16 or tile_px <= 0:
        raise ValueError(f"tile_px must be a positive multiple of 16, got {tile_px}")
    if len(cells) != width * height:
        raise ValueError(
            f"cells length {len(cells)} != width*height {width * height}"
        )

    # ---- overview pyramid (finest -> coarsest) ----
    pyramid: list[tuple[int, int, float, list[float]]] = []
    w, h, cs, cv = width, height, float(cellsize), cells
    n_levels = 0
    while True:
        if levels is None:
            if n_levels >= 1 and max(w, h) <= tile_px:
                break
            if max(w, h) <= 1:
                break
        elif n_levels >= levels:
            break
        w, h, cv = block_mean_downsample(w, h, cv, nodata_value, 2)
        cs *= 2.0
        pyramid.append((w, h, cs, cv))
        n_levels += 1

    comp = _COMP_DEFLATE if compress else _COMP_NONE
    all_levels = [(width, height, float(cellsize), cells)] + pyramid
    tiles_per_level = [
        _pack_tiles(lw, lh, lcv, nodata_value, tile_px, compress)
        for (lw, lh, _, lcv) in all_levels
    ]

    # every pyramid level shares the full-resolution TOP edge (see
    # _geo_entries: block-mean overviews anchor at row 0)
    ytop0 = float(yllcorner) + height * float(cellsize)

    # ---- IFD entries per level (offsets filled in below) ----
    def entries_for(level: int, big: bool) -> list[tuple[int, int, list]]:
        lw, lh, lcs, _ = all_levels[level]
        ntiles = len(tiles_per_level[level])
        off_type = _T_LONG8 if big else _T_LONG
        ent = [
            (_NEW_SUBFILE_TYPE, _T_LONG,
             [_REDUCED_RESOLUTION if level else 0]),
            (_IMAGE_WIDTH, _T_LONG, [lw]),
            (_IMAGE_LENGTH, _T_LONG, [lh]),
            (_BITS_PER_SAMPLE, _T_SHORT, [64]),
            (_COMPRESSION, _T_SHORT, [comp]),
            (_PHOTOMETRIC, _T_SHORT, [1]),
            (_SAMPLES_PER_PIXEL, _T_SHORT, [1]),
            (_PLANAR_CONFIG, _T_SHORT, [1]),
            (_TILE_WIDTH, _T_LONG, [tile_px]),
            (_TILE_LENGTH, _T_LONG, [tile_px]),
            (_TILE_OFFSETS, off_type, [0] * ntiles),
            (_TILE_BYTE_COUNTS, off_type,
             [len(t) for t in tiles_per_level[level]]),
            (_SAMPLE_FORMAT, _T_SHORT, [3]),
        ]
        # georeferencing on every IFD (each level has its own scale,
        # all share ytop0)
        ent += _geo_entries(xllcorner, ytop0, lcs, nodata_value, crs)
        ent.sort(key=lambda e: e[0])
        return ent

    def layout(big: bool):
        level_entries = [
            entries_for(i, big) for i in range(len(all_levels))
        ]
        block_sizes = [_ifd_block_size(e, big) for e in level_entries]
        ifd_offsets = []
        off = _hdr_size(big)
        for s in block_sizes:
            ifd_offsets.append(off)
            off += s
        data_start = off + (off % 2)
        # exact end-of-file bound: aligned tile data after the IFDs,
        # walked in the WRITE order (coarsest overview first — level
        # order would misplace the per-tile alignment pads for
        # odd-length deflate tiles and under-count the true end)
        end = data_start
        for lvl in range(len(tiles_per_level) - 1, -1, -1):
            for t in tiles_per_level[lvl]:
                end += end % 2
                end += len(t)
        return level_entries, block_sizes, ifd_offsets, data_start, end

    if bigtiff is None:
        # auto: size the ACTUAL classic layout (IFD offset arrays grow
        # with tile count, so a fixed margin under-counts tile-heavy
        # files); switch when any offset could exceed 32 bits
        lay = layout(False)
        bigtiff = lay[4] >= (1 << 32)
    else:
        lay = None
    big = bool(bigtiff)
    if lay is None or big:
        lay = layout(big)  # reuse the classic sizing pass when it won
    level_entries, block_sizes, ifd_offsets, data_start, _ = lay

    # ---- tile data offsets: coarsest overview first, level 0 LAST ----
    data_order = list(range(len(all_levels) - 1, -1, -1))
    tile_offsets: dict[int, list[int]] = {}
    pos = data_start
    for lvl in data_order:
        offs = []
        for t in tiles_per_level[lvl]:
            pos += pos % 2
            offs.append(pos)
            pos += len(t)
        tile_offsets[lvl] = offs

    for lvl, ent in enumerate(level_entries):
        for i, (tag, typ, values) in enumerate(ent):
            if tag == _TILE_OFFSETS:
                ent[i] = (tag, typ, tile_offsets[lvl])

    # ---- serialize: header, IFD chain, tile data region ----
    if big:
        header = _II + struct.pack("<HHHQ", _MAGIC_BIG, 8, 0, ifd_offsets[0])
    else:
        header = _II + struct.pack("<HI", _MAGIC, ifd_offsets[0])
    out = [header]
    for lvl, ent in enumerate(level_entries):
        next_off = ifd_offsets[lvl + 1] if lvl + 1 < len(level_entries) else 0
        out.append(_ifd_block(ent, ifd_offsets[lvl], next_off, big))
    written = _hdr_size(big) + sum(block_sizes)
    if written % 2:
        out.append(b"\x00")
        written += 1
    for lvl in data_order:
        for toff, t in zip(tile_offsets[lvl], tiles_per_level[lvl]):
            if written % 2:
                out.append(b"\x00")
                written += 1
            assert written == toff
            out.append(t)
            written += len(t)
    return b"".join(out)


def _read_ifd_at(fetch, off: int, big: bool = False) -> tuple[dict[int, list], int]:
    """Parse one IFD (classic or BigTIFF layout) through a
    fetch(offset, size) callback, pulling external value areas with
    targeted range reads only."""
    esz, inline = _entry_size(big), _inline_max(big)
    if big:
        (n,) = struct.unpack("<Q", fetch(off, 8))
        body = fetch(off + 8, n * esz + 8)
    else:
        (n,) = struct.unpack("<H", fetch(off, 2))
        body = fetch(off + 2, n * esz + 4)
    entry_hdr = "<HHQ" if big else "<HHI"
    off_fmt = "<Q" if big else "<I"
    val_at = 12 if big else 8
    tags: dict[int, list] = {}
    for i in range(n):
        tag, typ, count = struct.unpack_from(entry_hdr, body, i * esz)
        size = _TYPE_SIZE[typ] * count
        if size <= inline:
            raw = body[i * esz + val_at : i * esz + val_at + size]
        else:
            (voff,) = struct.unpack_from(off_fmt, body, i * esz + val_at)
            raw = fetch(voff, size)
        if typ == _T_ASCII:
            tags[tag] = [raw.rstrip(b"\x00").decode("ascii")]
        else:
            tags[tag] = list(struct.unpack(f"<{count}{_TYPE_FMT[typ]}", raw))
    (next_off,) = struct.unpack_from(off_fmt, body, n * esz)
    return tags, next_off


def _as_fetch(src):
    if callable(src):
        return src
    blob = src

    def fetch(off: int, size: int) -> bytes:
        return blob[off : off + size]

    return fetch


def cog_ifds(src) -> list[dict[int, list]]:
    """Walk the IFD chain (bytes or fetch-callback source, classic or
    BigTIFF) and return the raw tag dicts, level 0 first. With the COG
    layout all reads land in the first few KB of the file."""
    fetch = _as_fetch(src)
    head = fetch(0, 16)
    if head[:2] != _II:
        raise ValueError("not a little-endian TIFF")
    magic = struct.unpack_from("<H", head, 2)[0]
    if magic == _MAGIC:
        big = False
        (off,) = struct.unpack_from("<I", head, 4)
    elif magic == _MAGIC_BIG:
        big = True
        osize, zero = struct.unpack_from("<HH", head, 4)
        if osize != 8 or zero != 0:
            raise ValueError(f"unsupported BigTIFF header ({osize}, {zero})")
        (off,) = struct.unpack_from("<Q", head, 8)
    else:
        raise ValueError(f"not a TIFF (magic {magic})")
    out = []
    while off:
        tags, off = _read_ifd_at(fetch, off, big)
        out.append(tags)
    return out


def _decompress_tile(raw: bytes, comp: int) -> bytes:
    if comp == _COMP_DEFLATE:
        return zlib.decompress(raw)
    if comp == _COMP_NONE:
        return raw
    raise ValueError(f"unsupported compression {comp}")


def read_cog_tile(src, level: int, tile_row: int, tile_col: int) -> dict:
    """Read ONE tile of a COG through targeted range reads: the IFD
    walk (front of file) plus exactly one fetch for the tile's byte
    range. ``src`` is bytes or a ``fetch(offset, size) -> bytes``
    callback (an HTTP range GET in production). Returns the tile
    cropped to the image's valid region."""
    fetch = _as_fetch(src)
    ifds = cog_ifds(fetch)
    tags = ifds[level]
    width, height = tags[_IMAGE_WIDTH][0], tags[_IMAGE_LENGTH][0]
    tile_px = tags[_TILE_WIDTH][0]
    ntx, nty = _tile_grid(width, height, tile_px)
    if not (0 <= tile_row < nty and 0 <= tile_col < ntx):
        raise IndexError(f"tile ({tile_row},{tile_col}) outside {nty}x{ntx} grid")
    idx = tile_row * ntx + tile_col
    raw = fetch(tags[_TILE_OFFSETS][idx], tags[_TILE_BYTE_COUNTS][idx])
    data = _decompress_tile(raw, tags.get(_COMPRESSION, [1])[0])
    full = struct.unpack(f"<{tile_px * tile_px}d", data)
    vw = min(tile_px, width - tile_col * tile_px)
    vh = min(tile_px, height - tile_row * tile_px)
    cells = []
    for r in range(vh):
        cells.extend(full[r * tile_px : r * tile_px + vw])
    return {"width": vw, "height": vh, "cells": cells, "tile_px": tile_px}


def decode_cog(blob: bytes) -> dict:
    """Decode a COG produced by :func:`encode_cog`: level 0 plus every
    overview, tiles reassembled and cropped, as a raster-struct dict
    (with ``crs``) plus an ``overviews`` list."""
    ifds = cog_ifds(blob)
    levels = []
    for tags in ifds:
        width, height = tags[_IMAGE_WIDTH][0], tags[_IMAGE_LENGTH][0]
        tile_px = tags[_TILE_WIDTH][0]
        comp = tags.get(_COMPRESSION, [1])[0]
        ntx, nty = _tile_grid(width, height, tile_px)
        cells = [0.0] * (width * height)
        for ty in range(nty):
            for tx in range(ntx):
                idx = ty * ntx + tx
                raw = blob[
                    tags[_TILE_OFFSETS][idx]
                    : tags[_TILE_OFFSETS][idx] + tags[_TILE_BYTE_COUNTS][idx]
                ]
                tile = struct.unpack(
                    f"<{tile_px * tile_px}d", _decompress_tile(raw, comp)
                )
                vw = min(tile_px, width - tx * tile_px)
                vh = min(tile_px, height - ty * tile_px)
                for r in range(vh):
                    dst = (ty * tile_px + r) * width + tx * tile_px
                    cells[dst : dst + vw] = tile[r * tile_px : r * tile_px + vw]
        cellsize = tags[_MODEL_PIXEL_SCALE][0]
        ytop = tags[_MODEL_TIEPOINT][4]
        levels.append(
            {
                "width": width,
                "height": height,
                "cellsize": cellsize,
                "xllcorner": tags[_MODEL_TIEPOINT][3],
                "yllcorner": ytop - height * cellsize,
                "nodata_value": float(tags.get(_GDAL_NODATA, ["nan"])[0]),
                "cells": cells,
                "tile_px": tile_px,
                "reduced_resolution": bool(
                    tags.get(_NEW_SUBFILE_TYPE, [0])[0] & _REDUCED_RESOLUTION
                ),
            }
        )
    keys = ifds[0].get(_GEO_KEY_DIRECTORY, [])
    epsg = 32767
    for k in range(4, len(keys), 4):
        kid, _, _, val = keys[k : k + 4]
        if kid in (_GEOGRAPHIC_TYPE, _PROJECTED_CS_TYPE):
            epsg = val
    base = dict(levels[0])
    base["crs"] = f"EPSG:{epsg}" if epsg != 32767 else None
    base["overviews"] = levels[1:]
    return base
