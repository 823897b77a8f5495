"""NZGD1949 → NZGD2000 datum shift: NTv2 grid hook + no-grid fallback.

The reference requests the NTv2 grid-shift transformation
``New_Zealand_1949_To_NZGD_2000_3_NTv2`` when projecting to NZTM2000
(copy_esrigrid…py:301). The grid file (``nzgd2kgrid0005.gsb``, published
by LINZ) is not shipped in this image, so the shift is PLUGGABLE:

- :func:`parse_ntv2` reads the public NTv2 ``.gsb`` binary format
  (Canadian NTv2 spec: 11 header records + per-subgrid headers of
  16-byte keyword/value pairs, then float32 (lat_shift, lon_shift,
  lat_acc, lon_acc) records in arc-seconds, longitudes positive WEST).
- :class:`NTv2Grid.shift` applies the shift by bilinear interpolation —
  the interpolation the NTv2 spec mandates.
- :func:`nzgd1949_to_nzgd2000` uses a grid when given one, else falls
  back to the published 3-parameter geocentric translation
  (tx, ty, tz) = (54.4, -20.1, 183.1) m — LINZ's documented NZGD1949→
  NZGD2000 Bursa-Wolf values, accurate to ~2–4 m nationally vs ~0.1–1 m
  for the grid. tests/test_geometry_functions.py pins that tolerance.

Everything here is vectorized numpy on coordinate arrays; the entry
point is ``geometry.lonlat_to_nztm(..., datum_shift=...)``, which runs
per Arrow batch when called inside a pandas UDF — no driver work.
"""

from __future__ import annotations

import os
import struct
from typing import Literal

import numpy as np

# International 1924 (Hayford) ellipsoid — NZGD1949's datum ellipsoid
_INTL_A = 6378388.0
_INTL_F = 1.0 / 297.0
# GRS80 — NZGD2000's ellipsoid
_GRS80_A = 6378137.0
_GRS80_F = 1.0 / 298.257222101

# LINZ-published NZGD1949 -> NZGD2000 3-parameter geocentric translation
NZGD1949_TO_NZGD2000_TXYZ = (54.4, -20.1, 183.1)
# documented national accuracy of the 3-param fallback vs the NTv2 grid
FALLBACK_TOLERANCE_M = 4.0


def _geodetic_to_xyz(lon_deg, lat_deg, a, f):
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    e2 = f * (2 - f)
    nu = a / np.sqrt(1 - e2 * np.sin(lat) ** 2)
    x = nu * np.cos(lat) * np.cos(lon)
    y = nu * np.cos(lat) * np.sin(lon)
    z = nu * (1 - e2) * np.sin(lat)
    return x, y, z


def _xyz_to_geodetic(x, y, z, a, f):
    e2 = f * (2 - f)
    lon = np.arctan2(y, x)
    p = np.hypot(x, y)
    lat = np.arctan2(z, p * (1 - e2))  # first guess
    for _ in range(5):  # converges to <1e-12 rad in 3-4 iterations
        nu = a / np.sqrt(1 - e2 * np.sin(lat) ** 2)
        lat = np.arctan2(z + e2 * nu * np.sin(lat), p)
    return np.degrees(lon), np.degrees(lat)


# Grid resolution order (first parseable wins):
#   1. $SPARK_GRAFT_NTV2_GRID — operator-provided path (cluster deploys
#      point this at the production grid on shared storage);
#   2. data/nzgd2kgrid0005.gsb — the real LINZ-published grid, placed by
#      the build-time fetch hook (tools/fetch_linz_grid.py);
#   3. data/nz_nzgd49_nzgd2000_synth.gsb — the shipped synthetic fixture
#      (built by tools/make_nz_grid.py from the 3-param transform
#      sampled at the nodes), so the pipeline is runnable offline.
_ENV_GRID = "SPARK_GRAFT_NTV2_GRID"
_DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data")
_REAL_GRID_PATH = os.path.join(_DATA_DIR, "nzgd2kgrid0005.gsb")
_DEFAULT_GRID_PATH = os.path.join(_DATA_DIR, "nz_nzgd49_nzgd2000_synth.gsb")
_default_grid_cache: list = []  # [] = unloaded, [grid] = loaded


def grid_search_paths() -> list[str]:
    """Candidate ``.gsb`` paths in priority order (env override → real
    LINZ grid → synthetic fixture)."""
    paths = []
    env = os.environ.get(_ENV_GRID)
    if env:
        paths.append(env)
    paths.append(_REAL_GRID_PATH)
    paths.append(_DEFAULT_GRID_PATH)
    return paths


def default_nz_grid() -> "NTv2Grid | None":
    """Lazily parse the first resolvable NZ ``.gsb`` from
    :func:`grid_search_paths` (None if every candidate is absent).
    Parsed once per process; executors each pay one ~50 KB parse, not
    one per batch. Unparseable *default* candidates are skipped, not
    fatal — a corrupt download must not take out the synthetic
    fallback. But an explicit ``$SPARK_GRAFT_NTV2_GRID`` override that
    is missing or unparseable RAISES: the operator asked for that grid
    by name, and silently degrading to the fallback would ship wrong
    datum accuracy with no signal."""
    if not _default_grid_cache:
        env = os.environ.get(_ENV_GRID)
        for path in grid_search_paths():
            try:
                with open(path, "rb") as f:
                    _default_grid_cache.append(parse_ntv2(f.read()))
                break
            except (OSError, ValueError) as exc:
                if env and path == env:
                    raise ValueError(
                        f"{_ENV_GRID}={env!r} is set but the grid could"
                        f" not be read/parsed: {exc}"
                    ) from exc
                continue
        else:
            # Do NOT cache the miss: a grid can be generated/fetched
            # later in the same process (tools/make_nz_grid.py,
            # tools/fetch_linz_grid.py), and a process-lifetime None
            # would silently pin the 3-parameter fallback forever
            # after one early call.
            return None
    return _default_grid_cache[0]


def _three_param_shift(lon, lat):
    tx, ty, tz = NZGD1949_TO_NZGD2000_TXYZ
    x, y, z = _geodetic_to_xyz(lon, lat, _INTL_A, _INTL_F)
    return _xyz_to_geodetic(x + tx, y + ty, z + tz, _GRS80_A, _GRS80_F)


def nzgd1949_to_nzgd2000(
    lon, lat, grid: "NTv2Grid | None | Literal[False]" = None
):
    """Datum shift NZGD1949 → NZGD2000 on (lon, lat) degree arrays.

    Grid resolution order (the reference's exact request is the NTv2
    path, REF:301):

    - ``grid=None`` (default): use the shipped NZ grid fixture when
      present — NTv2 bilinear interpolation inside the grid window,
      3-parameter geocentric fallback for points outside it.
    - ``grid=<NTv2Grid>``: that grid (same inside/outside blend).
    - ``grid=False``: force the pure 3-parameter fallback —
      International 1924 geodetic → XYZ, +(tx,ty,tz), → GRS80 geodetic —
      within :data:`FALLBACK_TOLERANCE_M` of the grid path nationally.
    """
    if grid is True:
        raise TypeError(
            "grid=True is not a mode: pass an NTv2Grid instance, None "
            "(use the shipped default grid), or False (force the "
            "3-parameter fallback)"
        )
    if grid is None:
        grid = default_nz_grid()
    if grid is None or grid is False:
        return _three_param_shift(lon, lat)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    glon, glat = grid.shift(lon, lat)
    inside = grid.contains(lon, lat)
    if bool(np.all(inside)):
        return glon, glat
    flon, flat = _three_param_shift(lon, lat)
    return np.where(inside, glon, flon), np.where(inside, glat, flat)


class NTv2Grid:
    """One NTv2 sub-grid of (lat, lon) shifts in arc-seconds.

    NTv2 convention: rows run south→north, columns run east→west in
    POSITIVE-WEST longitude; shifts are ADDED to NZGD1949 coordinates to
    obtain NZGD2000."""

    def __init__(
        self,
        s_lat: float, n_lat: float, e_long: float, w_long: float,
        lat_inc: float, long_inc: float,
        lat_shift: np.ndarray, lon_shift: np.ndarray,
    ):
        self.s_lat, self.n_lat = s_lat, n_lat
        self.e_long, self.w_long = e_long, w_long  # positive west
        self.lat_inc, self.long_inc = lat_inc, long_inc
        self.nrows = int(round((n_lat - s_lat) / lat_inc)) + 1
        self.ncols = int(round((w_long - e_long) / long_inc)) + 1
        self.lat_shift = np.asarray(lat_shift, dtype=np.float64).reshape(
            self.nrows, self.ncols
        )
        self.lon_shift = np.asarray(lon_shift, dtype=np.float64).reshape(
            self.nrows, self.ncols
        )

    def contains(self, lon, lat):
        """Boolean mask: which east-positive (lon, lat) degree points
        fall inside the grid window."""
        lon_w = -np.asarray(lon, dtype=np.float64) * 3600.0
        lat_s = np.asarray(lat, dtype=np.float64) * 3600.0
        return (
            (lat_s >= self.s_lat) & (lat_s <= self.n_lat)
            & (lon_w >= self.e_long) & (lon_w <= self.w_long)
        )

    def shift(self, lon, lat):
        """Bilinear-interpolate the shift at (lon, lat) degrees
        (east-positive) and apply it. Points outside the grid pass
        through unshifted (the spec's fall-off behavior for a single
        sub-grid)."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        lon_w = -lon * 3600.0  # east-positive deg -> positive-west sec
        lat_s = lat * 3600.0
        fr = (lat_s - self.s_lat) / self.lat_inc
        fc = (lon_w - self.e_long) / self.long_inc
        inside = (fr >= 0) & (fr <= self.nrows - 1) & (fc >= 0) & (
            fc <= self.ncols - 1
        )
        r0 = np.clip(np.floor(fr).astype(int), 0, self.nrows - 2)
        c0 = np.clip(np.floor(fc).astype(int), 0, self.ncols - 2)
        dr = np.clip(fr - r0, 0.0, 1.0)
        dc = np.clip(fc - c0, 0.0, 1.0)

        def interp(g):
            return (
                g[r0, c0] * (1 - dr) * (1 - dc)
                + g[r0 + 1, c0] * dr * (1 - dc)
                + g[r0, c0 + 1] * (1 - dr) * dc
                + g[r0 + 1, c0 + 1] * dr * dc
            )

        dlat = np.where(inside, interp(self.lat_shift), 0.0)
        dlon_w = np.where(inside, interp(self.lon_shift), 0.0)
        # positive-west shift seconds -> east-positive degrees
        return lon - dlon_w / 3600.0, lat + dlat / 3600.0


def _records(data: bytes):
    """NTv2 file = sequence of 16-byte records: 8-byte ASCII keyword +
    8-byte value (ASCII, int32+pad, or float64 depending on keyword)."""
    off = 0
    while off + 16 <= len(data):
        yield data[off : off + 8].decode("ascii", "replace").strip(), data[
            off + 8 : off + 16
        ]
        off += 16


def parse_ntv2(data: bytes) -> NTv2Grid:
    """Parse a (single-subgrid) NTv2 ``.gsb`` byte string. Multi-subgrid
    files take the FIRST subgrid (national parent grid — the LINZ NZ
    file is single-subgrid)."""
    it = _records(data)
    header: dict[str, bytes] = {}
    for key, val in it:
        header[key] = val
        if key == "END" or len(header) >= 11:
            break
    sub: dict[str, bytes] = {}
    for key, val in it:
        sub[key] = val
        if key == "GS_COUNT":
            break

    def f8(d: dict, k: str) -> float:
        return struct.unpack("<d", d[k])[0]

    required = {"S_LAT", "N_LAT", "E_LONG", "W_LONG", "LAT_INC", "LONG_INC",
                "GS_COUNT"}
    if "NUM_OREC" not in header or not required <= set(sub):
        raise ValueError(
            "not a parseable NTv2 .gsb (missing header/subgrid records)"
        )
    count = struct.unpack("<i", sub["GS_COUNT"][:4])[0]
    # records start right after GS_COUNT; each is 4 little-endian float32
    hdr_len = 16 * (len(header) + len(sub))
    vals = np.frombuffer(data, dtype="<f4", count=count * 4, offset=hdr_len)
    vals = vals.reshape(count, 4)
    return NTv2Grid(
        s_lat=f8(sub, "S_LAT"), n_lat=f8(sub, "N_LAT"),
        e_long=f8(sub, "E_LONG"), w_long=f8(sub, "W_LONG"),
        lat_inc=f8(sub, "LAT_INC"), long_inc=f8(sub, "LONG_INC"),
        lat_shift=vals[:, 0].astype(np.float64),
        lon_shift=vals[:, 1].astype(np.float64),
    )


def make_ntv2_bytes(
    s_lat: float, n_lat: float, e_long: float, w_long: float,
    lat_inc: float, long_inc: float,
    lat_shift: np.ndarray, lon_shift: np.ndarray,
) -> bytes:
    """Serialize a single-subgrid NTv2 ``.gsb`` (inverse of
    :func:`parse_ntv2`) — used to build offline test fixtures; writing
    the public format keeps the parser honest (round-trip tested)."""
    lat_shift = np.asarray(lat_shift, dtype=np.float32).ravel()
    lon_shift = np.asarray(lon_shift, dtype=np.float32).ravel()
    n = lat_shift.size

    def rec_s(key: str, val: str) -> bytes:
        return key.ljust(8).encode() + val.ljust(8).encode()

    def rec_i(key: str, val: int) -> bytes:
        return key.ljust(8).encode() + struct.pack("<i", val) + b"\x00" * 4

    def rec_f(key: str, val: float) -> bytes:
        return key.ljust(8).encode() + struct.pack("<d", val)

    out = b"".join(
        [
            rec_i("NUM_OREC", 11), rec_i("NUM_SREC", 11), rec_i("NUM_FILE", 1),
            rec_s("GS_TYPE", "SECONDS"), rec_s("VERSION", "NTv2.0"),
            rec_s("SYSTEM_F", "NZGD49"), rec_s("SYSTEM_T", "NZGD2000"),
            rec_f("MAJOR_F", _INTL_A), rec_f("MINOR_F", _INTL_A * (1 - _INTL_F)),
            rec_f("MAJOR_T", _GRS80_A), rec_f("MINOR_T", _GRS80_A * (1 - _GRS80_F)),
            rec_s("SUB_NAME", "NZ"), rec_s("PARENT", "NONE"),
            rec_s("CREATED", "20260101"), rec_s("UPDATED", "20260101"),
            rec_f("S_LAT", s_lat), rec_f("N_LAT", n_lat),
            rec_f("E_LONG", e_long), rec_f("W_LONG", w_long),
            rec_f("LAT_INC", lat_inc), rec_f("LONG_INC", long_inc),
            rec_i("GS_COUNT", n),
        ]
    )
    body = np.zeros((n, 4), dtype="<f4")
    body[:, 0] = lat_shift
    body[:, 1] = lon_shift
    return out + body.tobytes()
