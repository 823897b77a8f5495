"""Pure-Python geometry primitives (no Sedona/shapely in this image).

Covers the part of the reference's geometry surface (SURVEY §2i) that
runs outside Spark expressions, as plain functions on numpy arrays:

- WKT polygon decode (``parse_wkt_polygon``) and the clip's cell window
  with its scanline point-in-polygon mask (``window_mask``), which
  ``operators.raster.clip_to_polygon`` builds once per distinct
  (georeference, polygon) pair in each task;
- even-odd point-in-polygon (``points_in_polygon``), the reference
  predicate the clip's mask is tested against;
- the Transverse Mercator forward to the reference's output CRS,
  NZTM2000 (copy_esrigrid…py:298–302).

Reprojection note: the reference requests an NTv2 grid-shift datum
transformation (New_Zealand_1949_To_NZGD_2000_3_NTv2). The NZTM2000
projection is the standard Transverse Mercator forward (Krüger series,
GRS80); the NZGD1949 datum shift is a pluggable hook (functions/datum.py:
NTv2 .gsb parser + bilinear shift when a grid is supplied, published
3-parameter geocentric fallback within a pinned tolerance otherwise —
SURVEY §7 hard-part 2). No pipeline output is reprojected yet: the
footprint ``cli.run`` writes stays in the grid's CRS (``cli.product_document``).
"""

from __future__ import annotations

import math
import re

import numpy as np

# --------------------------------------------------------------------------
# WKT / rings
# --------------------------------------------------------------------------

_WKT_POLY_RE = re.compile(r"POLYGON\s*\(\s*(.*)\s*\)\s*$", re.IGNORECASE | re.DOTALL)


def parse_wkt_polygon(wkt: str) -> list[np.ndarray]:
    """POLYGON((...),(...)) -> list of (n,2) float arrays (outer first)."""
    m = _WKT_POLY_RE.match(wkt.strip())
    if not m:
        raise ValueError(f"not a WKT POLYGON: {wkt[:60]!r}")
    body = m.group(1)
    rings = []
    for ring_txt in re.findall(r"\(([^()]*)\)", body):
        pts = [
            (float(a), float(b))
            for a, b in (pair.split()[:2] for pair in ring_txt.split(","))
        ]
        rings.append(np.asarray(pts, dtype=np.float64))
    if not rings:
        raise ValueError(f"empty WKT POLYGON: {wkt[:60]!r}")
    return rings


def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: True where (x,y) is inside."""
    n = len(ring) - 1  # closed ring
    inside = np.zeros(len(xs), dtype=bool)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        crosses = (y1 > ys) != (y2 > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (ys - y1) / (y2 - y1) + x1
        inside ^= crosses & (xs < xint)
    return inside


def points_in_polygon(
    xs: np.ndarray, ys: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Even-odd across all rings (holes subtract)."""
    acc = np.zeros(len(xs), dtype=bool)
    for ring in rings:
        acc ^= points_in_ring(xs, ys, ring)
    return acc


def window_mask(
    width: int, height: int, xll: float, yll: float, cellsize: float,
    rings: list[np.ndarray],
) -> tuple[int, int, int, int, np.ndarray]:
    """The cell window of a grid that the polygon can cover, and the
    even-odd inside-mask of the cell centres in that window.

    Returns ``(c0, r0, nw, nh, mask)``: the window's first column and
    row (row 0 is the grid's top row), its width and height, and a
    row-major boolean mask of ``nw * nh`` cells. The window holds the
    cells whose centres lie in the polygon's closed envelope
    ``xmin <= x <= xmax``, ``ymin <= y <= ymax`` (widened to a crossing
    that rounds past the vertices' x range), so it drops no cell that
    ``points_in_polygon`` keeps, a centre on a horizontal bottom edge
    included. A polygon that misses the grid gives the empty window
    ``(0, 0, 0, 0)``.

    The mask is a scanline fill: for each window row, the crossings
    ``xint`` of every edge of every ring, computed as in
    ``points_in_ring``, are sorted, and a centre is inside when an odd
    number of them lie to its right. It equals ``points_in_polygon`` over
    the same centres exactly, at O(E log E + nw log E) per row for E
    edges instead of O(nw * E)."""
    pts = np.vstack(rings)
    ytop = yll + height * cellsize
    # the centres points_in_polygon tests over the full grid
    xs = xll + (np.arange(width) + 0.5) * cellsize
    ys = ytop - (np.arange(height) + 0.5) * cellsize
    # ys descends: skip the rows above ymax, keep those down to ymin
    r0 = int(np.count_nonzero(ys > pts[:, 1].max()))
    r1 = int(np.count_nonzero(ys >= pts[:, 1].min()))
    x1, y1 = np.vstack([ring[:-1] for ring in rings]).T
    x2, y2 = np.vstack([ring[1:] for ring in rings]).T
    xints = []
    for y in ys[r0:r1]:
        crosses = (y1 > y) != (y2 > y)
        a1, b1, a2, b2 = x1[crosses], y1[crosses], x2[crosses], y2[crosses]
        xints.append(np.sort((a2 - a1) * (y - b1) / (b2 - b1) + a1))
    # a crossing can round an ulp past the vertices' x range: widen to it
    lo = min([pts[:, 0].min()] + [xi[0] for xi in xints if len(xi)])
    hi = max([pts[:, 0].max()] + [xi[-1] for xi in xints if len(xi)])
    c0 = int(np.searchsorted(xs, lo, side="left"))
    c1 = int(np.searchsorted(xs, hi, side="right"))
    if c1 <= c0 or r1 <= r0:
        return 0, 0, 0, 0, np.zeros(0, dtype=bool)
    wx = xs[c0:c1]
    mask = np.empty((r1 - r0, c1 - c0), dtype=bool)
    for i, xint in enumerate(xints):
        mask[i] = (len(xint) - np.searchsorted(xint, wx, side="right")) % 2 == 1
    return c0, r0, c1 - c0, r1 - r0, mask.ravel()


# --------------------------------------------------------------------------
# Projections
# --------------------------------------------------------------------------

# GRS80 ellipsoid (the reference's output CRS datum, copy_esrigrid…py:299)
_GRS80_A = 6378137.0
_GRS80_F = 1.0 / 298.257222101

# NZTM2000 projection parameters (from the WKT at copy_esrigrid…py:299)
NZTM = dict(lat0=0.0, lon0=173.0, k0=0.9996, fe=1600000.0, fn=10000000.0)


def _tm_forward(
    lon_deg: np.ndarray, lat_deg: np.ndarray,
    lon0: float, lat0: float, k0: float, fe: float, fn: float,
    a: float = _GRS80_A, f: float = _GRS80_F,
) -> tuple[np.ndarray, np.ndarray]:
    """Transverse Mercator forward (Krüger series, 4th order) — the
    standard public formulation used by every GIS stack."""
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    e2 = f * (2 - f)
    n = f / (2 - f)
    # meridian arc coefficients
    A = a / (1 + n) * (1 + n**2 / 4 + n**4 / 64)
    alpha = [
        n / 2 - 2 * n**2 / 3 + 5 * n**3 / 16,
        13 * n**2 / 48 - 3 * n**3 / 5,
        61 * n**3 / 240,
    ]
    t = np.sinh(
        np.arctanh(np.sin(lat))
        - math.sqrt(e2) * np.arctanh(math.sqrt(e2) * np.sin(lat))
    )
    xi_p = np.arctan2(t, np.cos(lon - math.radians(lon0)))
    eta_p = np.arctanh(np.sin(lon - math.radians(lon0)) / np.sqrt(1 + t**2))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, aj in enumerate(alpha, start=1):
        xi += aj * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += aj * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    easting = fe + k0 * A * eta
    northing = fn + k0 * A * xi
    # lat0 = 0 for NZTM; the meridian arc at lat0 = 0 is 0.
    return easting, northing


def lonlat_to_nztm(
    lon: np.ndarray,
    lat: np.ndarray,
    datum_shift=None,
) -> tuple[np.ndarray, np.ndarray]:
    """lon/lat -> EPSG:2193 (NZTM2000). NZGD2000 is ~WGS84 (<1 m).

    ``datum_shift`` is the pluggable NZGD1949 hook (REF requests
    New_Zealand_1949_To_NZGD_2000_3_NTv2, copy_esrigrid…py:301): pass
    ``functions.datum.nzgd1949_to_nzgd2000`` (optionally closed over a
    parsed NTv2 grid) when the input is NZGD1949; with no grid file the
    3-parameter geocentric fallback applies, within
    ``datum.FALLBACK_TOLERANCE_M`` of the grid path (tolerance pinned in
    tests/test_geometry_functions.py). None = input already NZGD2000."""
    if datum_shift is not None:
        lon, lat = datum_shift(lon, lat)
    return _tm_forward(lon, lat, **NZTM)
