"""Seeded input tree for the ETL workload, shaped like the reference
pipeline's inputs: Esri ASCII grids named ``<series>_<PARAMETER>_..._
<statistic>_<MONTH_SEASON>.asc`` in per-parameter subfolders, and a
regions CSV with every ``REGION`` code (the "99" row included, which the
pipeline must skip) as a many-vertex non-convex polygon.
"""

from __future__ import annotations

import io
import os

import numpy as np

from geospatial_etl_pipeline_spark.functions.naming import (
    MONTH_SEASON,
    PARAMETER,
    REGION_NAME_ASCII,
)

NODATA = -9999.0
CELLSIZE = 1000.0
XLL, YLL = 1_090_000.0, 4_748_000.0
STATISTICS = ("mean", "median", "min", "max")


def star_polygon(rng: np.random.Generator, cx: float, cy: float, radius: float,
                 n: int) -> np.ndarray:
    """A closed non-convex ring of ``n`` vertices, star-shaped around
    (cx, cy): sorted angles with a rough radius, so it never
    self-intersects."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    k = np.arange(1, 6)
    phase = rng.uniform(0, 2 * np.pi, 5)
    wobble = (np.sin(np.outer(ang, k) + phase) / k).sum(axis=1)
    r = radius * (0.7 + 0.18 * wobble + 0.12 * rng.uniform(-1, 1, n))
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test, the benchmark's own reference."""
    inside = np.zeros(xs.shape, dtype=bool)
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    for a, b, c, d in zip(x0, y0, x1, y1):
        crosses = (b > ys) != (d > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = a + (ys - b) * (c - a) / (d - b)
        inside ^= crosses & (xs < xi)
    return inside


def make_regions(rng: np.random.Generator, w: int, h: int,
                 vertices: tuple[int, int]) -> dict[str, np.ndarray]:
    """One polygon per REGION code, laid out on a jittered 4×4 plan over
    the grid extent (the "99" code gets one too, off to the side).
    Vertex counts are spread evenly over ``vertices`` and dealt to the
    regions in a seeded order, so every seed costs the clip the same."""
    codes = sorted(c for c in REGION_NAME_ASCII if c != "99")
    ext_w, ext_h = w * CELLSIZE, h * CELLSIZE
    counts = rng.permutation(np.linspace(*vertices, len(codes)).round().astype(int))
    out = {}
    for i, code in enumerate(codes):
        gx, gy = i % 4, i // 4
        cx = XLL + (gx + 0.5 + rng.uniform(-0.1, 0.1)) * ext_w / 4
        cy = YLL + (gy + 0.5 + rng.uniform(-0.1, 0.1)) * ext_h / 4
        radius = min(ext_w, ext_h) / 8 * rng.uniform(1.0, 1.2)
        out[code] = star_polygon(rng, cx, cy, radius, int(counts[i]))
    out["99"] = star_polygon(rng, XLL + ext_w * 0.9, YLL + ext_h * 0.1,
                             min(ext_w, ext_h) / 12, 200)
    return out


def wkt(ring: np.ndarray) -> str:
    return "POLYGON((" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in ring) + "))"


def make_grid(rng: np.random.Generator, w: int, h: int, nodata_share: float) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    # values stay within 10..99.9, so every cell prints as 4 characters
    base = rng.uniform(30, 70)
    field_ = base + 12 * np.sin(xx / rng.uniform(8, 20)) * np.cos(yy / rng.uniform(8, 20))
    cells = np.clip(np.round(field_ + rng.normal(0, 1.5, (h, w)), 1), 10.0, 99.9)
    cells[rng.random((h, w)) < nodata_share] = NODATA
    return cells


def asc_bytes(cells: np.ndarray) -> bytes:
    h, w = cells.shape
    buf = io.StringIO()
    buf.write(f"ncols {w}\nnrows {h}\nxllcorner {XLL}\nyllcorner {YLL}\n"
              f"cellsize {CELLSIZE}\nNODATA_value {NODATA}\n")
    np.savetxt(buf, cells, fmt="%.1f")
    return buf.getvalue().encode()


def build_inputs(root: str, seed: int, n_grids: int, w: int, h: int,
                 vertices: tuple[int, int], nodata_share: float) -> dict:
    """Write the grid tree and regions CSV under ``root``; return the
    generated grids (row 0 = north) and polygons for the output checks,
    plus a description of the inputs."""
    rng = np.random.default_rng(seed)
    grid_dir = os.path.join(root, "grids")
    params = sorted(PARAMETER)
    periods = sorted(MONTH_SEASON)
    picks = rng.choice(len(params) * len(periods), size=n_grids, replace=False)
    grids, in_bytes = {}, 0
    for p in picks:
        param, period = params[p // len(periods)], periods[p % len(periods)]
        stat = STATISTICS[int(rng.integers(len(STATISTICS)))]
        base = f"vcsn_{param}_nz_1km_{stat}_{period}"
        cells = make_grid(rng, w, h, nodata_share)
        sub = os.path.join(grid_dir, param)
        os.makedirs(sub, exist_ok=True)
        data = asc_bytes(cells)
        with open(os.path.join(sub, base + ".asc"), "wb") as f:
            f.write(data)
        in_bytes += len(data)
        grids[base] = cells
    regions = make_regions(rng, w, h, vertices)
    regions_csv = os.path.join(root, "regions.csv")
    with open(regions_csv, "w") as f:
        f.write("regc_code,region_name_ascii,wkt\n")
        for code, ring in regions.items():
            f.write(f'{code},{REGION_NAME_ASCII[code]},"{wkt(ring)}"\n')
    nodata = sum(int((g == NODATA).sum()) for g in grids.values())
    return {
        "grid_dir": grid_dir,
        "regions_csv": regions_csv,
        "grids": grids,
        "regions": regions,
        "describe": {
            "grids": n_grids,
            "grid_w": w,
            "grid_h": h,
            "regions_clipped": len(regions) - 1,
            "vertices": {c: len(r) - 1 for c, r in regions.items()},
            "nodata_share": nodata / (n_grids * w * h),
            "asc_input_bytes": in_bytes,
        },
    }


def inside_mask(ring: np.ndarray, w: int, h: int) -> np.ndarray:
    """(h, w) mask of the cells whose centres lie inside the polygon."""
    xs = XLL + (np.arange(w) + 0.5) * CELLSIZE
    ys = YLL + h * CELLSIZE - (np.arange(h) + 0.5) * CELLSIZE
    gx, gy = np.meshgrid(xs, ys)
    return points_in_ring(gx.ravel(), gy.ravel(), ring).reshape(h, w)


def expected_masked(cells: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """The clip's expected result: cells whose centres lie outside the
    polygon become NODATA."""
    h, w = cells.shape
    return np.where(inside_mask(ring, w, h), cells, NODATA)
