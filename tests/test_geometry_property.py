"""Property-based tests of the point-in-polygon kernels (pure numpy, no
Spark).

Even-odd ray casting against an independent half-plane spec on random
convex polygons: for a convex CCW polygon, a point is strictly inside
iff it lies on the left of every edge — a formulation sharing no code
(and no ray) with the production kernel. Points within eps of any edge
line are excluded: boundary semantics are allowed to differ.

The clip's scanline window mask against the full-grid ray cast: equal
inside the window, boundary cells included, and nothing the ray cast
keeps outside it.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_etl_pipeline_spark.functions.geometry import (
    parse_wkt_polygon,
    points_in_polygon,
    points_in_ring,
    window_mask,
)

FLOAT = st.floats(min_value=-50.0, max_value=50.0,
                  allow_nan=False, allow_infinity=False)


@settings(max_examples=200, deadline=None)
@given(
    nverts=st.integers(min_value=3, max_value=9),
    cx=FLOAT,
    cy=FLOAT,
    rx=st.floats(min_value=0.5, max_value=20.0),
    ry=st.floats(min_value=0.5, max_value=20.0),
    rot=st.floats(min_value=0.0, max_value=6.28),
    px=FLOAT,
    py=FLOAT,
)
def test_ray_casting_matches_halfplane_spec(nverts, cx, cy, rx, ry, rot, px, py):
    ang = rot + np.linspace(0.0, 2.0 * np.pi, nverts, endpoint=False)
    verts = np.column_stack([cx + rx * np.cos(ang), cy + ry * np.sin(ang)])
    ring = np.vstack([verts, verts[:1]])  # closed, CCW

    # independent spec: signed cross product against every edge
    a, b = ring[:-1], ring[1:]
    cross = (b[:, 0] - a[:, 0]) * (py - a[:, 1]) - (b[:, 1] - a[:, 1]) * (
        px - a[:, 0]
    )
    edge_len = np.hypot(b[:, 0] - a[:, 0], b[:, 1] - a[:, 1])
    # perpendicular distance to each edge line; skip boundary-ambiguous pts
    if np.min(np.abs(cross) / edge_len) < 1e-9:
        return
    expected = bool(np.all(cross > 0))

    got = points_in_ring(np.array([px]), np.array([py]), ring)[0]
    assert got == expected, (verts.tolist(), px, py, got, expected)


def _full_grid_mask(w, h, xll, yll, cs, rings):
    """points_in_polygon over every cell centre of the grid, (h, w)."""
    cc, rr = np.meshgrid(np.arange(w), np.arange(h))
    xs = xll + (cc.ravel() + 0.5) * cs
    ys = yll + h * cs - (rr.ravel() + 0.5) * cs
    return points_in_polygon(xs, ys, rings).reshape(h, w)


def _check_window(w, h, xll, yll, cs, rings):
    """The scanline window mask equals the full-grid ray cast cut to the
    window, and the ray cast keeps no cell outside the window."""
    c0, r0, nw, nh, mask = window_mask(w, h, xll, yll, cs, rings)
    full = _full_grid_mask(w, h, xll, yll, cs, rings)
    assert mask.shape == (nw * nh,) and mask.dtype == bool
    assert 0 <= c0 and c0 + nw <= w and 0 <= r0 and r0 + nh <= h
    np.testing.assert_array_equal(mask.reshape(nh, nw), full[r0:r0 + nh, c0:c0 + nw])
    outside = full.copy()
    outside[r0:r0 + nh, c0:c0 + nw] = False
    assert not outside.any(), np.argwhere(outside)[:5]
    return c0, r0, nw, nh, int(mask.sum())


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**32 - 1), n=st.integers(300, 600),
       cx=st.floats(-20.0, 140.0), cy=st.floats(-20.0, 140.0),
       radius=st.floats(5.0, 80.0))
def test_window_mask_matches_ray_cast_on_star_polygons(seed, n, cx, cy, radius):
    """Non-convex star polygons of 300-600 vertices, as perfbench's
    regions are, placed in, across and off a 120×120 grid."""
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    r = radius * (0.6 + 0.4 * rng.uniform(0, 1, n))
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    _check_window(120, 120, 0.0, 0.0, 1.0, [np.vstack([ring, ring[:1]])])


def test_window_mask_polygon_with_hole():
    rings = parse_wkt_polygon(
        "POLYGON((1 1, 9 1, 9 9, 1 9, 1 1), (3 3, 3 7, 7 7, 7 3, 3 3))")
    # 8×8 window of centres 1.5..8.5 less the 4×4 hole of 3.5..6.5
    assert _check_window(10, 10, 0.0, 0.0, 1.0, rings) == (1, 1, 8, 8, 64 - 16)


def test_window_mask_vertices_on_cell_centres():
    rings = parse_wkt_polygon("POLYGON((1.5 1.5, 7.5 2.5, 4.5 8.5, 2.5 5.5, 1.5 1.5))")
    c0, r0, nw, nh, kept = _check_window(10, 10, 0.0, 0.0, 1.0, rings)
    # the closed envelope keeps the centres the vertices sit on
    assert (c0, r0, nw, nh) == (1, 1, 7, 8) and kept > 0


def test_window_mask_keeps_centres_on_a_horizontal_bottom_edge():
    """Centres on the bottom edge y = 0.5 count as inside, so the window
    must reach row 9 (a half-open ``ymin < y`` window would drop it)."""
    rings = parse_wkt_polygon("POLYGON((0.5 0.5, 5 0.5, 5 5, 0.5 5, 0.5 0.5))")
    assert _check_window(10, 10, 0.0, 0.0, 1.0, rings) == (0, 5, 5, 5, 25)


def test_window_mask_keeps_a_centre_on_a_crossing_rounded_past_the_vertices():
    """Edge A-B crosses the row just below B at an x that rounds one ulp
    below B's x, the polygon's xmin. A centre placed exactly there is
    inside by the ray cast (the crossing is not strictly to its right),
    so the window must reach past the vertices' envelope to keep it."""
    a, b = (639384.3655870163, -83581.14421721874), (401921.289458219, 61181.92891757481)
    ring = np.array([a, b, (700000.0, b[1] + 10.0), a])
    y = np.nextafter(b[1], -np.inf)
    xint = (b[0] - a[0]) * (y - a[1]) / (b[1] - a[1]) + a[0]
    assert xint < b[0]
    # a 3×1 grid whose first centre is (xint, y), both exact
    assert _check_window(3, 1, xint - 0.5, y - 0.5, 1.0, [ring]) == (0, 0, 3, 1, 3)


def test_window_mask_polygon_over_the_grid_edge():
    rings = parse_wkt_polygon("POLYGON((-3 -2, 6 -4, 13 7, 4 14, -3 -2))")
    c0, r0, nw, nh, _ = _check_window(10, 10, 0.0, 0.0, 1.0, rings)
    assert (c0, r0, nw, nh) == (0, 0, 10, 10)
    # and a grid off the origin, with a cell size that is not 1
    _check_window(12, 9, 1_090_000.0, 4_748_000.0, 1000.0, [
        r * 1000.0 + [1_090_000.0, 4_748_000.0] for r in rings])


def test_window_mask_polygon_that_misses_the_grid():
    rings = parse_wkt_polygon("POLYGON((100 100, 110 100, 110 110, 100 100))")
    c0, r0, nw, nh, mask = window_mask(10, 10, 0.0, 0.0, 1.0, rings)
    assert (c0, r0, nw, nh) == (0, 0, 0, 0) and mask.shape == (0,)
    # beside the grid's rows but inside its columns: still empty
    assert window_mask(10, 10, 0.0, 0.0, 1.0, parse_wkt_polygon(
        "POLYGON((2 20, 8 20, 8 30, 2 20))"))[:4] == (0, 0, 0, 0)
