"""Contour marching-squares + polyline stitching.

Independent checks: whole-raster (untiled) numpy segments + a local
union-find vs the tiled Spark pipeline; structural invariants (every
node degree <= 2, paths = nodes - segments); cycle extraction by
actually walking the chains.
"""

import collections

import numpy as np

from gdal_spark.operators import contour
from gdal_spark.operators.dem import _dem_value

LEVELS = (64, 128, 192)
W = 96


def _whole_raster(level):
    gy, gx = np.mgrid[0:W, 0:W]
    vals = _dem_value(gx, gy)
    return contour.marching_segments(vals, level)


def _components(lo, hi):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(lo.tolist(), hi.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    deg = collections.Counter(np.concatenate([lo, hi]).tolist())
    comps = {find(n) for n in deg}
    return deg, comps


def test_degree_invariant():
    """A crossed edge is shared by at most two cells -> degree <= 2."""
    for lv in LEVELS:
        lo, hi, _ = _whole_raster(lv)
        deg, _ = _components(lo, hi)
        assert max(deg.values()) <= 2


def test_paths_equal_nodes_minus_segments():
    """Every component is a path or a cycle, so #paths = N - S and
    open endpoints = 2 * #paths."""
    for lv in LEVELS:
        lo, hi, _ = _whole_raster(lv)
        deg, comps = _components(lo, hi)
        n_open = sum(1 for v in deg.values() if v == 1)
        n_paths = len(deg) - len(lo)
        assert n_open == 2 * n_paths
        # cycles = components - paths, non-negative
        assert len(comps) - n_paths >= 0


def test_walk_extracts_exact_polylines():
    """Walking chains node-by-node reproduces the component count —
    the stitched structure is traversable as actual polylines."""
    lv = 128
    lo, hi, _ = _whole_raster(lv)
    adj = collections.defaultdict(list)
    for a, b in zip(lo.tolist(), hi.tolist()):
        adj[a].append(b)
        adj[b].append(a)
    seen = set()
    n_poly = 0
    # open chains first (start at degree-1 nodes), then cycles
    for start in [n for n, ns in adj.items() if len(ns) == 1]:
        if start in seen:
            continue
        n_poly += 1
        prev, cur = None, start
        while cur not in seen:
            seen.add(cur)
            nxt = [n for n in adj[cur] if n != prev]
            if not nxt:
                break
            prev, cur = cur, nxt[0]
    for start in adj:
        if start in seen:
            continue
        n_poly += 1
        prev, cur = None, start
        while cur not in seen:
            seen.add(cur)
            nxt = [n for n in adj[cur] if n != prev]
            prev, cur = cur, nxt[0]
    _, comps = _components(lo, hi)
    assert n_poly == len(comps)


def test_tiled_pipeline_matches_untiled(spark):
    """The Spark tiled stitch == whole-raster union-find on every
    emitted aggregate, for three tile sizes; at 8 px the raster is 144
    tiles, so contours cross many tile boundaries."""
    expect = {}
    for lv in LEVELS:
        lo, hi, ln = _whole_raster(lv)
        deg, comps = _components(lo, hi)
        expect[lv] = (
            len(lo),
            len(deg),
            sum(1 for v in deg.values() if v == 1),
            len(comps),
            int(ln.sum()),
        )
    for tile_px in (8, 32, 48):
        out = (
            contour.contour_polylines(spark, W, W, LEVELS, tile_px=tile_px)
            .toPandas()
            .set_index("level")
        )
        for lv in LEVELS:
            row = out.loc[lv]
            got = (
                int(row["n_segments"]),
                int(row["n_nodes"]),
                int(row["n_open"]),
                int(row["n_components"]),
                int(row["len_sum_u"]),
            )
            assert got == expect[lv], (tile_px, lv, got, expect[lv])


def test_saddle_cases_present_and_consistent():
    """The DEM raster exercises saddle cells; both saddle variants
    keep the degree invariant."""
    gy, gx = np.mgrid[0:W, 0:W]
    vals = _dem_value(gx, gy)
    va = vals[:-1, :-1]
    vb = vals[:-1, 1:]
    vc = vals[1:, 1:]
    vd = vals[1:, :-1]
    lv = 128
    case = (
        (va < lv) * 1 + (vb < lv) * 2 + (vc < lv) * 4 + (vd < lv) * 8
    )
    assert ((case == 5) | (case == 10)).any()  # saddles exercised
