"""Polygonize: connected components of equal-valued pixels, distributed.

GDALPolygonize semantics (alg/polygonize.cpp:980; two-row enumerator
alg/gdalrasterpolygonenumerator.cpp): group connected (4- or
8-connectivity) pixels of equal value into components. The reference
runs single-process over the whole raster; the Spark shape is:

  1. per-tile two-pass union-find labeling (numpy, inside
     applyInPandas) -> (tile, local component) with a globally unique
     label = min global pixel index seen so far,
  2. tile boundary strips -> equivalence edges between labels of
     adjacent tiles where values match (the cross-tile analog of the
     enumerator's row-to-row label merging),
  3. one union-find over the graph of those labels (graphsql.stitch_roots:
     a single groupBy/applyInPandas task — the graph is bounded by tile
     perimeter x tile count, not raster area),
  4. final groupBy(root) -> component id (min global pixel index),
     value, pixel count.

The canonical component id = min linearized pixel index makes the
output deterministic and oracle-comparable regardless of tile layout
or execution order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..graphsql import stitch_roots


def label_tile(vals: np.ndarray, connect8: bool = False) -> np.ndarray:
    """Two-pass union-find connected-component labeling of a 2-D value
    array. Returns int64 labels = linearized local index of the
    component's first (row-major) pixel."""
    h, w = vals.shape
    parent = np.arange(h * w, dtype=np.int64)

    def find(i):
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:
            parent[i], i = root, parent[i]
        return root

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    idx = np.arange(h * w, dtype=np.int64).reshape(h, w)
    # vectorized neighbor equality masks; unions in a python loop over
    # matches (bounded by run boundaries, not pixels, in practice)
    left = vals[:, 1:] == vals[:, :-1]
    for a, b in zip(idx[:, 1:][left], idx[:, :-1][left]):
        union(a, b)
    up = vals[1:, :] == vals[:-1, :]
    for a, b in zip(idx[1:, :][up], idx[:-1, :][up]):
        union(a, b)
    if connect8:
        d1 = vals[1:, 1:] == vals[:-1, :-1]
        for a, b in zip(idx[1:, 1:][d1], idx[:-1, :-1][d1]):
            union(a, b)
        d2 = vals[1:, :-1] == vals[:-1, 1:]
        for a, b in zip(idx[1:, :-1][d2], idx[:-1, 1:][d2]):
            union(a, b)
    out = np.empty(h * w, dtype=np.int64)
    for i in range(h * w):
        out[i] = find(i)
    return out.reshape(h, w)


def polygonize_grid(
    spark,
    value_sql: str,
    width: int,
    height: int,
    tile_px: int = 32,
    connect8: bool = False,
    with_bbox: bool = False,
) -> DataFrame:
    """Polygonize a deterministic raster defined by ``value_sql`` (a
    Spark SQL expression over global pixel columns gx, gy -> bigint).
    Returns (comp_id, val, n_pixels): component id = min global
    linearized pixel index. With ``with_bbox`` the per-component pixel
    envelope (minx, miny, maxx, maxy) is carried through the same
    partial-aggregate path (used by the gdal_footprint analog).

    The raster is generated per tile executor-side (no driver data
    movement); a real raster table would substitute a tiles DataFrame
    with pixel payloads.
    """
    ntx = (width + tile_px - 1) // tile_px
    nty = (height + tile_px - 1) // tile_px
    tiles = spark.range(ntx * nty).selectExpr(
        f"cast(id % {ntx} as int) AS tx", f"cast(id div {ntx} as int) AS ty"
    )

    cfg = {"width": width, "height": height, "tile_px": tile_px,
           "connect8": connect8, "value_sql": value_sql}

    def tile_labels(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        px0, py0 = tx * cfg["tile_px"], ty * cfg["tile_px"]
        w = min(cfg["tile_px"], cfg["width"] - px0)
        h = min(cfg["tile_px"], cfg["height"] - py0)
        gy, gx = np.mgrid[py0 : py0 + h, px0 : px0 + w]
        vals = _eval_value(cfg["value_sql"], gx, gy)
        local = label_tile(vals, cfg["connect8"])
        # globalize: label -> min global pixel index in this tile
        # (labels are row-major-first local indices, so min lin per
        # label is the label's own pixel: lin of the label index)
        lin = gy.astype(np.int64) * cfg["width"] + gx.astype(np.int64)
        glob = lin.ravel()[local.ravel()].reshape(local.shape)
        flat = pd.DataFrame(
            {
                "label": glob.ravel(),
                "val": vals.ravel().astype(np.int64),
                "pgx": gx.ravel().astype(np.int64),
                "pgy": gy.ravel().astype(np.int64),
            }
        )
        comp = (
            flat.groupby("label")
            .agg(
                val=("val", "first"), n=("val", "size"),
                minx=("pgx", "min"), maxx=("pgx", "max"),
                miny=("pgy", "min"), maxy=("pgy", "max"),
            )
            .reset_index()
        )

        # boundary strips: (side, pos, val, label) for edge matching
        edges = {"gx": [], "gy": [], "val": [], "label": [], "side": []}
        if px0 + w < cfg["width"]:
            edges["gx"] += [px0 + w - 1] * h
            edges["gy"] += list(range(py0, py0 + h))
            edges["val"] += list(vals[:, -1].astype(int))
            edges["label"] += list(glob[:, -1])
            edges["side"] += ["R"] * h
        if px0 > 0:
            edges["gx"] += [px0] * h
            edges["gy"] += list(range(py0, py0 + h))
            edges["val"] += list(vals[:, 0].astype(int))
            edges["label"] += list(glob[:, 0])
            edges["side"] += ["L"] * h
        if py0 + h < cfg["height"]:
            edges["gx"] += list(range(px0, px0 + w))
            edges["gy"] += [py0 + h - 1] * w
            edges["val"] += list(vals[-1, :].astype(int))
            edges["label"] += list(glob[-1, :])
            edges["side"] += ["B"] * w
        if py0 > 0:
            edges["gx"] += list(range(px0, px0 + w))
            edges["gy"] += [py0] * w
            edges["val"] += list(vals[0, :].astype(int))
            edges["label"] += list(glob[0, :])
            edges["side"] += ["T"] * w
        edf = pd.DataFrame(edges)
        comp["kind"] = "comp"
        edf["kind"] = "edge"
        cols = ["kind", "label", "val", "n", "minx", "maxx", "miny", "maxy"]
        return pd.concat(
            [
                comp[cols].assign(gx=-1, gy=-1, side=""),
                edf.assign(n=0, minx=0, maxx=0, miny=0, maxy=0)[
                    cols + ["gx", "gy", "side"]
                ],
            ],
            ignore_index=True,
        )

    raw = tiles.groupby("tx", "ty").applyInPandas(
        tile_labels,
        schema="kind string, label bigint, val bigint, n bigint, "
        "minx bigint, maxx bigint, miny bigint, maxy bigint, "
        "gx bigint, gy bigint, side string",
    ).cache()

    comps = raw.filter("kind = 'comp'").select(
        "label", "val", "n", "minx", "maxx", "miny", "maxy"
    )
    edges = raw.filter("kind = 'edge'")

    # adjacency: right-edge pixel (gx, gy) matches left-edge pixel
    # (gx+1, gy); bottom matches top (gy+1) — equal values merge. With
    # 8-connectivity each left/top pixel also touches the two diagonal
    # pixels across the tile edge (tile corners included).
    steps = "array(-1, 0, 1)" if connect8 else "array(0)"
    r = edges.filter("side = 'R'").selectExpr("gx", "gy", "val", "label AS a")
    le = edges.filter("side = 'L'").selectExpr(
        "gx - 1 AS gx", f"explode(transform({steps}, d -> gy + d)) AS gy",
        "val", "label AS b",
    )
    bo = edges.filter("side = 'B'").selectExpr("gx", "gy", "val", "label AS a")
    t = edges.filter("side = 'T'").selectExpr(
        f"explode(transform({steps}, d -> gx + d)) AS gx", "gy - 1 AS gy",
        "val", "label AS b",
    )
    pairs = (
        r.join(le, ["gx", "gy", "val"])
        .select("a", "b")
        .unionAll(bo.join(t, ["gx", "gy", "val"]).select("a", "b"))
    )
    roots = stitch_roots(pairs).selectExpr("node AS label", "root")

    aggs = [F.min("val").alias("val"), F.sum("n").alias("n_pixels")]
    cols = ["root AS comp_id", "val", "n_pixels"]
    if with_bbox:
        aggs += [
            F.min("minx").alias("minx"), F.max("maxx").alias("maxx"),
            F.min("miny").alias("miny"), F.max("maxy").alias("maxy"),
        ]
        cols += ["minx", "maxx", "miny", "maxy"]
    return (
        comps.join(roots, "label", "left")
        .withColumn("root", F.coalesce("root", "label"))
        .groupBy("root")
        .agg(*aggs)
        .selectExpr(*cols)
    )


def _eval_value(value_sql: str, gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Evaluate the deterministic raster function. Supported grammar:
    'block:<bs>:<mod>' -> ((gx//bs + gy//bs) % mod);
    'demband:<l1>:<l2>:...' -> iso-band index of the global DEM
    (number of levels <= value), the gdal_contour -p banding."""
    if value_sql.startswith("block:"):
        _, bs, mod = value_sql.split(":")
        bs, mod = int(bs), int(mod)
        return ((gx // bs + gy // bs) % mod).astype(np.int64)
    if value_sql.startswith("demvalid:"):
        from .dem import _dem_value

        thresh = int(value_sql.split(":")[1])
        return (_dem_value(gx, gy) >= thresh).astype(np.int64)
    if value_sql.startswith("demband:"):
        from .dem import _dem_value

        levels = [int(v) for v in value_sql.split(":")[1:]]
        vals = _dem_value(gx, gy)
        band = np.zeros_like(vals)
        for lv in levels:
            band += (vals >= lv).astype(np.int64)
        return band
    raise ValueError(f"unknown raster spec {value_sql!r}")


def oracle_polygonize_blocks(width: int, height: int, bs: int, mod: int) -> str:
    """Closed-form oracle for the block raster: with 4-connectivity
    every bs x bs block is its own component (neighbors differ mod
    ``mod``); comp id = linearized index of the block's top-left
    pixel."""
    nbx, nby = width // bs, height // bs
    return (
        f"SELECT (by * {bs}) * {width} + bx * {bs} AS comp_id, "
        f"cast((bx + by) % {mod} as bigint) AS val, "
        f"cast({bs} * {bs} as bigint) AS n_pixels "
        f"FROM range(0, {nbx}) t(bx), range(0, {nby}) u(by)"
    )


POLY_PJ_ROUNDS = 32  # oracle pointer-jump rounds (fixpoint-verified in tests)


def oracle_polygonize_pj(
    band_sql: str, width: int, height: int, connect8: bool = False,
    final_select: str | None = None, rounds_n: int | None = None,
) -> str:
    """General connected-components oracle for ANY deterministic
    raster expressed as a DuckDB expression over (gx, gy): unrolled
    MATERIALIZED pointer-jump rounds (the contour-oracle pattern),
    comp id = min linearized pixel index — the same label convention
    as the Spark polygonize. 4- or 8-connectivity. ``final_select``
    replaces the trailing projection (it may reference the converged
    roots relation as ``{prev}`` and the pixel table ``px``)."""
    rounds = []
    prev = "r0"
    for k in range(rounds_n if rounds_n is not None else POLY_PJ_ROUNDS):
        rounds.append(
            f"m{k} AS MATERIALIZED (SELECT l.a AS node, min(r.root) AS mn "
            f"FROM links l JOIN {prev} r ON r.node = l.b GROUP BY 1),\n"
            f"p{k} AS MATERIALIZED (SELECT r.node, "
            f"least(r.root, coalesce(m.mn, r.root)) AS root "
            f"FROM {prev} r LEFT JOIN m{k} m ON m.node = r.node),\n"
            f"r{k + 1} AS MATERIALIZED (SELECT a.node, b.root "
            f"FROM p{k} a JOIN p{k} b ON b.node = a.root)"
        )
        prev = f"r{k + 1}"
    pj = ",\n".join(rounds)
    diag_links = ""
    if connect8:
        for dx in (1, -1):
            diag_links += (
                f"\n  UNION ALL\n  SELECT a.node, b.node FROM px a JOIN px b "
                f"ON b.gx = a.gx + {dx} AND b.gy = a.gy + 1 AND b.val = a.val"
                f"\n  UNION ALL\n  SELECT b.node, a.node FROM px a JOIN px b "
                f"ON b.gx = a.gx + {dx} AND b.gy = a.gy + 1 AND b.val = a.val"
            )
    if final_select is None:
        final_select = (
            f"SELECT r.root AS comp_id, min(px.val) AS val,\n"
            f"       count(*) AS n_pixels\n"
            f"FROM {prev} r JOIN px ON px.node = r.node\n"
            f"GROUP BY 1"
        )
    else:
        final_select = final_select.format(prev=prev)
    return f"""
WITH
px AS MATERIALIZED (
  SELECT gx, gy, gy * {width} + gx AS node, ({band_sql}) AS val
  FROM range(0, {width}) a(gx), range(0, {height}) b(gy)),
links AS MATERIALIZED (
  SELECT a.node AS a, b.node AS b FROM px a JOIN px b
  ON b.gx = a.gx + 1 AND b.gy = a.gy AND b.val = a.val
  UNION ALL
  SELECT b.node, a.node FROM px a JOIN px b
  ON b.gx = a.gx + 1 AND b.gy = a.gy AND b.val = a.val
  UNION ALL
  SELECT a.node, b.node FROM px a JOIN px b
  ON b.gx = a.gx AND b.gy = a.gy + 1 AND b.val = a.val
  UNION ALL
  SELECT b.node, a.node FROM px a JOIN px b
  ON b.gx = a.gx AND b.gy = a.gy + 1 AND b.val = a.val{diag_links}),
r0 AS MATERIALIZED (SELECT node, node AS root FROM px),
{pj}
{final_select}
"""


def dem_band_sql(levels) -> str:
    """DuckDB band expression matching the 'demband:' numpy spec."""
    from .dem import DEM_VALUE_SQL

    terms = " + ".join(
        f"(CASE WHEN ({DEM_VALUE_SQL}) >= {lv} THEN 1 ELSE 0 END)"
        for lv in levels
    )
    return f"({terms})"
