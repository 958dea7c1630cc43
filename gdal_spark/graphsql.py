"""Generic connected-components as pure SQL: unrolled MATERIALIZED
pointer-jump rounds (neighbor-min label propagation + double jump).

Used by oracles that need component labels over an arbitrary graph
(dedup clusters, banded contour polygons): the caller provides CTEs
``nodes(node)`` and ``links(a, b)`` (symmetric), appends the chain
from :func:`pj_components_cte`, and reads (node, root) from the final
relation — root = min node id of the component, the same label
convention every distributed merge in this repo uses.

MATERIALIZED is load-bearing: DuckDB 1.0 inlines CTEs, so a chained
self-referencing pipeline re-expands exponentially without it.
"""

from __future__ import annotations

DEFAULT_ROUNDS = 32


def fixpoint_parts(df, floor_parts: int = 8) -> int:
    """Partition count for the pointer-jump fixpoint label tables:
    inherit the driving input's parallelism — at 100x scale a
    billion-node label table must keep its partitions, not collapse
    into a hardcoded handful — with a small floor so sandbox-sized
    rounds don't schedule hundreds of empty tasks."""
    try:
        return max(floor_parts, df.rdd.getNumPartitions())
    except Exception:  # pragma: no cover - defensive (plan conversion)
        return floor_parts


def pj_components_cte(
    rounds: int = DEFAULT_ROUNDS,
    nodes: str = "nodes",
    links: str = "links",
) -> tuple[str, str]:
    """Returns (cte_chain_sql, final_relation_name). The chain starts
    from ``r0`` (every node its own root) and converges for any
    component whose pointer-graph needs <= ``rounds`` label-prop +
    jump rounds (verified against union-find in tests at the sizes
    the oracles run)."""
    parts = [f"r0 AS MATERIALIZED (SELECT node, node AS root FROM {nodes})"]
    prev = "r0"
    for k in range(rounds):
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT l.a AS node, min(r.root) AS mn "
            f"FROM {links} l JOIN {prev} r ON r.node = l.b GROUP BY 1),\n"
            f"p{k} AS MATERIALIZED (SELECT r.node, "
            f"least(r.root, coalesce(m.mn, r.root)) AS root "
            f"FROM {prev} r LEFT JOIN m{k} m ON m.node = r.node),\n"
            f"r{k + 1} AS MATERIALIZED (SELECT a.node, b.root "
            f"FROM p{k} a JOIN p{k} b ON b.node = a.root)"
        )
        prev = f"r{k + 1}"
    return ",\n".join(parts), prev


def label_components(nodes, pairs, max_merge_rounds: int = 30):
    """Distributed connected components over (a, b) duplicate pairs:
    (node, cluster_id, cluster_size, is_keeper) with cluster_id = min
    node of the component (the keeper convention shared with the SQL
    chain above). Neighbor-min propagation + pointer double-jump;
    O(log n) rounds, each a full distributed job; label tables keep
    the input's partitioning (fixpoint_parts). Raises RuntimeError if
    the last of ``max_merge_rounds`` rounds still changed a label."""
    from pyspark.sql import functions as F

    nparts = fixpoint_parts(nodes)
    pairs = pairs.selectExpr("a", "b").localCheckpoint(eager=True)
    sym = (
        pairs.unionAll(pairs.selectExpr("b AS a", "a AS b"))
        .distinct()
        .coalesce(nparts)
        .localCheckpoint(eager=True)
    )
    roots = (
        nodes.selectExpr("node", "node AS root")
        .coalesce(nparts)
        .localCheckpoint(eager=True)
    )
    for _ in range(max_merge_rounds):
        nbr = (
            sym.join(roots.selectExpr("node AS b", "root AS nroot"), "b")
            .groupBy("a")
            .agg(F.min("nroot").alias("min_nbr"))
        )
        half = roots.join(
            nbr.selectExpr("a AS node", "min_nbr"), "node", "left"
        ).selectExpr(
            "node", "least(root, coalesce(min_nbr, root)) AS root"
        ).coalesce(nparts).localCheckpoint(eager=True)
        jump = half.selectExpr("node AS jn", "root AS jr")
        new_roots = (
            half.join(jump, F.col("root") == F.col("jn"), "left")
            .selectExpr("node", "coalesce(jr, root) AS root")
            .coalesce(nparts)
            .localCheckpoint(eager=True)
        )
        changed = (
            new_roots.selectExpr("node", "root AS nr")
            .join(roots, "node")
            .filter("nr <> root")
            .count()
        )
        roots = new_roots
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label_components: labels still changing after "
            f"{max_merge_rounds} rounds"
        )
    sizes = roots.groupBy("root").agg(F.count("*").alias("cluster_size"))
    return roots.join(sizes, "root").selectExpr(
        "node",
        "root AS cluster_id",
        "cluster_size",
        "cast(node = root as int) AS is_keeper",
    )


def union_find(a, b) -> dict:
    """Plain union-find over the edge lists ``a``, ``b``: {node: root}
    for every node on an edge, root = min node id of its component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(a, b):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {x: find(x) for x in parent}


def stitch_roots(pairs, keys=()):
    """Cross-tile stitch of per-tile components in ONE job.

    The tiled operators (contour_polylines, polygonize_grid) union-find
    each tile locally; what is left is the graph of local component
    roots, with an edge (a, b) wherever two tiles see the same boundary
    node or pixel. That graph is bounded by tile perimeter x tile count
    (x levels for contour), not by raster area, so a plain union-find
    per ``keys`` group — one groupBy(keys).applyInPandas task, one
    shuffle, no driver loop — labels it.

    ``pairs`` has columns (*keys, a, b); returns (*keys, node, root)
    for every node on an edge, root = min node id of its component."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    keys = list(keys)

    def label(key, pdf):
        roots = union_find(pdf["a"].tolist(), pdf["b"].tolist())
        return pd.DataFrame(
            {**dict(zip(keys, key)), "node": list(roots),
             "root": list(roots.values())}
        )

    schema = StructType(
        [pairs.schema[k] for k in keys]
        + [StructField("node", LongType()), StructField("root", LongType())]
    )
    return pairs.groupBy(*keys).applyInPandas(label, schema=schema)
