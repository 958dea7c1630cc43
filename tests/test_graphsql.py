"""Connected-components plumbing: the distributed pointer-jump
(partition scaling, correctness, loud non-convergence) and the one-job
tile stitch, each against a brute-force search."""

import numpy as np
import pytest

from gdal_spark.graphsql import fixpoint_parts


def test_fixpoint_parts_tracks_input(spark):
    """The merge-round label tables inherit the input's parallelism
    (round-2 hardcoded coalesce(8); at 100x scale the label table must
    keep its partitions) with the sandbox floor of 8."""
    df = spark.range(1000)
    assert fixpoint_parts(df.repartition(40)) == 40
    assert fixpoint_parts(df.repartition(2)) == 8  # floor
    assert fixpoint_parts(df.coalesce(1)) == 8


def test_dedup_clusters_partition_invariant(spark):
    """Same clusters whatever the input partitioning — and the fold
    runs at >=input partitions (no hardcoded collapse)."""
    from gdal_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = (
        dedup.dedup_clusters(docs.repartition(4))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    wide = (
        dedup.dedup_clusters(docs.repartition(24))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (base.values == wide.values).all()
    assert len(base) > 0


def _bfs_roots(edges):
    """{node: min node of its component} by breadth-first search."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    roots = {}
    for start in adj:
        if start in roots:
            continue
        comp, todo = {start}, [start]
        while todo:
            for n in adj[todo.pop()] - comp:
                comp.add(n)
                todo.append(n)
        for n in comp:
            roots[n] = min(comp)
    return roots


def _path_frames(spark, n):
    nodes = spark.range(n).selectExpr("id AS node")
    pairs = spark.range(n - 1).selectExpr("id AS a", "id + 1 AS b")
    return nodes, pairs


def test_label_components_raises_when_not_converged(spark):
    """A 64-node path cannot settle in two rounds: the labels of the
    last round still change, so the call fails instead of returning
    half-merged clusters."""
    from gdal_spark.graphsql import label_components

    nodes, pairs = _path_frames(spark, 64)
    with pytest.raises(RuntimeError, match="still changing"):
        label_components(nodes, pairs, max_merge_rounds=2)


def test_label_components_matches_brute_force(spark):
    from gdal_spark.graphsql import label_components

    nodes, pairs = _path_frames(spark, 64)
    got = {
        r.node: (r.cluster_id, r.cluster_size, r.is_keeper)
        for r in label_components(nodes, pairs).collect()
    }
    want = _bfs_roots([(i, i + 1) for i in range(63)])
    assert got == {n: (want[n], 64, int(n == want[n])) for n in range(64)}


def test_stitch_roots_random_graphs_per_key(spark):
    """One union-find task per key: random sparse graphs (many small
    components, repeated and reversed edges) on three keys, labelled
    independently even where the keys share node ids."""
    from gdal_spark.graphsql import stitch_roots

    rng = np.random.default_rng(11)
    rows, want = [], {}
    for level in (64, 128, 192):
        edges = [
            (int(x), int(y))
            for x, y in rng.integers(0, 400, size=(300, 2))
            if x != y
        ]
        edges += [(y, x) for x, y in edges[:40]]
        rows += [(level, x, y) for x, y in edges]
        want.update(
            {(level, n): r for n, r in _bfs_roots(edges).items()}
        )
    pairs = spark.createDataFrame(rows, "level bigint, a bigint, b bigint")
    out = stitch_roots(pairs, ["level"])
    assert out.columns == ["level", "node", "root"]
    got = {(r.level, r.node): r.root for r in out.collect()}
    assert got == want


def test_stitch_roots_long_chain_one_group(spark):
    """No keys -> one group. A 2,000-node chain given in shuffled
    order, high ids first — the shape that needs many pointer-jump
    rounds — is one component rooted at its minimum."""
    from gdal_spark.graphsql import stitch_roots

    rng = np.random.default_rng(5)
    ids = rng.permutation(np.arange(10_000, 12_000)).tolist()
    edges = list(zip(ids[:-1], ids[1:]))
    edges = [edges[i] for i in rng.permutation(len(edges))]
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {r.node: r.root for r in stitch_roots(pairs).collect()}
    assert got == _bfs_roots(edges)
    assert set(got.values()) == {10_000}
