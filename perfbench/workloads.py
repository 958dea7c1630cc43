"""The two workloads: what each timed operation calls, and the outputs
it must return.

The stage list and the query list are the benchmark's own copies, so a
rewrite of ``bench.py`` or ``tools/submit_job.py`` does not change what
is measured. Every call goes through the engine's public functions with
the engine's own defaults (assign engine, join refine path, ...), so an
engine change to a default shows up here.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics

N_PIPELINE = 65_536  # sf0.1 image count
N_POLYS = 2_048  # sf0.1 polygon count
ASSIGN_ZOOM = 12
RENDER_CAP = 512  # pixel stages: images i % 4 = 0 in the first 512 of the window
RENDER_ZOOM = 10
SF_DIR = "sf0.1"  # the queries read only the scale name; no file is opened

# Windows shipped with pinned outputs. --seed n selects window n % len.
N_WINDOWS = 8

# Pinned per window: (n_distinct_cells, join_pairs, phash_dup_groups,
# tiles_rendered, committed_rows). Window 0 is the sf0.1 pipeline of
# tools/submit_job.py --pipeline full.
PIPELINE_PINS = {
    0: (49_221, 1_298_969, 5, 12, 12),
    1: (49_222, 1_298_275, 7, 11, 11),
    2: (49_221, 1_299_006, 6, 12, 12),
    3: (49_221, 1_299_022, 7, 12, 12),
    4: (49_222, 1_298_152, 7, 12, 12),
    5: (49_221, 1_299_088, 6, 12, 12),
    6: (49_221, 1_298_969, 6, 12, 12),
    7: (49_222, 1_298_255, 8, 11, 11),
}

# The headline queries that read only synthesized tables (the others
# read documents/embeddings parquet files that are not part of the
# repository), with their pinned row counts at sf0.1.
QUERY_ROWS = {
    "spatial_join_pip": 1247634,
    "knn_sites": 128,
    "cell_density_topk": 20,
    "pyramid_rollup": 4077,
    "tile_render_hot": 27,
    "warp_avg_down2": 24,
    "rasterize_rows": 175,
    "dem_tiled": 94,
    "contour_polylines": 3,
    "s2_density_topk": 64,
}


def window(seed: int) -> int:
    return seed % N_WINDOWS


def images(spark, offset: int, n: int):
    """The synthesized image table for rows ``offset <= i < offset + n``:
    the engine's own row formula on a shifted range with the same
    partition count for every offset."""
    from gdal_spark import synth

    sql = synth.images_cte(n, "spark")
    base = f"range(0, {n})"
    if sql.count(base) != 1:
        raise RuntimeError("synth.images_cte no longer reads one range(0, n)")
    parts = spark.sparkContext.defaultParallelism
    return spark.sql(sql.replace(base, f"range({offset}, {offset + n}, 1, {parts})"))


def polygons(spark):
    from gdal_spark import synth

    return synth.polygons_df(spark, N_POLYS)


class Pipeline:
    """assign -> PIP join -> pixels + checkpoint -> phash dedup -> z10
    render + checkpoint -> snapshot commit, on a fresh table root per
    pass."""

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.win = window(seed)
        self.offset = self.win * N_PIPELINE
        self.work_dir = work_dir
        self.n_pass = 0
        self.commit_bytes = 0
        self.commit_files = 0

    def run_pass(self, span) -> tuple:
        from pyspark.sql import functions as F

        from gdal_spark import synth, tablefmt
        from gdal_spark.operators import cells, tiling
        from gdal_spark.operators.spatial_join import prepare_spatial_join

        spark = self.spark
        imgs = images(spark, self.offset, N_PIPELINE)
        with span("assign"):
            assigned = cells.assign_cells(imgs, ASSIGN_ZOOM, "mercator")
            n_cells = assigned.select(F.countDistinct("cell_id")).collect()[0][0]
        with span("join_prepare"):
            prep = prepare_spatial_join(polygons(spark), poly_cols=["poly_id"])
        with span("join_probe"):
            pairs = prep.probe(imgs, point_cols=["image_id"]).count()
        with span("pixels"):
            px = synth.add_pixels(
                imgs.filter(f"i % 4 = 0 AND i < {self.offset + RENDER_CAP}")
            ).localCheckpoint(eager=True)
        with span("dedup"):
            dup_groups = px.groupBy("phash").count().filter("count > 1").count()
        with span("render"):
            tiles = tiling.render_base_tiles(px, RENDER_ZOOM).localCheckpoint(
                eager=True
            )
            n_tiles = tiles.count()
        self.n_pass += 1
        root = os.path.join(self.work_dir, f"table{self.n_pass}")
        try:
            with span("commit"):
                log = tablefmt.SnapshotLog(root)
                sid = log.append(
                    tiles.drop("bytes"), op="render",
                    metrics={"zoom": RENDER_ZOOM, "resumed": False},
                )
                committed = log.snapshot(sid)["summary"]["added_rows"]
            self.commit_bytes, self.commit_files = _tree_size(
                os.path.join(root, "data")
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return (n_cells, pairs, dup_groups, n_tiles, committed)

    def check(self, out: tuple) -> bool:
        return PIPELINE_PINS.get(self.win) == tuple(out)

    def join_candidates(self) -> int:
        """(image, polygon) pairs that share a cell of the prepared
        cover: the output of the cell-key equi-join the probe runs before
        its envelope and PIP refine, over both of its branches. Spark
        folds both refine tests into that join's condition, so the
        probe's own plan metrics count only the refined pairs."""
        from pyspark.sql import functions as F

        from gdal_spark.operators import cells
        from gdal_spark.operators.spatial_join import prepare_spatial_join

        prep = prepare_spatial_join(polygons(self.spark), poly_cols=["poly_id"])
        z0 = prep.join_zoom
        pts = cells.assign_cells(
            images(self.spark, self.offset, N_PIPELINE), z0, grid_kind="geodetic"
        )
        levels = [
            F.expr(cells.cell_id_sql(f"(tile_x >> {z0 - z})", f"(tile_y >> {z0 - z})", z))
            for z in prep.zs
        ]
        keys = pts.select(F.explode(F.array(*levels)).alias("cell_id"))
        return keys.join(prep.all_cells.select("cell_id"), "cell_id").count()


class QueryMix:
    """The query list in a seed-fixed order, each query ``count()``-ed."""

    def __init__(self, spark, seed: int):
        import __spark_entry__

        self.spark = spark
        registry = __spark_entry__.queries()
        self.order = sorted(QUERY_ROWS)
        random.Random(seed).shuffle(self.order)
        self.fns = {name: registry[name] for name in self.order}

    def run_query(self, name: str, span) -> int:
        with span(name):
            return self.fns[name](self.spark, SF_DIR).count()

    def check(self, name: str, rows: int) -> bool:
        return QUERY_ROWS[name] == rows


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _tree_size(root: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files
