"""The three workloads: inputs, one closed-loop iteration through the public
API into a real sink, and the output checks.

An iteration is a sequence of phases; ``phase(name)`` is a context manager
supplied by the runner that opens a span and a Spark job group, so every job
an operator starts is attributed to the phase that called it.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from . import checks, inputs


def read_rows(path: str, columns: list) -> dict:
    """Column lists of a Parquet output directory (Spark's ``_SUCCESS`` and
    ``.crc`` files are skipped by pyarrow)."""
    return pq.read_table(path, columns=columns).to_pydict()


class TilePyramid:
    """``tile_pyramid_direct(levels_below=1)`` over the image table, committed
    as a fresh ``SnapshotTable`` per iteration."""

    name = "tile_pyramid"
    phases = ("pyramid",)
    ops_per_iteration = 1
    LEVELS_BELOW = 1

    def __init__(self, seed: int, n_images: int):
        self.seed = seed
        self.n_images = n_images
        self.items = n_images

    def generate(self, root: str) -> int:
        self.data = inputs.make_images(self.seed, self.n_images, os.path.join(root, "images"))
        return self.data.in_bytes

    def sizes(self) -> dict:
        geodetic = sum(1 for m in self.data.meta if m["srid"] == 4326)
        hb = inputs.tile_bounds(inputs.HOT_TILE[1], inputs.HOT_TILE[2], inputs.HOT_TILE[0])
        hot = sum(
            1 for m in self.data.meta
            if hb[0] <= m["fp"][0] and m["fp"][2] <= hb[2] and hb[1] <= m["fp"][1] and m["fp"][3] <= hb[3]
        )
        return {"images": self.n_images, "epsg4326_sources": geodetic, "hot_tile_sources": hot}

    def iteration(self, spark, out: str, phase) -> None:
        from gdal_spark.operators.tile import tile_pyramid_direct
        from gdal_spark.plans.snapshots import SnapshotTable

        images = spark.read.parquet(self.data.path)
        with phase("pyramid"):
            tiles = tile_pyramid_direct(images, levels_below=self.LEVELS_BELOW)
            SnapshotTable(os.path.join(out, "tiles")).commit(tiles, description="bench tiles")

    def outputs(self, out: str) -> dict:
        return {"tiles": read_rows(os.path.join(out, "tiles", "snap-1"), [
            "z", "tx", "ty", "y_xyz", "png", "w", "h",
            "checksum", "checksums", "n_src", "src_ids",
        ])}

    def check(self, outs: dict) -> dict:
        rows = outs["tiles"]
        as_rows = [dict(zip(rows, vals)) for vals in zip(*rows.values())]
        return {"pyramid": checks.check_tiles(as_rows, self.data.meta, self.LEVELS_BELOW)}

    def counts(self, outs: dict) -> dict:
        tiles = len(outs["tiles"]["z"])
        fragments = sum(int(n) for n in outs["tiles"]["n_src"])
        return {
            "tile.tiles": tiles,
            "tile.fragments": fragments,
            "tile.fragments_per_tile": fragments / max(1, tiles),
        }


class SpatialJoin:
    """``point_in_polygon_join`` of captioned points against the polygon
    layer, then ``knn_join(k=8)`` for the query points; both to Parquet."""

    name = "spatial_join"
    phases = ("pip", "knn")
    ops_per_iteration = 2
    K = 8

    def __init__(self, seed: int, n_points: int, n_queries: int, n_polygons: int = 512):
        self.seed = seed
        self.n_points = n_points
        self.n_queries = n_queries
        self.n_polygons = n_polygons
        self.items = n_points

    def generate(self, root: str) -> int:
        self.data = inputs.make_join_inputs(
            self.seed, self.n_points, self.n_polygons, self.n_queries, root
        )
        self._expected = None
        return self.data.in_bytes

    def sizes(self) -> dict:
        return {"points": self.n_points, "polygons": self.n_polygons,
                "knn_queries": self.n_queries, "k": self.K}

    def iteration(self, spark, out: str, phase) -> None:
        from gdal_spark.operators.knn import knn_join
        from gdal_spark.operators.spatial_join import point_in_polygon_join

        points = spark.read.parquet(self.data.points_path)
        polygons = spark.read.parquet(self.data.polygons_path)
        with phase("pip"):
            joined = point_in_polygon_join(points, polygons)
            joined.select("pid", "caption", "fid", "name").write.parquet(os.path.join(out, "pip"))
        with phase("knn"):
            queries = spark.read.parquet(self.data.queries_path)
            nn = knn_join(queries, points.select("pid", "x", "y"), k=self.K)
            nn.write.parquet(os.path.join(out, "knn"))

    def outputs(self, out: str) -> dict:
        return {
            "pip": read_rows(os.path.join(out, "pip"), ["pid", "caption", "fid", "name"]),
            "knn": read_rows(os.path.join(out, "knn"), ["qid", "pid", "dist", "rank"]),
        }

    def expected(self):
        if self._expected is None:
            self._expected = (checks.expected_pip(self.data), checks.expected_knn(self.data, self.K))
        return self._expected

    def check(self, outs: dict) -> dict:
        pip, knn = self.expected()
        return {
            "pip": checks.check_pip(outs["pip"], self.data, pip),
            "knn": checks.check_knn(outs["knn"], knn, self.K),
        }

    def counts(self, outs: dict) -> dict:
        return {"spatial_join.matches": len(outs["pip"]["pid"]), "knn.results": len(outs["knn"]["qid"])}


class RasterVector:
    """``rasterize`` of the method rectangles (a distinct burn value each)
    onto a tiled grid -> Parquet, ``polygonize_tiles`` of that raster ->
    Parquet, then ``layer_union`` of the two rectangle layers -> Parquet."""

    name = "raster_vector"
    phases = ("rasterize", "polygonize", "union")
    ops_per_iteration = 3
    TILE = 256

    def __init__(self, seed: int, width: int, in_cell: int, m_cell: int):
        self.seed = seed
        self.width = width
        self.in_cell = in_cell
        self.m_cell = m_cell
        self.items = width * width

    def generate(self, root: str) -> int:
        self.data = inputs.make_rect_layers(self.seed, self.width, self.in_cell, self.m_cell, root)
        self._expected = None
        return self.data.in_bytes

    def sizes(self) -> dict:
        return {"raster_pixels": self.width * self.width, "tile_size": self.TILE,
                "input_rects": len(self.data.inputs), "method_rects": len(self.data.methods)}

    def iteration(self, spark, out: str, phase) -> None:
        from gdal_spark.operators.layer_algebra import layer_union
        from gdal_spark.operators.polygonize import polygonize_tiles
        from gdal_spark.operators.rasterize import rasterize

        methods = spark.read.parquet(self.data.methods_path)
        layer_in = spark.read.parquet(self.data.inputs_path)
        gt, n = self.data.gt, self.width
        with phase("rasterize"):
            raster = rasterize(
                spark, methods, gt, n, n, burn_col="burn", merge="replace", tile_size=self.TILE
            )
            raster.write.parquet(os.path.join(out, "raster"))
        with phase("polygonize"):
            tiles = spark.read.parquet(os.path.join(out, "raster"))
            regions = polygonize_tiles(tiles, gt, tile_size=self.TILE, exclude=(0.0,))
            regions.write.parquet(os.path.join(out, "regions"))
        with phase("union"):
            union = layer_union(layer_in, methods.drop("burn"))
            union.write.parquet(os.path.join(out, "union"))

    def outputs(self, out: str) -> dict:
        return {
            "raster": read_rows(os.path.join(out, "raster"), ["tile_x", "tile_y", "w", "h"]),
            "regions": read_rows(os.path.join(out, "regions"), ["value", "n_pixels", "area"]),
            "union": read_rows(os.path.join(out, "union"), ["in_fid", "m_fid", "area"]),
        }

    def expected(self):
        if self._expected is None:
            self._expected = (checks.expected_regions(self.data), checks.expected_union(self.data))
        return self._expected

    def check(self, outs: dict) -> dict:
        regions, union = self.expected()
        nt = math.ceil(self.width / self.TILE)
        keys = sorted(zip(outs["raster"]["tile_x"], outs["raster"]["tile_y"]))
        raster_errs = []
        if keys != [(x, y) for x in range(nt) for y in range(nt)]:
            raster_errs.append(f"raster has {len(keys)} tiles, expected the full {nt}x{nt} grid")
        return {
            "rasterize": raster_errs,
            "polygonize": checks.check_regions(outs["regions"], self.data, regions),
            "union": checks.check_union(outs["union"], union),
        }

    def counts(self, outs: dict) -> dict:
        u = outs["union"]
        pieces = sum(1 for i, m in zip(u["in_fid"], u["m_fid"]) if i is not None and m is not None)
        return {"polygonize.regions": len(outs["regions"]["value"]), "layer_algebra.pieces": pieces}


def build(name: str, seed: int, scale: float = 1.0):
    """The workload ``name`` at its benchmark size times ``scale``."""
    if name == "tile_pyramid":
        return TilePyramid(seed, max(4, round(64 * scale)))
    if name == "spatial_join":
        return SpatialJoin(seed, max(200, round(50_000 * scale)), max(8, round(200 * scale)))
    if name == "raster_vector":
        width = max(256, round(512 * math.sqrt(scale) / 64) * 64)
        return RasterVector(seed, width, in_cell=24, m_cell=32)
    raise ValueError(f"unknown workload {name!r}")


NAMES = ("tile_pyramid", "spatial_join", "raster_vector")
