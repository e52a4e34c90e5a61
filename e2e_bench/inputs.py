"""Seeded input generation for the three workloads.

Everything here is plain numpy + pyarrow: the engine sees only the Parquet
files these functions write (one dataset directory per table, split into
several files so the scan fans out). The same ``seed`` and sizes always give
byte-identical tables. The generators also return the geometry the output
checks need (footprints, rings, rectangles), so the checks never read back
the engine's view of its inputs.

PNG and raw sources are encoded here, not by the engine; the lossy ``jpg``
sources use the engine's GSJ1 container (``gdal_spark.codecs.encode_gsj``),
its only lossy format, so a change to that encoder changes the inputs too.
"""

from __future__ import annotations

import math
import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EARTH_RADIUS = 6378137.0
ORIGIN_SHIFT = math.pi * EARTH_RADIUS
TILE = 256

# bench-tier source mix: (w, h, channels) x format, in equal shares
IMAGE_SIZES = [(20, 20, 1), (64, 64, 3), (64, 64, 3), (128, 128, 3), (256, 256, 3)]
IMAGE_FORMATS = ("png", "raw", "jpg")
HOT_TILE = (4, 5, 9)  # (z, tx, ty) TMS: one source in five lands here
# one source in ten is EPSG:4326, cut through the per-tile warp path


def tile_bounds(tx: int, ty: int, z: int) -> tuple[float, float, float, float]:
    """TMS tile bounds in EPSG:3857 meters (gdal2tiles TileBounds)."""
    res = 2 * math.pi * EARTH_RADIUS / TILE / (2.0**z)
    return (
        tx * TILE * res - ORIGIN_SHIFT,
        ty * TILE * res - ORIGIN_SHIFT,
        (tx + 1) * TILE * res - ORIGIN_SHIFT,
        (ty + 1) * TILE * res - ORIGIN_SHIFT,
    )


def lonlat_to_meters(lon, lat):
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    mx = np.asarray(lon, dtype=np.float64) * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    return mx, my * ORIGIN_SHIFT / 180.0


def _write_dataset(table: pa.Table, path: str, n_files: int) -> int:
    """Write the rows as ``n_files`` Parquet files, rows (2k, 2k+1) to file
    k mod n_files; returns bytes. Small files each become one scan
    partition, so which rows share a task is fixed by the row slots and does
    not change with the seed (the image mix puts its heavy EPSG:4326 slots
    into different files this way)."""
    os.makedirs(path, exist_ok=True)
    idx = np.arange(table.num_rows)
    total = 0
    for f in range(n_files):
        part = table.take(pa.array(idx[(idx // 2) % n_files == f]))
        fn = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(part, fn, compression="zstd")
        total += os.path.getsize(fn)
    return total


# ---------------------------------------------------------------------------
# encoders (PNG + the raw container the engine reads)
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))


def encode_png(arr: np.ndarray) -> bytes:
    """8-bit gray/RGB PNG, filter None, zlib level 6."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    scan = np.zeros((h, 1 + w * c), dtype=np.uint8)
    scan[:, 1:] = arr.reshape(h, w * c)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2}[c], 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


def encode_raw(arr: np.ndarray) -> bytes:
    """The engine's GSRW raw container: magic, w, h, c, dtype code 0 (u8)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    return b"GSRW" + struct.pack("<IIIB", w, h, c, 0) + np.ascontiguousarray(arr).tobytes()


def _pattern(rng: np.random.Generator, slot: int, w: int, h: int, c: int) -> np.ndarray:
    """Gradient + checkerboard. Slope, period and amplitude, which set how
    well the image compresses, are fixed per slot; the seed shifts the
    pattern and the band offsets."""
    ax = 0.5 + 2.5 * ((slot * 0.4142135623730951) % 1.0)
    ay = 0.5 + 2.5 * ((slot * 0.7320508075688772) % 1.0)
    period = (8, 16, 32)[slot % 3]
    amp = 16 + 48 * ((slot * 0.2360679774997898) % 1.0)
    offs = rng.integers(0, 96, size=c)
    x = np.arange(w, dtype=np.float64)[None, :] + rng.integers(0, period)
    y = np.arange(h, dtype=np.float64)[:, None] + rng.integers(0, period)
    base = ax * x + ay * y + (((x // period) + (y // period)) % 2) * amp
    arr = np.stack([np.mod(base + offs[b] + 31.0 * b, 256.0) for b in range(c)], axis=2)
    arr = arr.astype(np.uint8)
    return arr[:, :, 0] if c == 1 else arr


# ---------------------------------------------------------------------------
# tile_pyramid: the images table
# ---------------------------------------------------------------------------

_LOW_DISCREPANCY = (0.6180339887498949, 0.7548776662466927, 0.5698402909980532)


def _grid_m(ps_m: float) -> float:
    """Tile size in meters one zoom below the native zoom of a mercator pixel
    size: a footprint placed on this grid covers a fixed set of tiles at
    both pyramid levels the workload cuts."""
    z = max(0, min(31, math.floor(math.log2(2 * math.pi * EARTH_RADIUS / TILE / ps_m))))
    return 2 * math.pi * EARTH_RADIUS / 2.0 ** max(0, z - 1)


def _snap(m: float, tile_m: float, frac: float) -> float:
    """The tile-grid line at or below ``m``, plus ``frac`` of a tile."""
    return math.floor((m + ORIGIN_SHIFT) / tile_m) * tile_m - ORIGIN_SHIFT + frac * tile_m


@dataclass
class Images:
    path: str
    in_bytes: int
    n: int
    # per image: image_id, srid, gt, w, h, footprint (minx, miny, maxx, maxy)
    meta: list = field(default_factory=list)


def make_images(seed: int, n: int, path: str, n_files: int = 4) -> Images:
    from gdal_spark.codecs import encode_gsj  # engine's lossy container

    hb = tile_bounds(HOT_TILE[1], HOT_TILE[2], HOT_TILE[0])
    rows = {k: [] for k in (
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
        "gt0", "gt1", "gt2", "gt3", "gt4", "gt5", "srid",
        "minx", "miny", "maxx", "maxy",
    )}
    meta = []
    # The work of a source depends on its size, format, CRS and how many
    # tiles its footprint covers at each level. Those are fixed per slot i,
    # the same for every seed: slot i has the i-th (size, format) pair, its
    # kind (1 in 10 EPSG:4326, 1 in 5 in the hot tile), and low-discrepancy
    # fractions for its pixel size and its offset from the tile grid one zoom
    # below its native zoom (for hot sources, the finer of that grid and the
    # hot tile's). The seed picks where on the globe (or in the hot tile)
    # each source sits and its pixels, so every seed does about the same
    # work on different data.
    combos = [(s, f) for s in IMAGE_SIZES for f in IMAGE_FORMATS]
    for i in range(n):
        rng = np.random.default_rng([seed, 1, i])
        (w, h, c), fmt = combos[i % len(combos)]
        kind = "geo" if i % 10 == 3 else "hot" if i % 5 == 1 else "world"
        e, ox, oy = ((i + 1) * np.array(_LOW_DISCREPANCY)) % 1.0
        if kind == "geo":
            srid = 4326
            ps = (0.5 + 3.5 * e) / max(w, h)  # degrees per pixel
            mx, my = lonlat_to_meters(rng.uniform(-170.0, 170.0), rng.uniform(-10.0, 10.0))
            tile_m = _grid_m(ps * ORIGIN_SHIFT / 180.0)
            minx = _snap(float(mx), tile_m, ox)
            miny = _snap(float(my), tile_m, oy)
            lat0 = math.degrees(2.0 * math.atan(math.exp(miny / EARTH_RADIUS)) - math.pi / 2.0)
            gt = (minx * 180.0 / ORIGIN_SHIFT, ps, 0.0, lat0 + h * ps, 0.0, -ps)
            xs, ys = lonlat_to_meters(
                [gt[0], gt[0] + w * ps], [gt[3] + h * gt[5], gt[3]]
            )
            fp = (float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1]))
        else:
            srid = 3857
            ps = (5e4 + 4.5e5 * e) / max(w, h)  # meters per pixel
            tile_m = _grid_m(ps)
            if kind == "hot":
                # a cell of the finer of that grid and the hot tile's grid,
                # and an offset in it that keeps the footprint (at most half
                # a cell wide) inside the cell, hence inside the hot tile
                tile_m = min(tile_m, hb[2] - hb[0])
                cells = round((hb[2] - hb[0]) / tile_m)
                minx = hb[0] + (int(rng.integers(cells)) + ox * (1 - w * ps / tile_m)) * tile_m
                miny = hb[1] + (int(rng.integers(cells)) + oy * (1 - h * ps / tile_m)) * tile_m
            else:
                cx, cy = rng.uniform(-2.0e7, 1.9e7), rng.uniform(-1.9e7, 1.8e7)
                minx, miny = _snap(cx, tile_m, ox), _snap(cy, tile_m, oy)
            gt = (minx, ps, 0.0, miny + h * ps, 0.0, -ps)
            fp = (minx, miny, minx + w * ps, miny + h * ps)
        arr = _pattern(rng, i, w, h, c)
        buf = {"png": encode_png, "raw": encode_raw, "jpg": encode_gsj}[fmt](arr)
        image_id = f"s{seed}-img{i:06d}"
        for k, v in zip(
            ("image_id", "bytes", "w", "h", "fmt", "srid"),
            (image_id, buf, w, h, fmt, srid),
        ):
            rows[k].append(v)
        rows["caption"].append(f"image {i} — ünïcodé 北京 {zlib.crc32(buf):08x}")
        rows["phash"].append(0)
        for j in range(6):
            rows[f"gt{j}"].append(float(gt[j]))
        for k, v in zip(("minx", "miny", "maxx", "maxy"), fp):
            rows[k].append(float(v))
        meta.append({"image_id": image_id, "srid": srid, "gt": gt, "w": w, "h": h, "fp": fp})
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()),
        *[(f"gt{j}", pa.float64()) for j in range(6)],
        ("srid", pa.int32()),
        *[(k, pa.float64()) for k in ("minx", "miny", "maxx", "maxy")],
    ])
    table = pa.table(rows, schema=schema)
    return Images(path, _write_dataset(table, path, n_files), n, meta)


# ---------------------------------------------------------------------------
# spatial_join: points with captions, the polygon layer, kNN queries
# ---------------------------------------------------------------------------


def _wkb_polygon(rings) -> bytes:
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        r = np.asarray(ring, dtype="<f8")
        out.append(struct.pack("<I", len(r)) + r.tobytes())
    return b"".join(out)


def _closed(ring: np.ndarray) -> np.ndarray:
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def _rect_ring(minx, miny, maxx, maxy) -> np.ndarray:
    return np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy], [minx, miny]],
        dtype=np.float64,
    )


def _convex_ring(rng, cx, cy, radius, nverts) -> np.ndarray:
    angles = np.sort(rng.uniform(0, 2 * np.pi, size=nverts))
    rr = radius * rng.uniform(0.6, 1.0, size=nverts)
    return _closed(np.stack([cx + rr * np.cos(angles), cy + rr * np.sin(angles)], axis=1))


def polygon_rings(seed: int, fid: int) -> list:
    """Rings of feature ``fid`` in the layer mix of
    ``gdal_spark.fixtures.feature_record``: fid 0 a rectangle equal to its
    envelope (fast-accept path), fid 1 a polygon with a hole, fid 2 a
    degenerate 3-point ring that must never match, fid 3 a rectangle on
    the antimeridian clamp edge, every other fid a convex 5-12-gon."""
    rng = np.random.default_rng([seed, 2, fid])
    cx = rng.uniform(-1.8e7, 1.8e7)
    cy = rng.uniform(-1.6e7, 1.6e7)
    # the radius, which sets how many points a polygon holds, is fixed per
    # fid (low-discrepancy over [1e5, 2e6]); the seed moves the polygon
    radius = 1e5 + 1.9e6 * (((fid + 1) * _LOW_DISCREPANCY[0]) % 1.0)
    if fid == 0:
        return [_rect_ring(cx - radius, cy - radius, cx + radius, cy + radius)]
    if fid == 1:
        return [_convex_ring(rng, cx, cy, radius, 10), _convex_ring(rng, cx, cy, radius * 0.3, 6)]
    if fid == 2:
        return [np.array([[cx, cy], [cx + radius, cy], [cx, cy]])]
    if fid == 3:
        return [_rect_ring(ORIGIN_SHIFT - 2e6, cy - radius, ORIGIN_SHIFT, cy + radius)]
    return [_convex_ring(rng, cx, cy, radius, int(rng.integers(5, 13)))]


@dataclass
class JoinInputs:
    points_path: str
    polygons_path: str
    queries_path: str
    in_bytes: int
    pid: np.ndarray
    x: np.ndarray
    y: np.ndarray
    captions: list
    rings: list  # per fid
    qid: np.ndarray
    qx: np.ndarray
    qy: np.ndarray


def make_join_inputs(
    seed: int, n_points: int, n_polygons: int, n_queries: int, root: str, n_files: int = 4
) -> JoinInputs:
    rng = np.random.default_rng([seed, 3])
    pid = np.arange(n_points, dtype=np.int64)
    x = rng.uniform(-2.0e7, 2.0e7, n_points)
    y = rng.uniform(-1.9e7, 1.9e7, n_points)
    tags = rng.integers(0, 1 << 32, n_points)
    captions = [f"pt {p} — ünïcodé 北京 ✓ {t:08x}" for p, t in zip(pid.tolist(), tags.tolist())]
    points = pa.table({"pid": pid, "x": x, "y": y, "caption": captions})

    rings = [polygon_rings(seed, f) for f in range(n_polygons)]
    env = [
        (float(r[0][:, 0].min()), float(r[0][:, 1].min()), float(r[0][:, 0].max()), float(r[0][:, 1].max()))
        for r in rings
    ]
    kinds = ("admin", "water", "park")
    polys = pa.table({
        "fid": pa.array(range(n_polygons), pa.int64()),
        "name": [f"zone{f}" for f in range(n_polygons)],
        "kind": [kinds[f % 3] for f in range(n_polygons)],
        "pop": pa.array(rng.integers(0, 10_000_000, n_polygons), pa.int64()),
        "wkb": pa.array([_wkb_polygon(r) for r in rings], pa.binary()),
        "minx": [e[0] for e in env], "miny": [e[1] for e in env],
        "maxx": [e[2] for e in env], "maxy": [e[3] for e in env],
    })
    qid = np.arange(n_queries, dtype=np.int64)
    qx = rng.uniform(-2.0e7, 2.0e7, n_queries)
    qy = rng.uniform(-1.9e7, 1.9e7, n_queries)
    queries = pa.table({"qid": qid, "x": qx, "y": qy})

    paths = [os.path.join(root, n) for n in ("points", "polygons", "queries")]
    total = _write_dataset(points, paths[0], n_files)
    total += _write_dataset(polys, paths[1], 1)
    total += _write_dataset(queries, paths[2], 1)
    return JoinInputs(*paths, total, pid, x, y, captions, rings, qid, qx, qy)


# ---------------------------------------------------------------------------
# raster_vector: two internally disjoint rectangle layers over one raster grid
# ---------------------------------------------------------------------------


@dataclass
class RectLayers:
    inputs_path: str
    methods_path: str
    in_bytes: int
    width: int
    gt: tuple
    inputs: np.ndarray  # (n, 5): fid, minx, miny, maxx, maxy
    methods: np.ndarray  # (n, 6): fid, minx, miny, maxx, maxy, burn


def _disjoint_rects(rng, width: int, cell: int, px: float, offset: int) -> np.ndarray:
    """One rectangle per ``cell``-pixel grid cell, strictly inside its cell,
    so the layer is disjoint by construction. Corners sit on quarter-pixel
    multiples: the scanline rounding rule is exercised (x+0.5 floors,
    pixel-centre tests) without exact .5 ties."""
    out = []
    ncell = (width - offset) // cell
    for gy in range(ncell):
        for gx in range(ncell):
            q = 4 * cell  # cell size in quarter pixels
            a, b = np.sort(rng.choice(np.arange(1, q), size=2, replace=False))
            c, d = np.sort(rng.choice(np.arange(1, q), size=2, replace=False))
            x0 = offset + gx * cell
            y0 = offset + gy * cell
            out.append((x0 + a / 4.0, y0 + c / 4.0, x0 + b / 4.0, y0 + d / 4.0))
    r = np.array(out, dtype=np.float64)  # pixel units, y down
    west, north = -20_000_000.0, 20_000_000.0
    return np.stack(
        [west + r[:, 0] * px, north - r[:, 3] * px, west + r[:, 2] * px, north - r[:, 1] * px],
        axis=1,
    )


def make_rect_layers(
    seed: int, width: int, in_cell: int, m_cell: int, root: str, n_files: int = 4
) -> RectLayers:
    rng = np.random.default_rng([seed, 4])
    px = 40_000_000.0 / width
    gt = (-20_000_000.0, px, 0.0, 20_000_000.0, 0.0, -px)
    ins = _disjoint_rects(rng, width, in_cell, px, 0)
    mets = _disjoint_rects(rng, width, m_cell, px, m_cell // 3)
    # burn values are distinct per rectangle, so rectangles that touch after
    # pixel rounding stay separate regions
    burn = rng.permutation(len(mets)).astype(np.float64) + 1.0
    in_arr = np.column_stack([np.arange(len(ins)), ins])
    m_arr = np.column_stack([np.arange(len(mets)), mets, burn])

    def table(arr, with_burn):
        cols = {
            "fid": pa.array(arr[:, 0].astype(np.int64)),
            "wkb": pa.array([_wkb_polygon([_rect_ring(*r[1:5])]) for r in arr], pa.binary()),
            "minx": arr[:, 1], "miny": arr[:, 2], "maxx": arr[:, 3], "maxy": arr[:, 4],
        }
        if with_burn:
            cols["burn"] = arr[:, 5]
        return pa.table(cols)

    ip = os.path.join(root, "inputs")
    mp = os.path.join(root, "methods")
    total = _write_dataset(table(in_arr, False), ip, n_files)
    total += _write_dataset(table(m_arr, True), mp, n_files)
    return RectLayers(ip, mp, total, width, gt, in_arr, m_arr)
