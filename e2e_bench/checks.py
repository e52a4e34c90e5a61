"""Output checks, derived independently of the engine.

Every expectation here is recomputed from the generated inputs with plain
numpy: a PNG decoder that verifies chunk CRCs, the GDAL checksum, a
brute-force even-odd point-in-polygon test, a brute-force kNN with a
(dist, pid) tie-break, the rasterize scanline rule, and interval
arithmetic for rectangle overlaps. The one engine helper used is
``grid.MercatorGrid.tile_range``, the gdal2tiles tile-range rule the tile
key set is defined by.

Each ``check_*`` function returns a list of error strings; empty means the
output is correct.
"""

from __future__ import annotations

import math
import struct
import zlib
from collections import Counter, defaultdict

import numpy as np

from .inputs import EARTH_RADIUS, ORIGIN_SHIFT, TILE, tile_bounds

MAX_ERRORS = 5

# ---------------------------------------------------------------------------
# PNG decode + GDAL checksum
# ---------------------------------------------------------------------------

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _unfilter(raw: bytes, h: int, w: int, c: int) -> np.ndarray:
    stride = w * c
    rows = np.frombuffer(raw, dtype=np.uint8)
    if rows.size != h * (stride + 1):
        raise ValueError(f"PNG data size {rows.size} != {h * (stride + 1)}")
    rows = rows.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = int(rows[y, 0])
        line = rows[y, 1:].astype(np.int32)
        if ft == 0:
            cur = line
        elif ft == 1:  # Sub: a running sum per channel, mod 256
            cur = np.cumsum(line.reshape(w, c), axis=0).reshape(stride) & 0xFF
        elif ft == 2:
            cur = (line + prev) & 0xFF
        elif ft in (3, 4):  # Average, Paeth: sequential along the row
            raw_l, up = line.tolist(), prev.tolist()
            out_l = [0] * stride
            for x in range(stride):
                a = out_l[x - c] if x >= c else 0
                b = up[x]
                if ft == 3:
                    p = (a + b) >> 1
                else:
                    cc = up[x - c] if x >= c else 0
                    pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
                    p = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                out_l[x] = (raw_l[x] + p) & 0xFF
            cur = np.array(out_l, dtype=np.int32)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, c)


def decode_png(buf: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG -> (h, w, c) uint8. Raises on any chunk CRC
    mismatch, so one flipped byte anywhere in the file is caught."""
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos < len(buf):
        (n,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + n]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + n)
        if zlib.crc32(tag + data) != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
        pos += 12 + n
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, ctype, _cm, _fm, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype not in _CHANNELS:
        raise ValueError(f"unsupported PNG depth={depth} type={ctype}")
    return _unfilter(zlib.decompress(b"".join(idat)), h, w, _CHANNELS[ctype])


_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


def gdal_checksum(band: np.ndarray) -> int:
    """GDALChecksumImage of one full unsigned band: the sum over pixels in
    row-major order of value % primes[index % 11], kept to 16 bits."""
    v = np.asarray(band, dtype=np.int64).ravel()
    return int((v % _PRIMES[np.arange(v.size) % 11]).sum()) & 0xFFFF


# ---------------------------------------------------------------------------
# tile_pyramid
# ---------------------------------------------------------------------------


def native_zoom(srid: int, gt1: float) -> int:
    """gdal2tiles ZoomForPixelSize: the last zoom that does not upsample."""
    ps = gt1 * (ORIGIN_SHIFT / 180.0) if srid == 4326 else gt1
    z = math.floor(math.log2((2 * math.pi * EARTH_RADIUS / TILE) / ps))
    return max(0, min(31, z))


def expected_tiles(meta: list, levels_below: int = 1):
    """Per tile key, the sources that must cover it (overlap of at least two
    output pixels on both axes) and the sources that may (any overlap). A
    sliver under two pixels can round to an empty window, so whether it
    yields a fragment is not decided here."""
    from gdal_spark.grid import MercatorGrid

    grid = MercatorGrid()
    must, may = defaultdict(set), defaultdict(set)
    for m in meta:
        zmax = native_zoom(m["srid"], m["gt"][1])
        fminx, fminy, fmaxx, fmaxy = m["fp"]
        for z in range(zmax, max(0, zmax - levels_below) - 1, -1):
            res = 2 * math.pi * EARTH_RADIUS / TILE / 2.0**z
            tminx, tminy, tmaxx, tmaxy = (int(v) for v in grid.tile_range(fminx, fminy, fmaxx, fmaxy, z))
            for tx in range(tminx, tmaxx + 1):
                for ty in range(tminy, tmaxy + 1):
                    bminx, bminy, bmaxx, bmaxy = tile_bounds(tx, ty, z)
                    ox = (min(fmaxx, bmaxx) - max(fminx, bminx)) / res
                    oy = (min(fmaxy, bmaxy) - max(fminy, bminy)) / res
                    key = (z, tx, ty)
                    may[key].add(m["image_id"])
                    if ox >= 2.0 and oy >= 2.0:
                        must[key].add(m["image_id"])
    return must, may


def check_tiles(rows: list, meta: list, levels_below: int = 1) -> list:
    """``rows``: dicts with z, tx, ty, y_xyz, png, w, h, checksum,
    checksums, n_src, src_ids (the snapshot's tile rows)."""
    must, may = expected_tiles(meta, levels_below)
    errs = []
    seen = set()
    for r in rows:
        key = (int(r["z"]), int(r["tx"]), int(r["ty"]))
        if key in seen:
            errs.append(f"duplicate tile {key}")
        seen.add(key)
        if key not in may:
            errs.append(f"tile {key} is outside every source footprint")
            continue
        ids = list(r["src_ids"])
        if ids != sorted(set(ids)) or int(r["n_src"]) != len(ids):
            errs.append(f"tile {key}: src_ids not sorted/unique or n_src {r['n_src']} != {len(ids)}")
        if not must[key] <= set(ids) <= may[key]:
            errs.append(f"tile {key}: src_ids {sorted(ids)[:3]}.. do not match the covering sources")
        if int(r["y_xyz"]) != (1 << key[0]) - 1 - key[2]:
            errs.append(f"tile {key}: y_xyz {r['y_xyz']}")
        try:
            arr = decode_png(bytes(r["png"]))
        except (ValueError, zlib.error, struct.error) as e:
            errs.append(f"tile {key}: PNG does not decode ({e})")
            continue
        if arr.shape[:2] != (int(r["h"]), int(r["w"])) or arr.shape[:2] != (TILE, TILE):
            errs.append(f"tile {key}: shape {arr.shape}")
            continue
        sums = [gdal_checksum(arr[:, :, b]) for b in range(arr.shape[2])]
        if sums != [int(s) for s in r["checksums"]] or int(r["checksum"]) != sums[0]:
            errs.append(f"tile {key}: checksums {list(r['checksums'])} != recomputed {sums}")
        if arr.shape[2] in (2, 4) and not (arr[:, :, -1] == 255).any():
            errs.append(f"tile {key}: fully transparent")
        if len(errs) >= MAX_ERRORS:
            return errs
    missing = [k for k, ids in must.items() if ids and k not in seen]
    if missing:
        errs.append(f"{len(missing)} covered tiles missing, e.g. {sorted(missing)[:3]}")
    return errs


# ---------------------------------------------------------------------------
# spatial_join
# ---------------------------------------------------------------------------


def _ring_parity(x: np.ndarray, y: np.ndarray, ring) -> np.ndarray:
    """Even-odd crossing parity of the points against one ring; a ring of
    fewer than 4 points contains nothing."""
    inside = np.zeros(x.shape, dtype=bool)
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 4:
        return inside
    for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
        straddle = (y1 > y) != (y2 > y)
        if not straddle.any():
            continue
        xi = x1 + (y[straddle] - y1) * (x2 - x1) / (y2 - y1)
        idx = np.nonzero(straddle)[0]
        inside[idx[x[straddle] < xi]] ^= True
    return inside


def points_in_rings(x: np.ndarray, y: np.ndarray, rings: list) -> np.ndarray:
    """Simple-features polygon membership: inside the exterior ring and
    inside no hole, each by even-odd parity. For a hole that lies within
    the exterior this equals the parity over all rings; the layer mix's
    holed polygon can have a hole that pokes out of the exterior, and the
    part outside the exterior belongs to no polygon."""
    if not rings:
        return np.zeros(x.shape, dtype=bool)
    inside = _ring_parity(x, y, rings[0])
    for hole in rings[1:]:
        inside &= ~_ring_parity(x, y, hole)
    return inside


def expected_pip(inp) -> set:
    pairs = set()
    for fid, rings in enumerate(inp.rings):
        r0 = np.asarray(rings[0])
        if len(r0) < 4:
            continue
        cand = np.nonzero(
            (inp.x >= r0[:, 0].min()) & (inp.x <= r0[:, 0].max())
            & (inp.y >= r0[:, 1].min()) & (inp.y <= r0[:, 1].max())
        )[0]
        hit = cand[points_in_rings(inp.x[cand], inp.y[cand], rings)]
        pairs.update((int(p), fid) for p in inp.pid[hit])
    return pairs


def check_pip(rows: dict, inp, expected: set) -> list:
    """``rows``: column lists pid, fid, caption, name of the join output."""
    errs = []
    got = Counter(zip((int(p) for p in rows["pid"]), (int(f) for f in rows["fid"])))
    dup = [k for k, n in got.items() if n > 1]
    if dup:
        errs.append(f"{len(dup)} duplicated (pid, fid) rows, e.g. {dup[:3]}")
    extra = set(got) - expected
    missing = expected - set(got)
    if extra:
        errs.append(f"{len(extra)} false matches, e.g. {sorted(extra)[:3]}")
    if missing:
        errs.append(f"{len(missing)} missed matches, e.g. {sorted(missing)[:3]}")
    for p, f, cap, name in zip(rows["pid"], rows["fid"], rows["caption"], rows["name"]):
        if cap != inp.captions[int(p)] or name != f"zone{int(f)}":
            errs.append(f"pid {p}: caption or name not passed through exactly")
            break
    return errs


def expected_knn(inp, k: int) -> dict:
    """qid -> [(pid, dist)] of the k nearest points, ties broken by pid."""
    out = {}
    for q, qx, qy in zip(inp.qid.tolist(), inp.qx.tolist(), inp.qy.tolist()):
        d = np.sqrt((qx - inp.x) * (qx - inp.x) + (qy - inp.y) * (qy - inp.y))
        near = np.argpartition(d, min(k + 16, len(d) - 1))[: k + 16]
        order = near[np.lexsort((inp.pid[near], d[near]))][:k]
        out[q] = [(int(inp.pid[i]), float(d[i])) for i in order]
    return out


def check_knn(rows: dict, expected: dict, k: int) -> list:
    """``rows``: column lists qid, pid, dist, rank."""
    errs = []
    got = defaultdict(list)
    for q, p, d, rk in zip(rows["qid"], rows["pid"], rows["dist"], rows["rank"]):
        got[int(q)].append((int(rk), int(p), float(d)))
    if set(got) != set(expected):
        errs.append(f"queries answered {len(got)} != {len(expected)}")
    for q, exp in expected.items():
        res = sorted(got.get(q, []))
        if [r[0] for r in res] != list(range(1, k + 1)):
            errs.append(f"query {q}: ranks {[r[0] for r in res]}")
        elif [r[1] for r in res] != [e[0] for e in exp]:
            errs.append(f"query {q}: neighbours {[r[1] for r in res]} != {[e[0] for e in exp]}")
        elif any(abs(r[2] - e[1]) > 1e-9 * max(1.0, e[1]) for r, e in zip(res, exp)):
            errs.append(f"query {q}: distances differ")
        if len(errs) >= MAX_ERRORS:
            break
    return errs


# ---------------------------------------------------------------------------
# raster_vector
# ---------------------------------------------------------------------------


def expected_regions(layers) -> Counter:
    """(burn value, pixel count) of every rectangle's region, by the
    rasterize scanline rule: columns [floor(x0+.5), floor(x1+.5)), rows
    whose centre lies in [top, bottom)."""
    gt, n = layers.gt, layers.width
    m = layers.methods
    px0 = (m[:, 1] - gt[0]) / gt[1]
    px1 = (m[:, 3] - gt[0]) / gt[1]
    top = (m[:, 4] - gt[3]) / gt[5]
    bot = (m[:, 2] - gt[3]) / gt[5]
    nx = np.clip(np.floor(px1 + 0.5), 0, n) - np.clip(np.floor(px0 + 0.5), 0, n)
    ny = np.clip(np.ceil(bot - 0.5), 0, n) - np.clip(np.ceil(top - 0.5), 0, n)
    keep = (nx > 0) & (ny > 0)
    return Counter(zip(m[keep, 5].tolist(), (nx * ny)[keep].astype(np.int64).tolist()))


def check_regions(rows: dict, layers, expected: Counter) -> list:
    """``rows``: column lists value, n_pixels, area of the polygonize output."""
    errs = []
    got = Counter(zip((float(v) for v in rows["value"]), (int(n) for n in rows["n_pixels"])))
    if got != expected:
        extra = sorted((got - expected).elements())[:3]
        missing = sorted((expected - got).elements())[:3]
        errs.append(
            f"regions differ: {len(rows['value'])} rows vs {sum(expected.values())} expected; "
            f"unexpected {extra}, missing {missing}"
        )
    pix_area = layers.gt[1] * layers.gt[1]
    for n, a in zip(rows["n_pixels"], rows["area"]):
        if abs(float(a) - int(n) * pix_area) > 1e-6 * int(n) * pix_area:
            errs.append(f"region of {n} pixels has area {a}")
            break
    return errs


def expected_union(layers) -> dict:
    """(in_fid | -1, m_fid | -1) -> area: pairwise overlaps, then each
    feature's area minus its overlaps (each layer is internally disjoint)."""
    a, b = layers.inputs, layers.methods
    out = {}
    w = np.minimum(a[:, None, 3], b[None, :, 3]) - np.maximum(a[:, None, 1], b[None, :, 1])
    h = np.minimum(a[:, None, 4], b[None, :, 4]) - np.maximum(a[:, None, 2], b[None, :, 2])
    ov = np.where((w > 0) & (h > 0), w * h, 0.0)
    for i, j in zip(*np.nonzero(ov)):
        out[(int(a[i, 0]), int(b[j, 0]))] = float(ov[i, j])
    for arr, sums, side in ((a, ov.sum(axis=1), 0), (b, ov.sum(axis=0), 1)):
        rest = (arr[:, 3] - arr[:, 1]) * (arr[:, 4] - arr[:, 2]) - sums
        for fid, r in zip(arr[:, 0].astype(np.int64).tolist(), rest.tolist()):
            if r > 0:
                out[(fid, -1) if side == 0 else (-1, fid)] = r
    return out


def check_union(rows: dict, expected: dict) -> list:
    """``rows``: column lists in_fid, m_fid (None for remainders), area."""
    errs = []
    got = Counter()
    areas = {}
    for i, m, a in zip(rows["in_fid"], rows["m_fid"], rows["area"]):
        key = (-1 if i is None else int(i), -1 if m is None else int(m))
        got[key] += 1
        areas[key] = float(a)
    dup = [k for k, n in got.items() if n > 1]
    if dup:
        errs.append(f"{len(dup)} duplicated union rows, e.g. {dup[:3]}")
    if set(got) != set(expected):
        extra = sorted(set(got) - set(expected))[:3]
        missing = sorted(set(expected) - set(got))[:3]
        errs.append(f"union rows differ: unexpected {extra}, missing {missing}")
    bad = [k for k in expected if k in areas and abs(areas[k] - expected[k]) > 1e-9 * expected[k]]
    if bad:
        k = bad[0]
        errs.append(f"{len(bad)} union areas differ, e.g. {k}: {areas[k]} != {expected[k]}")
    return errs
