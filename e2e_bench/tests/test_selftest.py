"""Self-test of the benchmark: its reference computations, its result format,
and that every output check rejects a deliberately corrupted output.

    python3 -m pytest e2e_bench/tests -q -p no:cacheprovider

Runs from the repository root at tiny input sizes (a few minutes on 4 CPUs:
the format tests start one driver JVM per workload and mode).
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import subprocess
import sys
import zlib

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from e2e_bench import checks, inputs, workloads  # noqa: E402

SCALE = 0.1  # tiny inputs for every Spark-backed test


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# reference computations, against independent ground truth
# ---------------------------------------------------------------------------


def test_gdal_checksum_matches_gdal_golden():
    """byte.tif (20x20 uint8, one uncompressed strip at offset 8) has the
    GDAL checksum 4672 quoted by GDAL's own autotest."""
    path = os.path.join(ROOT, "tests", "data", "byte.tif")
    if not os.path.exists(path):
        pytest.skip("byte.tif fixture not present")
    with open(path, "rb") as f:
        raw = f.read()
    band = np.frombuffer(raw[8:408], dtype=np.uint8).reshape(20, 20)
    assert checks.gdal_checksum(band) == 4672


def test_png_decoder_round_trips_and_catches_a_flipped_byte():
    rng = np.random.default_rng(0)
    arr = rng.integers(0, 256, (37, 23, 3), dtype=np.uint8)
    buf = inputs.encode_png(arr)
    assert np.array_equal(checks.decode_png(buf), arr)
    from gdal_spark.codecs import encode_png  # Sub-filtered, RGBA

    rgba = rng.integers(0, 256, (16, 9, 4), dtype=np.uint8)
    assert np.array_equal(checks.decode_png(encode_png(rgba, level=3)), rgba)
    bad = bytearray(buf)
    bad[len(bad) // 2] ^= 0x01
    with pytest.raises((ValueError, zlib.error)):
        checks.decode_png(bytes(bad))


def test_even_odd_handles_holes_and_degenerate_rings():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    x = np.array([1.0, 5.0, 11.0])
    y = np.array([1.0, 5.0, 5.0])
    assert checks.points_in_rings(x, y, [outer]).tolist() == [True, True, False]
    assert checks.points_in_rings(x, y, [outer, hole]).tolist() == [True, False, False]
    # a hole that pokes out of the exterior: the part outside matches nothing
    leaky = np.array([[8, 4], [12, 4], [12, 6], [8, 6], [8, 4]], dtype=float)
    x2 = np.array([9.0, 11.0, 5.0])
    y2 = np.array([5.0, 5.0, 5.0])
    assert checks.points_in_rings(x2, y2, [outer, leaky]).tolist() == [False, False, True]
    degenerate = np.array([[0, 0], [10, 0], [0, 0]], dtype=float)
    assert not checks.points_in_rings(x, y, [degenerate]).any()


def test_region_pixel_counts_match_brute_force_pixel_centres(tmp_path):
    """The closed-form scanline counts agree with burning pixel by pixel."""
    layers = inputs.make_rect_layers(5, 128, 24, 32, str(tmp_path))
    gt, n = layers.gt, layers.width
    cols = np.arange(n)
    rows = np.arange(n) + 0.5
    brute = []
    for _fid, minx, miny, maxx, maxy, burn in layers.methods:
        c0 = np.floor((minx - gt[0]) / gt[1] + 0.5)
        c1 = np.floor((maxx - gt[0]) / gt[1] + 0.5)
        top, bot = (maxy - gt[3]) / gt[5], (miny - gt[3]) / gt[5]
        nx = int(((cols >= c0) & (cols < c1)).sum())
        ny = int(((rows >= top) & (rows < bot)).sum())
        if nx and ny:
            brute.append((burn, nx * ny))
    assert sorted(checks.expected_regions(layers).elements()) == sorted(brute)


def test_inputs_are_deterministic_per_seed(tmp_path):
    a = inputs.make_join_inputs(3, 500, 16, 4, str(tmp_path / "a"))
    b = inputs.make_join_inputs(3, 500, 16, 4, str(tmp_path / "b"))
    c = inputs.make_join_inputs(4, 500, 16, 4, str(tmp_path / "c"))
    assert a.in_bytes == b.in_bytes and np.array_equal(a.x, b.x)
    assert not np.array_equal(a.x, c.x)


# ---------------------------------------------------------------------------
# each check passes on the engine's output and fails on a corrupted copy
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    local = str(tmp_path_factory.mktemp("spark-local"))
    from gdal_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="e2e_bench_selftest",
                  extra={"spark.local.dir": local})
    yield s
    s.stop()


def _run_once(spark, name, tmp_path):
    wl = workloads.build(name, 7, SCALE)
    wl.generate(str(tmp_path / "inputs"))
    out = str(tmp_path / "out")
    wl.iteration(spark, out, lambda _p: contextlib.nullcontext())
    outs = wl.outputs(out)
    errs = wl.check(outs)
    assert not any(errs.values()), errs
    return wl, outs


def _fails(wl, outs, op):
    return bool(wl.check(outs)[op])


def test_tile_check_catches_a_flipped_tile_byte(spark, tmp_path):
    wl, outs = _run_once(spark, "tile_pyramid", tmp_path)
    bad = copy.deepcopy(outs)
    png = bytearray(bad["tiles"]["png"][0])
    png[len(png) // 2] ^= 0x10
    bad["tiles"]["png"][0] = bytes(png)
    assert _fails(wl, bad, "pyramid")
    must, _may = checks.expected_tiles(wl.data.meta)
    keys = list(zip(outs["tiles"]["z"], outs["tiles"]["tx"], outs["tiles"]["ty"]))
    i = next(i for i, k in enumerate(keys) if must.get(k))
    dropped = copy.deepcopy(outs)
    for col in dropped["tiles"].values():
        del col[i]
    assert _fails(wl, dropped, "pyramid")


def test_join_checks_catch_a_dropped_row_and_a_wrong_neighbour(spark, tmp_path):
    wl, outs = _run_once(spark, "spatial_join", tmp_path)
    bad = copy.deepcopy(outs)
    for col in bad["pip"].values():
        del col[len(col) // 2]
    assert _fails(wl, bad, "pip")
    caption = copy.deepcopy(outs)
    caption["pip"]["caption"][0] = caption["pip"]["caption"][0] + " "
    assert _fails(wl, caption, "pip")
    knn = copy.deepcopy(outs)
    knn["knn"]["pid"][0] = (knn["knn"]["pid"][0] + 1) % wl.n_points
    assert _fails(wl, knn, "knn")


def test_raster_vector_checks_catch_a_merged_region_and_a_lost_piece(spark, tmp_path):
    wl, outs = _run_once(spark, "raster_vector", tmp_path)
    merged = copy.deepcopy(outs)
    r = merged["regions"]
    r["n_pixels"][0] += r["n_pixels"][1]
    r["area"][0] += r["area"][1]
    for col in r.values():
        del col[1]
    assert _fails(wl, merged, "polygonize")
    union = copy.deepcopy(outs)
    for col in union["union"].values():
        del col[0]
    assert _fails(wl, union, "union")


# ---------------------------------------------------------------------------
# the result line: exact keys, every metric by name with its unit
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", workloads.NAMES)
def test_result_json_shape(name, trace):
    spec = _bench_spec()
    proc = subprocess.run(
        [sys.executable, "e2e_bench/run.py", "--workload", name, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=180,
    )
    assert proc.returncode == 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for v in result["metrics"].values():
        assert set(v) == {"value", "unit"} and isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        _check_kernel_coverage(name, json.loads(proc.stdout.strip().splitlines()[-2])["record"],
                               {k: v["value"] for k, v in result["metrics"].items()})


def _check_kernel_coverage(name, record, m):
    """The worker wrappers see the kernel calls of every leg, including
    those made from closures shipped to the workers by value."""
    if name == "tile_pyramid":
        assert m["checksum.calls"] >= m["tile.tiles"] > 0
        assert m["codecs.encode_png.calls"] >= m["tile.tiles"]
        assert m["codecs.decode.calls"] >= record["sizes"]["images"]
        assert m["warp.calls"] >= record["sizes"]["epsg4326_sources"] > 0
    elif name == "spatial_join":
        assert m["geom.pip.calls"] > 0
    else:
        # one boolean_full call per candidate pair (pieces leg) and one per
        # feature of either layer (erase or pass-through leg)
        sizes = record["sizes"]
        assert m["layer_algebra.kernel.calls"] >= (
            m["layer_algebra.pieces"] + sizes["input_rects"] + sizes["method_rects"]
        )


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "e2e_bench"), tmp_path / "e2e_bench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "e2e_bench/run.py", "--workload", "tile_pyramid", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
