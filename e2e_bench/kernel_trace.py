"""Timing wrappers around the engine's public kernel functions, installed
in the Python workers of the traced run.

The traced session sets ``spark.python.daemon.module`` to this module, so
Spark starts its Python worker daemon as ``python -m
e2e_bench.kernel_trace``: the wrappers are installed once in the daemon and
every forked worker inherits them. Each wrapped call appends one line
``<family>\\t<seconds>\\t<bytes out>`` to a per-process file in the
directory named by ``E2E_BENCH_TRACE_DIR``; the driver reads the files
between phases (:class:`KernelLog`).

A function is patched wherever it can be looked up at call time: in the
module that defines it, and in every loaded engine module that bound it by
name at import (``operators/tile.py`` binds ``resize``, ``warp_array`` and
``image_checksums``; ``operators/layer_algebra.py`` binds
``boolean_full``). The defining module matters too: a closure shipped by
value to the workers (``layer_algebra._pairwise_op``'s ``do``) resolves
the function it calls through the defining module, not through the module
the closure was written in. Modules imported after installation bind the
wrapper. Nested calls of one family (``decode_image`` calling
``decode_png``) count once, as the outermost call.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading
import time
from collections import defaultdict

TRACE_ENV = "E2E_BENCH_TRACE_DIR"

# (defining module, attribute, metric family, count bytes of the result)
TARGETS = (
    ("gdal_spark.codecs", "decode_image", "codecs.decode", False),
    ("gdal_spark.codecs", "decode_png", "codecs.decode", False),
    ("gdal_spark.codecs", "encode_png", "codecs.encode_png", True),
    ("gdal_spark.resample", "resize", "resample", False),
    ("gdal_spark.operators.warp", "warp_array", "warp", False),
    ("gdal_spark.checksum", "image_checksums", "checksum", False),
    ("gdal_spark.geom", "points_in_geometry", "geom.pip", False),
    ("gdal_spark.operators.polygonize", "label_components", "polygonize.label", False),
    ("gdal_spark.booleans", "boolean_full", "layer_algebra.kernel", False),
)
FAMILIES = tuple(dict.fromkeys(t[2] for t in TARGETS))


class _Sink:
    """Per-process append-only line file; reopened after a fork."""

    def __init__(self, directory: str):
        self.directory = directory
        self.pid = None
        self.fd = None
        self.local = threading.local()

    def write(self, line: str) -> None:
        pid = os.getpid()
        if pid != self.pid:
            self.pid = pid
            self.fd = os.open(
                os.path.join(self.directory, f"kernels-{pid}.tsv"),
                os.O_WRONLY | os.O_CREAT | os.O_APPEND,
                0o644,
            )
        os.write(self.fd, line.encode())


def _wrap(fn, family: str, count_bytes: bool, sink: _Sink):
    @functools.wraps(fn)
    def timed(*args, **kwargs):
        active = sink.local.__dict__.setdefault("active", set())
        if family in active:
            return fn(*args, **kwargs)
        active.add(family)
        t0 = time.perf_counter()
        nbytes = 0
        try:
            out = fn(*args, **kwargs)
            if count_bytes:
                nbytes = len(out)
            return out
        finally:
            active.discard(family)
            sink.write(f"{family}\t{time.perf_counter() - t0:.9f}\t{nbytes}\n")

    return timed


def install(directory: str) -> None:
    sink = _Sink(directory)
    for mod_name, attr, family, count_bytes in TARGETS:
        orig = getattr(importlib.import_module(mod_name), attr)
        timed = _wrap(orig, family, count_bytes, sink)
        for name, mod in list(sys.modules.items()):
            if name.startswith("gdal_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, timed)


class KernelLog:
    """Driver-side reader: totals of the lines appended since the last
    :meth:`take`, per family."""

    def __init__(self, directory: str):
        self.directory = directory
        self.offsets: dict[str, int] = {}

    def take(self) -> dict:
        calls = defaultdict(int)
        secs = defaultdict(float)
        nbytes = defaultdict(int)
        for name in sorted(os.listdir(self.directory)):
            if not name.startswith("kernels-"):
                continue
            path = os.path.join(self.directory, name)
            with open(path, "rb") as f:
                f.seek(self.offsets.get(name, 0))
                data = f.read()
            end = data.rfind(b"\n") + 1  # leave a partial last line for later
            self.offsets[name] = self.offsets.get(name, 0) + end
            for line in data[:end].decode().splitlines():
                family, dt, nb = line.split("\t")
                calls[family] += 1
                secs[family] += float(dt)
                nbytes[family] += int(nb)
        return {
            f: {"calls": calls[f], "s": secs[f], "bytes": nbytes[f]} for f in FAMILIES
        }


def main() -> None:
    directory = os.environ.get(TRACE_ENV)
    if directory:
        install(directory)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
