"""Closed-loop end-to-end benchmark of the gdal_spark engine.

    python3 e2e_bench/run.py --workload tile_pyramid --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process on ``local[<cpus>]`` acts
as one client: it generates the workload's inputs from ``--seed``, starts a
session, runs one warm-up iteration, then runs iterations back to back
(each starts only after the previous one's outputs are fully written) until
``--seconds`` have passed. Afterwards every measured iteration's outputs
are checked against expectations computed from the inputs alone.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs the
same command with ``--trace 0`` in a child process, then runs the loop in a
session with the Spark event log and the worker kernel wrappers on, and
prints the per-layer metrics plus the tracing overhead (traced over
untraced ``iter_s``). The last line of standard
output is the JSON result; the line before it is the run record (cpus,
versions, sizes, sample counts). Both are also written under
``.e2e_bench_results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # the engine and this package, from the checkout

from e2e_bench import workloads  # noqa: E402

DRIVER_MEM = "2g"
DEADLINE_S = 170  # hard stop: the run must end well inside three minutes
MIN_ITERATIONS = 2

END_TO_END = {
    "setup_s": "s",
    "iter_s": "s",
    "items_per_s": "1/s",
    "out_bytes_per_in_byte": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.driver_gap_s": "s",
    "pyworker.run_s": "s", "pyworker.boot_s": "s", "pyworker.init_s": "s",
    "pyworker.bytes_to_py": "bytes", "pyworker.bytes_from_py": "bytes",
    "codecs.decode.calls": "count", "codecs.decode.s": "s",
    "codecs.encode_png.calls": "count", "codecs.encode_png.s": "s",
    "codecs.encode_png.bytes_out": "bytes",
    "resample.calls": "count", "resample.s": "s",
    "warp.calls": "count", "warp.s": "s",
    "checksum.calls": "count", "checksum.s": "s",
    "tile.fragments": "count", "tile.tiles": "count",
    "tile.fragments_per_tile": "ratio", "phase.pyramid.s": "s",
    "spatial_join.candidates": "count", "spatial_join.matches": "count",
    "spatial_join.hit_ratio": "ratio", "geom.pip.calls": "count",
    "geom.pip.s": "s", "phase.pip.s": "s",
    "knn.jobs": "count", "knn.candidates": "count",
    "knn.candidates_per_result": "ratio", "phase.knn.s": "s",
    "phase.rasterize.s": "s", "phase.polygonize.s": "s",
    "polygonize.jobs": "count", "polygonize.label.s": "s",
    "layer_algebra.candidates": "count", "layer_algebra.pieces": "count",
    "layer_algebra.kernel.calls": "count", "layer_algebra.kernel.s": "s",
    "phase.union.s": "s",
    "sink.s": "s", "sink.bytes": "bytes",
    "trace.untraced_iter_s": "s", "trace.iter_s": "s", "trace.overhead": "ratio",
    "trace.uncovered_s": "s",
    "failed_ratio": "ratio",
}


class Deadline(Exception):
    pass


def _on_alarm(_sig, _frame):
    raise Deadline(f"run exceeded {DEADLINE_S}s")


# ---------------------------------------------------------------------------
# run hygiene: environment record, /proc readings
# ---------------------------------------------------------------------------


def other_spark_jvms() -> int:
    """Spark JVMs already running (contention makes every timing suspect)."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


def _children(pid: int) -> list:
    kids = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak resident set sizes of the driver JVM and every process
    below it (the Python worker daemon and its workers)."""
    total, todo, seen = 0, [jvm_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        try:
            todo.extend(_children(pid))
        except OSError:
            pass
    return total / 1024.0


def source_digest() -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, "gdal_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def dir_bytes(path: str) -> int:
    """Bytes of a sink: data files and manifests, not checksum side files."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(base, f))
    return total


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------


class Session:
    """One SparkSession plus the trace plumbing it was started with."""

    def __init__(self, work: str, cpus: int, traced: bool):
        from gdal_spark.session import get_spark

        local = os.path.join(work, "spark-local")
        os.makedirs(local, exist_ok=True)
        extra = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep every JVM file inside the checkout (no /tmp/hsperfdata_*)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": ROOT,
        }
        self.event_dir = self.kernel_dir = None
        if traced:
            from e2e_bench.kernel_trace import TRACE_ENV

            self.event_dir = os.path.join(work, "eventlog")
            self.kernel_dir = os.path.join(work, "kernels")
            os.makedirs(self.event_dir)
            os.makedirs(self.kernel_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.python.daemon.module": "e2e_bench.kernel_trace",
                f"spark.executorEnv.{TRACE_ENV}": self.kernel_dir,
            })
        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{cpus}]", app_name="e2e_bench", extra=extra)
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the driver JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


class Loop:
    """Runs iterations of one workload in one session and keeps, per
    iteration: wall time, phase spans (epoch seconds) and the output dir."""

    def __init__(self, wl, session: Session, out_root: str):
        self.wl = wl
        self.session = session
        self.out_root = out_root
        self.iterations = []  # dicts: out, wall_s, start, end, spans, error

    def run_one(self, label: str) -> dict:
        it = {"out": os.path.join(self.out_root, label), "spans": {}, "error": None}
        sc = self.session.sc

        @contextlib.contextmanager
        def phase(name):
            sc.setJobGroup(f"{label}:{name}", f"{self.wl.name} {name}")
            t0 = time.time()
            try:
                yield
            finally:
                it["spans"][name] = (t0, time.time())

        it["start"] = time.time()
        t0 = time.perf_counter()
        try:
            self.wl.iteration(self.session.spark, it["out"], phase)
        except Deadline:
            raise
        except Exception:
            it["error"] = traceback.format_exc(limit=4)
            print(f"iteration {label} failed:\n{it['error']}", file=sys.stderr)
        it["wall_s"] = time.perf_counter() - t0
        it["end"] = time.time()
        sc.setJobGroup("bench:idle", "between iterations")
        return it

    def measure(self, seconds: float, on_iteration=None) -> None:
        """At least MIN_ITERATIONS iterations; after that, start another only
        if it is expected to end within ``seconds``. The count then depends
        on the iteration time, not on where the deadline happens to fall."""
        t_end = time.perf_counter() + seconds
        while True:
            it = self.run_one(str(len(self.iterations)))
            if on_iteration:
                on_iteration(it)
            self.iterations.append(it)
            if (len(self.iterations) >= MIN_ITERATIONS
                    and time.perf_counter() + it["wall_s"] > t_end):
                break

    def iter_s(self) -> float:
        return statistics.median(i["wall_s"] for i in self.iterations)


def check_outputs(wl, iterations: list) -> tuple:
    """Check every iteration's outputs in full. Returns (attempted, failed,
    per-op errors of the first failure, per-iteration output counts)."""
    attempted = failed = 0
    first_errors = {}
    counts = []
    for it in iterations:
        attempted += wl.ops_per_iteration
        if it["error"] is not None:
            failed += wl.ops_per_iteration
            first_errors = first_errors or {"exception": [it["error"].splitlines()[-1]]}
            counts.append(None)
            continue
        outs = wl.outputs(it["out"])
        errs = wl.check(outs)
        bad = [op for op, e in errs.items() if e]
        failed += len(bad)
        if bad and not first_errors:
            first_errors = {op: errs[op] for op in bad}
        counts.append(wl.counts(outs))
    return attempted, failed, first_errors, counts


def untraced_child(args) -> dict:
    """The same run with tracing off, in its own process and JVM (a traced
    and an untraced session cannot share one driver process: the engine's
    module-level pandas UDFs stay bound to the first session). Returns its
    end-to-end metrics, the base of ``trace.overhead``."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--scale", str(args.scale)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=DEADLINE_S // 2)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"untraced run exited with {proc.returncode}")
    return json.loads(lines[-1])["metrics"]


def median_of(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# per-layer metrics of a traced loop
# ---------------------------------------------------------------------------


def layer_metrics(wl, loop: Loop, kernels: list, counts: list) -> dict:
    from e2e_bench import eventlog

    phases = eventlog.parse(eventlog.find_log(loop.session.event_dir))
    per_it = []
    for idx, it in enumerate(loop.iterations):
        m = dict.fromkeys(PER_LAYER, 0.0)
        totals, per_phase = eventlog.iteration_metrics(
            phases, idx, wl.phases, (it["start"] * 1e3, it["end"] * 1e3)
        )
        m.update((k, v) for k, v in totals.items() if k in PER_LAYER)
        spans = it["spans"]
        for p, (a, b) in spans.items():
            m[f"phase.{p}.s"] = b - a
        m["trace.uncovered_s"] = it["wall_s"] - sum(b - a for a, b in spans.values())
        k = kernels[idx]
        for fam in ("codecs.decode", "codecs.encode_png", "resample", "warp", "checksum", "geom.pip"):
            m[f"{fam}.calls"] = k[fam]["calls"]
            m[f"{fam}.s"] = k[fam]["s"]
        m["codecs.encode_png.bytes_out"] = k["codecs.encode_png"]["bytes"]
        m["polygonize.label.s"] = k["polygonize.label"]["s"]
        m["layer_algebra.kernel.calls"] = k["layer_algebra.kernel"]["calls"]
        m["layer_algebra.kernel.s"] = k["layer_algebra.kernel"]["s"]

        def join_rows(phase, marker=""):
            rows = per_phase.get(phase, {}).get("join_rows", {})
            return sum(v for plan, v in rows.items() if marker in plan)

        m["knn.jobs"] = per_phase.get("knn", {}).get("jobs", 0)
        m["polygonize.jobs"] = per_phase.get("polygonize", {}).get("jobs", 0)
        m["spatial_join.candidates"] = join_rows("pip")
        # the candidate equi-joins: knn's query-cell x point-cell join, and
        # layer_algebra's salted cell join (not the small broadcast joins)
        m["knn.candidates"] = join_rows("knn", "c_tx")
        m["layer_algebra.candidates"] = join_rows("union", "salt_i")
        c = counts[idx] or {}
        m.update((key, c[key]) for key in (
            "tile.tiles", "tile.fragments", "tile.fragments_per_tile",
            "spatial_join.matches", "layer_algebra.pieces") if key in c)
        if m["spatial_join.candidates"]:
            m["spatial_join.hit_ratio"] = m["spatial_join.matches"] / m["spatial_join.candidates"]
        if c.get("knn.results"):
            m["knn.candidates_per_result"] = m["knn.candidates"] / c["knn.results"]
        per_it.append(m)
    return {k: median_of(m[k] for m in per_it) for k in PER_LAYER}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run(args, work: str) -> tuple:
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))

    import numpy
    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cpus": cpus,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "other_spark_jvms_at_start": other_spark_jvms(),
        "versions": {"spark": pyspark.__version__, "python": platform.python_version(),
                     "numpy": numpy.__version__},
        "commit": commit(), "source_digest": source_digest(),
    }
    untraced = untraced_child(args) if args.trace else None
    wl = workloads.build(args.workload, args.seed, args.scale)

    t_setup = time.perf_counter()
    t0 = time.perf_counter()
    in_bytes = wl.generate(os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0
    session = Session(work, cpus, traced=bool(args.trace))
    loop = Loop(wl, session, os.path.join(work, "out"))
    t0 = time.perf_counter()
    warm = loop.run_one("warmup")
    warmup_s = time.perf_counter() - t0
    if warm["error"] is not None:
        raise RuntimeError(f"warm-up iteration failed:\n{warm['error']}")
    setup_s = time.perf_counter() - t_setup
    record.update({
        "sizes": wl.sizes(), "in_bytes": in_bytes,
        "setup": {"session_start_s": session.start_s, "inputs_s": gen_s, "warmup_s": warmup_s},
    })

    kernels = []
    if args.trace:
        from e2e_bench.kernel_trace import KernelLog

        klog = KernelLog(session.kernel_dir)
        klog.take()  # drop the warm-up's calls
        loop.measure(args.seconds, on_iteration=lambda _it: kernels.append(klog.take()))
    else:
        loop.measure(args.seconds)
    rss = peak_rss_mb(session.jvm_pid())
    session.spark.stop()  # also flushes the event log

    attempted, failed, errors, counts = check_outputs(wl, loop.iterations)
    iter_s = loop.iter_s()
    record.update({
        "samples": {"setup_s": 1, "iter_s": len(loop.iterations)},
        "iter_s_all": [it["wall_s"] for it in loop.iterations],
        "attempted": attempted, "failed": failed, "failed_ratio": failed / attempted,
        "check_errors": errors,
    })
    if args.trace:
        layers = layer_metrics(wl, loop, kernels, counts)
        layers["session.start_s"] = session.start_s
        layers["trace.untraced_iter_s"] = untraced["iter_s"]["value"]
        layers["trace.iter_s"] = iter_s
        layers["trace.overhead"] = iter_s / untraced["iter_s"]["value"]
        layers["failed_ratio"] = failed / attempted
        record["untraced_run"] = untraced
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "iter_s": iter_s,
            "items_per_s": wl.items / iter_s,
            "out_bytes_per_in_byte": median_of(
                dir_bytes(it["out"]) / in_bytes for it in loop.iterations if it["error"] is None
            ),
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 = the benchmark; smaller for self-tests)")
    args = ap.parse_args(argv)

    try:
        import gdal_spark.session
    except ImportError as e:
        print(f"e2e_bench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(gdal_spark.session.__file__).startswith(ROOT + os.sep):
        print(f"e2e_bench: gdal_spark comes from outside {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".e2e_bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # temp files of this process, the JVM and the Python workers stay in the
    # checkout (the JVM and its workers inherit the environment)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        record, result = run(args, work)
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(ROOT, ".e2e_bench_results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
