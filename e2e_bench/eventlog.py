"""Spark event log -> per-phase ``spark.*``, ``pyworker.*`` and sink metrics.

The traced session writes an uncompressed, non-rolling event log (one JSON
object per line). The benchmark sets one job group per phase, named
``<iteration>:<phase>``, so every job, its stages and tasks, and every SQL
execution map to the phase that started them. SQL operator metrics (the
pandas operators' Python worker times and Arrow bytes, join output rows,
write commit times) are keyed by accumulator id; the plan trees in the
SQL execution events give each id its operator.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric name -> (our metric, scale to seconds/bytes/rows)
PYWORKER = {
    "time to run Python workers": ("pyworker.run_s", 1e-3),
    "time to start Python workers": ("pyworker.boot_s", 1e-3),
    "time to initialize Python workers": ("pyworker.init_s", 1e-3),
    "data sent to Python workers": ("pyworker.bytes_to_py", 1),
    "data returned from Python workers": ("pyworker.bytes_from_py", 1),
}
COMMIT_TIMES = ("task commit time", "job commit time")  # milliseconds


@dataclass
class Phase:
    """Everything the event log says about one ``<iteration>:<phase>``."""

    jobs: list = field(default_factory=list)  # (submit_ms, end_ms, ok)
    stage_ids: set = field(default_factory=set)
    tasks: dict = field(default_factory=lambda: defaultdict(list))  # stage -> durations ms
    sums: dict = field(default_factory=lambda: defaultdict(float))
    join_rows: dict = field(default_factory=lambda: defaultdict(int))  # join simpleString -> rows


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(path: str) -> dict:
    """Event log file -> {job group: Phase}."""
    phases: dict[str, Phase] = defaultdict(Phase)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    acc_node: dict[int, tuple] = {}  # accumulator id -> (node name, simpleString, metric)

    def note_plan(info):
        for node in _plan_nodes(info):
            for m in node.get("metrics", []):
                acc_node[m["accumulatorId"]] = (node["nodeName"], node["simpleString"], m["name"])

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                job_group[e["Job ID"]] = group
                job_submit[e["Job ID"]] = e["Submission Time"]
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
                eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(e["Job ID"])
                if group is not None:
                    ok = e["Job Result"]["Result"] == "JobSucceeded"
                    phases[group].jobs.append((job_submit[e["Job ID"]], e["Completion Time"], ok))
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                if sid in stage_group:
                    phases[stage_group[sid]].stage_ids.add(sid)
            elif kind.endswith("SQLExecutionStart"):
                if e.get("jobGroupId"):
                    exec_group.setdefault(e["executionId"], e["jobGroupId"])
                note_plan(e["sparkPlanInfo"])
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                note_plan(e["sparkPlanInfo"])
            elif kind.endswith("DriverAccumUpdates"):
                group = exec_group.get(e["executionId"])
                if group is None:
                    continue
                for acc_id, value in e["accumUpdates"]:
                    node = acc_node.get(acc_id)
                    if node and node[2] in COMMIT_TIMES:
                        phases[group].sums["sink.s"] += _num(value) * 1e-3
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                _task(phases[group], e, acc_node)
    return dict(phases)


def _task(ph: Phase, e: dict, acc_node: dict) -> None:
    info = e["Task Info"]
    ph.tasks[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    if e["Task End Reason"]["Reason"] != "Success":
        ph.sums["spark.failed_tasks"] += 1
    m = e.get("Task Metrics") or {}
    ph.sums["spark.task_s"] += m.get("Executor Run Time", 0) * 1e-3
    ph.sums["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    ph.sums["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    ph.sums["spark.shuffle_fetch_wait_s"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) * 1e-3
    ph.sums["sink.bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for a in info.get("Accumulables", []):
        name = a.get("Name")
        if name in PYWORKER:
            metric, scale = PYWORKER[name]
            ph.sums[metric] += _num(a.get("Update")) * scale
        elif name == "task commit time":
            ph.sums["sink.s"] += _num(a.get("Update")) * 1e-3
        elif name == "number of output rows":
            node = acc_node.get(a["ID"])
            if node and "Join" in node[0]:
                ph.join_rows[node[1]] += int(_num(a.get("Update")))


def find_log(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    return files[0]


def _covered_ms(intervals: list, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b, *_ in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def iteration_metrics(phases: dict, iteration: int, names: tuple, wall: tuple) -> tuple:
    """``spark.*``, ``pyworker.*`` and ``sink.*`` totals for one iteration,
    plus per phase its job count and its joins' output rows by operator.
    ``wall`` is the iteration's (start, end) in epoch ms."""
    out = defaultdict(float)
    per_phase = {}
    jobs = []
    widest = []
    for p in names:
        ph = phases.get(f"{iteration}:{p}", Phase())
        per_phase[p] = {"jobs": len(ph.jobs), "join_rows": dict(ph.join_rows)}
        jobs.extend(ph.jobs)
        out["spark.jobs"] += len(ph.jobs)
        out["spark.stages"] += len(ph.stage_ids)
        out["spark.tasks"] += sum(len(v) for v in ph.tasks.values())
        for k, v in ph.sums.items():
            out[k] += v
        for durations in ph.tasks.values():
            if len(durations) > len(widest):
                widest = durations
    med = statistics.median(widest) if widest else 0
    out["spark.task_skew"] = max(widest) / med if med > 0 else 0.0
    covered = _covered_ms(jobs, wall[0], wall[1])
    out["spark.driver_gap_s"] = (wall[1] - wall[0] - covered) * 1e-3
    return dict(out), per_phase
