"""Spans around the benchmark's calls into the package, and the traced run's
per-layer breakdown from the Spark event log.

Spans live in memory (name, start, end, parent). When tracing is on, each
span also tags the Spark jobs it launches with a job group `pb-<index>`; the
event log is parsed at exit and every job is attributed to its span by that
tag. Jobs launched from the package's own worker threads carry no tag (job
groups are thread-local), so an untagged job goes to the innermost span
whose interval holds the job's submission time.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# The package layers the benchmark calls, named module.function.
SPANS = [
    "plans.pyramid.build_pyramid",
    "sources.tile_store.write_tile_store",
    "sources.tile_store.get_tile",
    "sources.tile_store.get_tiles",
    "operators.engine.init",
    "operators.engine.get_tile_hit",
    "operators.engine.get_tile_miss",
    "operators.engine.update_data",
    "analytics.q_pip_join",
    "cluster.grid.build_grid_trees",
    "training.q_minhash_lsh_dedup",
]
SPAN_FIELDS = {
    "calls": ("count", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "driver_gap_s": ("s", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "jvm_gc_s": ("s", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "python_init_s": ("s", "lower"),
    "python_run_s": ("s", "lower"),
    "python_bytes": ("B", "lower"),
}
KERNELS = [
    "functions.convert.convert_geojson",
    "functions.flat.clip_flat",
    "functions.flat.assemble_flat",
    "functions.flat.tile_geometry_json",
]
KERNEL_FIELDS = {"s": ("s", "lower"), "vertices_per_s": ("1/s", "higher")}
DECISIONS = {
    "plans.pyramid.one_shot": ("flag", "higher"),
    "plans.pyramid.head_fused_levels": ("count", "higher"),
    "operators.engine.store_frames": ("count", "lower"),
    "sources.tile_store.get_tiles.found_ratio": ("ratio", "higher"),
    "trace.cycle_s": ("s", "lower"),
    "trace.cycle_cpu_s": ("s", "lower"),
}


def per_layer_spec() -> list:
    out = []
    for s in SPANS:
        out += [{"name": f"{s}.{f}", "unit": u, "better": b} for f, (u, b) in SPAN_FIELDS.items()]
    for k in KERNELS:
        out += [{"name": f"{k}.{f}", "unit": u, "better": b} for f, (u, b) in KERNEL_FIELDS.items()]
    out += [{"name": n, "unit": u, "better": b} for n, (u, b) in DECISIONS.items()]
    return out


class Tracer:
    def __init__(self, spark, tag_jobs: bool):
        self.sc = spark.sparkContext
        self.tag_jobs = tag_jobs
        self.spans: list = []  # dicts: name, start, end, parent
        self._stack: list = []

    def _tag(self, idx) -> None:
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{idx}", self.spans[idx]["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(idx)
        if self.tag_jobs:
            self._tag(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.tag_jobs:
                self._tag(parent)


# -- event log ------------------------------------------------------------------


def _acc(stage_info: dict) -> dict:
    out = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def parse_event_log(log_dir: str) -> list:
    """Jobs with their span tag, interval and summed stage metrics."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: dict = {}
    stage_job: dict = {}
    stage_metrics: dict = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    jobs[jid] = {
                        "id": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = min(stage_job.get(sid, jid), jid)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    acc = _acc(info)
                    m = stage_metrics.setdefault(info["Stage ID"], {})
                    for k, v in acc.items():
                        m[k] = m.get(k, 0.0) + v
    for j in jobs.values():
        j["metrics"] = {}
    for sid, m in stage_metrics.items():
        jid = stage_job.get(sid)
        if jid is None or jid not in jobs:
            continue
        tot = jobs[jid]["metrics"]
        for k, v in m.items():
            tot[k] = tot.get(k, 0.0) + v
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return sorted(jobs.values(), key=lambda j: j["id"])


def _union_len(intervals: list) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list, jobs: list) -> list:
    """Span index for each job (None when it ran outside every span)."""
    out = []
    for j in jobs:
        idx = None
        g = j["group"] or ""
        if g.startswith("pb-") and g[3:].isdigit() and int(g[3:]) < len(spans):
            idx = int(g[3:])
        else:
            best = None
            for i, s in enumerate(spans):
                if s["start"] <= j["start"] <= (s["end"] or s["start"]):
                    if best is None or s["start"] >= spans[best]["start"]:
                        best = i
            idx = best
        out.append(idx)
    return out


def _sum(m: dict, *names) -> float:
    return sum(m.get(n, 0.0) for n in names)


def layer_metrics(spans: list, jobs: list) -> dict:
    """Per span name: calls, self time, jobs, driver gap and the summed
    executor / shuffle / Python-worker metrics of its jobs."""
    owner = attribute(spans, jobs)
    by_span: dict = {}
    for j, idx in zip(jobs, owner):
        if idx is not None:
            by_span.setdefault(idx, []).append(j)
    children: dict = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    out = {name: {f: 0.0 for f in SPAN_FIELDS} for name in SPANS}
    for i, s in enumerate(spans):
        if s["name"] not in out:
            continue
        row = out[s["name"]]
        start, end = s["start"], s["end"]
        wall = end - start
        kids = [(spans[c]["start"], spans[c]["end"]) for c in children.get(i, [])]
        mine = by_span.get(i, [])
        covered = _union_len([
            (max(j["start"], start), min(j["end"], end)) for j in mine if j["end"] > start and j["start"] < end
        ])
        row["calls"] += 1
        row["self_s"] += wall - _union_len(kids)
        row["jobs"] += len(mine)
        row["driver_gap_s"] += max(0.0, wall - covered)
        for j in mine:
            m = j["metrics"]
            # executor CPU time is in ns; the Python-worker timings in ms
            row["executor_cpu_s"] += _sum(m, "internal.metrics.executorCpuTime") / 1e9
            row["jvm_gc_s"] += _sum(m, "internal.metrics.jvmGCTime") / 1e3
            row["shuffle_bytes"] += m.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
            row["python_init_s"] += _sum(
                m, "time to start Python workers", "time to initialize Python workers"
            ) / 1e3
            row["python_run_s"] += _sum(m, "time to run Python workers") / 1e3
            row["python_bytes"] += m.get("data sent to Python workers", 0.0) + m.get(
                "data returned from Python workers", 0.0
            )
    return out


def format_table(workload: str, layers: dict) -> str:
    cols = list(SPAN_FIELDS)
    head = f"{'span (' + workload + ')':44s}" + "".join(f"{c:>15s}" for c in cols)
    lines = [head]
    for name in SPANS:
        row = layers[name]
        if not row["calls"]:
            continue
        lines.append(f"{name:44s}" + "".join(f"{row[c]:15.4g}" for c in cols))
    return "\n".join(lines)
