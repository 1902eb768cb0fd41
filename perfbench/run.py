"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload pyramid --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout: the package under test is imported from
there and every file the run writes goes under `.perfbench_run/` in it.
Set-up (session start, input generation, Python-worker warm-up) is timed as
`setup_s`; then the workload's op cycle repeats, one call at a time, until
`--seconds` have passed and the workload's minimum number of cycles ran. With `--trace 1`
the Spark event log is written and parsed, and the per-layer metrics are
printed instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import session, trace  # noqa: E402
from perfbench.kernels import kernel_timings  # noqa: E402
from perfbench.workloads import SIZES, WORKLOADS, Ctx, end_to_end, pyramid_options  # noqa: E402

KERNEL_BATCH = 2000  # features in the plain-numpy kernel batch


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the smoke tests")
    p.add_argument("--corrupt", nargs="?", const="op", choices=("op", "build"),
                   help="smoke test of the gates: damage the first gated op's output (op), "
                        "or build the pyramid with a wrong split limit (build)")
    return p.parse_args(argv)


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "geojson_vt_spark")):
        raise SystemExit(f"geojson_vt_spark package not found next to {HERE}")
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        with session.TreeMonitor() as tree:
            t0 = time.perf_counter()
            spark, log_dir = session.start_session(run_dir, trace=bool(args.trace))
            t1 = time.perf_counter()
            tracer = trace.Tracer(spark, tag_jobs=bool(args.trace))
            ctx = Ctx(spark, tracer, tree.cpu_s, args.seed, run_dir, args.size)
            wl = WORKLOADS[args.workload](ctx)
            wl.setup()
            # set-up objects (the oracles) live for the whole run: keep them
            # out of the collections between ops
            gc.freeze()
            setup_s = time.perf_counter() - t0
            print(f"# setup: session {t1 - t0:.2f} s, "
                  f"inputs and worker warm-up {t0 + setup_s - t1:.2f} s")
            if args.corrupt:
                _corrupt(ctx, wl, args.corrupt)
            start, steal0 = time.perf_counter(), session.cpu_steal_s()
            while True:
                wl.cycle()
                ctx.cycle += 1
                if ctx.cycle >= wl.min_cycles and time.perf_counter() - start >= args.seconds:
                    break
            print(f"# host: {session.cpu_steal_s() - steal0:.2f} s of CPU stolen by the "
                  f"hypervisor during {time.perf_counter() - start:.2f} s of measured cycles")
        session.stop_session(spark)
        spark = None
        e2e = end_to_end(ctx, setup_s, tree.peak_mb)
        walls: dict = {}
        for r in ctx.records:
            walls[r["cycle"]] = walls.get(r["cycle"], 0.0) + r["s"]
        out = {"ctx": ctx, "wl": wl, "e2e": e2e, "cycle_wall_s": statistics.median(walls.values())}
        if args.trace:
            jobs = trace.parse_event_log(log_dir)
            out["layers"] = trace.layer_metrics(tracer.spans, jobs)
            out["unattributed_jobs"] = sum(1 for i in trace.attribute(tracer.spans, jobs) if i is None)
            out["kernels"] = kernel_timings(
                args.seed, KERNEL_BATCH, SIZES["pyramid"]["full"]["edge_points"], pyramid_options()
            )
        return out
    finally:
        if spark is not None:
            session.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _corrupt(ctx: Ctx, wl, what: str) -> None:
    """Damage the first gated op's output before its check, or make the
    pyramid build stop splitting at four times the limit its gate expects."""
    if what == "build":
        from geojson_vt_spark.config import Options

        if not hasattr(wl, "build_options"):
            raise SystemExit("--corrupt build needs the pyramid workload")

        o = wl.options
        wl.build_options = Options(max_zoom=o.max_zoom, index_max_zoom=o.index_max_zoom,
                                   index_max_points=4 * o.index_max_points)
        return
    op = ctx.op
    state = {"done": False}

    def damaged(span, fn, check=None, items=0.0):
        if check is None or state["done"]:
            return op(span, fn, check=check, items=items)
        state["done"] = True
        return op(span, lambda: _damage(fn()), check=check, items=items)

    ctx.op = damaged


def _damage(result):
    if isinstance(result, list):  # a tile: drop its last feature, or add one
        return result[:-1] if result else [{"geometry": [[0, 0]], "type": 1, "tags": None}]
    if isinstance(result, tuple) and len(result) == 2:  # (rows, columns)
        rows, cols = result
        return rows[1:], cols
    if isinstance(result, dict):  # viewport or grid levels: drop an entry
        return dict(list(result.items())[1:])
    return result


def report(args, out: dict) -> dict:
    ctx, wl = out["ctx"], out["wl"]
    attempted = len(ctx.records)
    failed = sum(1 for r in ctx.records if not r["ok"])
    cpus = session.cpu_count()
    print(f"# workload {args.workload} seed {args.seed} local[{cpus}] "
          f"cycles {ctx.cycle} ops {attempted} failed {failed}")
    for span, why in ctx.failures:
        print(f"# FAILED {span}: {why}")
    spans: dict = {}
    for r in ctx.records:
        spans.setdefault(r["span"], []).append(r)
    for span, rs in spans.items():
        print(f"# op {span:40s} n={len(rs):3d} wall median {statistics.median(r['s'] for r in rs):9.4f} s"
              f" total {sum(r['s'] for r in rs):9.3f} s, cpu median "
              f"{statistics.median(r['cpu_s'] for r in rs):9.4f} s")
    print(f"# between ops: garbage collection {ctx.untimed['settle']:.2f} s, "
          f"gates {ctx.untimed['gates']:.2f} s")
    per_cycle: dict = {}
    for r in ctx.records:
        per_cycle[r["cycle"]] = per_cycle.get(r["cycle"], 0.0) + r["cpu_s"]
    print(f"# cycle: wall {out['cycle_wall_s']:.3f} s, cpu {out['e2e']['cycle_cpu_s'][0]:.3f} s "
          f"(medians over {ctx.cycle} cycle(s); cpu per cycle "
          f"{', '.join(f'{v:.2f}' for v in per_cycle.values())} s)")
    rows = wl.named_metrics() + [
        ("setup_s", out["e2e"]["setup_s"][0], "s", 1),
        ("peak_rss_mb", out["e2e"]["peak_rss_mb"][0], "MB", 1),
        ("failed_op_ratio", failed / attempted if attempted else 0.0, "ratio", attempted),
    ]
    for name, value, unit, n in rows:
        print(f"# {args.workload:14s} {name:28s} {value:14.6g} {unit:5s} n={n}")
    if args.trace:
        metrics = {}
        for name, row in out["layers"].items():
            for field, value in row.items():
                metrics[f"{name}.{field}"] = value
        metrics.update(out["kernels"])
        for name in trace.DECISIONS:
            metrics[name] = ctx.decisions.get(name, 0.0)
        metrics["trace.cycle_s"] = out["cycle_wall_s"]
        metrics["trace.cycle_cpu_s"] = out["e2e"]["cycle_cpu_s"][0]
        print(trace.format_table(args.workload, out["layers"]))
        print(f"# jobs outside every span: {out['unattributed_jobs']}")
        units = {m["name"]: m["unit"] for m in trace.per_layer_spec()}
        payload = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        payload = {k: {"value": v, "unit": u} for k, (v, u) in out["e2e"].items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": payload}


def main(argv=None) -> int:
    args = parse_args(argv)
    out = run(args)
    result = report(args, out)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
