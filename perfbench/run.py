#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nightly_load --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` prints the per-layer ones
and writes the spans to ``perfbench/_traces/``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: the loop stops early once operation time passes this many --seconds
CAP_FACTOR = 4

from harness import (  # noqa: E402
    Results,
    Tracer,
    floor_s,
    host_flags,
    host_stamp,
    jvm_gc_s,
    jvm_peak_rss_mb,
    noop,
    start_session,
    steal_share,
    stop_session,
)


def run_loop(wl, cycles: int, cap_s: float, res: Results, tracer: Tracer | None = None) -> None:
    """Closed loop, one client: the next operation starts when the last
    one returns. Runs ``cycles`` whole cycles (a business day, a round of
    reads), so every run loads a warehouse of the same size and measures
    the same mix; past the second cycle it stops early once ``cap_s`` of
    operation time is spent, a safety cap the summary line reports. Input preparation
    between cycles is not timed. With a tracer every other cycle is
    traced, so traced and untraced operations sample the same stretch."""
    spent = 0.0
    while res.cycles < cycles and (res.cycles < 2 or spent < cap_s):
        traced = tracer is not None and res.cycles % 2 == 1
        for op in wl.cycle():
            t0 = time.perf_counter()
            try:
                if traced:
                    with tracer.op(op.kind):
                        op.traced(tracer)
                else:
                    op.run()
                ok = True
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                ok = False
                if res.failed < 3:
                    traceback.print_exc()
            dt = time.perf_counter() - t0
            spent += dt
            res.check(ok, f"{op.kind} raised")
            if ok:
                res.ops.append((op.kind, traced, dt, op.input_rows))
        res.cycles += 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench", help="size preset: bench, or tiny for the smoke test")
    ap.add_argument("--wrong-expectation", action="store_true",
                    help="perturb one expected value; the run must then report a failure")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import etl_rj_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    from workloads import SCALES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    host0 = host_stamp()
    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = Results()
    layer: dict[str, float] = {}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        noop(spark.range(1))
        start_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, SCALES[args.scale])
        t1 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - T_START
        # a fixed count, so a slower build loads the same days; at least
        # two, so a traced run has both a traced and an untraced cycle
        cycles = max(2, round(args.seconds / wl.cycle_s))
        cap_s = CAP_FACTOR * args.seconds

        if args.trace:
            layer["spark.floor_s"] = floor_s(spark)
            tracer = Tracer(spark)
            run_loop(wl, cycles, cap_s, res, tracer)
            plain, traced = res.cycle_s(False), res.cycle_s(True)
            layer.update(wl.layer_metrics())
            ops = list(tracer.counters.values())
            n = max(len(ops), 1)
            layer.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "spark.jobs_per_op": sum(c.jobs for c in ops) / n,
                "spark.stages_per_op": sum(c.stages for c in ops) / n,
                "spark.tasks_per_op": sum(c.tasks for c in ops) / n,
                "spark.shuffle_bytes": sum(c.shuffle_bytes for c in ops) / n,
                "spark.executor_cpu_s": sum(c.cpu_s for c in ops) / n,
                "spark.gc_s": jvm_gc_s(spark),
                "trace.overhead_s": traced - plain,
                "trace.overhead_frac": (traced - plain) / plain,
                "host.loadavg_1m": host0["loadavg"][0],
                "host.spin_ms": host0["spin_ms"],
            })
        else:
            run_loop(wl, cycles, cap_s, res)

        if args.wrong_expectation:
            wl.tamper()
        wl.check(res)
        rss = jvm_peak_rss_mb(spark)
        if args.trace:
            # layers the workload does not call, measured once after the
            # checks so every per-layer metric is a measurement
            for k, v in wl.other_layers(tracer).items():
                layer.setdefault(k, v)
            tracer.write(os.path.join(HERE, "_traces", f"{args.workload}-s{args.seed}.json"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "_work"))  # only when no other run is using it
        except OSError:
            pass

    host1 = host_stamp()
    flags = host_flags(host0, host1)
    steal = steal_share(host0, host1)
    layer["host.steal_share"] = steal
    for h in (host0, host1):
        del h["cpu_ticks"]
    summary = {
        "workload": args.workload, "seed": args.seed, "setup_s": setup_s,
        "session_start_s": start_s, "warmup_s": warmup_s, "ops": len(res.ops),
        "cycles": res.cycles, "cycles_planned": cycles,
        "failed_frac": res.failed / max(res.attempted, 1),
        "host_start": host0, "host_end": host1, "steal_share": steal, "host_flags": flags,
        "failures": res.failures[:10],
        "median_s_per_kind": {k: round(t, 4) for k, (t, _) in sorted(res.per_kind().items())},
        "op_times": [[k, tr, round(t, 3)] for k, tr, t, _ in res.ops],
    }
    print("perfbench: " + json.dumps(summary), file=sys.stderr)
    print("perfbench: " + json.dumps(summary))
    if flags:
        print("perfbench: WARNING host looks busy: " + "; ".join(flags), file=sys.stderr)
    if res.cycles < cycles:
        print(f"perfbench: WARNING stopped after {res.cycles} of {cycles} cycles "
              f"at the {cap_s:.0f} s cap on operation time", file=sys.stderr)

    if args.trace:
        wanted = spec["per_layer"]
        values = {m["name"]: layer.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {
            "setup_s": setup_s,
            "cycle_s": res.cycle_s(),
            "rows_per_s": res.cycle_rows() / res.cycle_s(),
            "jvm_peak_rss_mb": rss,
        }
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
