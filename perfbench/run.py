"""Benchmark entry point.

    python3 perfbench/run.py --workload avro-fresh --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the seed,
runs it on the engine, checks the outputs, and prints the metrics; the last
line of standard output is one JSON object. With ``--trace 1`` the metrics
are the per-layer ones of BENCHMARK.json. Each run also writes an artifact
with its environment readings (and spans, when traced) under
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_LIMIT_S = 170  # a run must end within 180 s


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the BENCHMARK.json metrics of one kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("avro-fresh", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sparkksqldbbenchmark_spark")):
        print("perfbench: the engine package is not next to perfbench/; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import measure
    import workloads
    from spans import Tracer, self_time_by_layer

    t0 = measure.process_start_wall_s()
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # Python workers too
    # every JVM, Spark's launcher included, would else write to /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = os.environ["TMPDIR"]
    ctx = workloads.Context(work=work, seed=args.seed,
                            seconds=args.seconds, tracer=Tracer(bool(args.trace)),
                            t0=t0)

    def overrun():
        print(f"perfbench: run exceeded {HARD_LIMIT_S} s", file=sys.stderr, flush=True)
        if ctx.java_pid:
            os.kill(ctx.java_pid, signal.SIGKILL)
        os._exit(3)

    watchdog = threading.Timer(HARD_LIMIT_S - (time.time() - t0), overrun)
    watchdog.daemon = True
    watchdog.start()

    probe_start = time.time()
    env = {"nproc": measure.nproc(), "loadavg_before": measure.loadavg(),
           "cpu_probe_s_before": measure.cpu_speed_probe_s()}
    ctx.excluded_s += time.time() - probe_start  # harness time, not set-up
    ticks = measure.cpu_ticks()
    run = {"avro-fresh": workloads.run_avro_fresh, "batch": workloads.run_batch}
    try:
        attempted, failed, e2e, diag = run[args.workload](ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env.update(loadavg_after=measure.loadavg(),
               steal_pct=measure.steal_pct(ticks, measure.cpu_ticks()),
               cpu_probe_s_after=measure.cpu_speed_probe_s())
    watchdog.cancel()

    units = metric_units("per_layer" if args.trace else "end_to_end")
    values = ctx.layer if args.trace else e2e
    metrics = {n: {"value": values[n], "unit": u} for n, u in units.items() if n in values}
    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "env": env, "diagnostics": diag,
                "end_to_end": e2e, "per_layer": ctx.layer}
    if args.trace:
        artifact["self_ms_by_layer"] = {
            k: v * 1000 for k, v in self_time_by_layer(ctx.tracer.spans).items()}
        artifact["notes"] = ctx.notes
        artifact["spans"] = ctx.tracer.spans
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                           f"-{int(time.time())}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    for name, m in metrics.items():
        n = f" (n={diag['latency_samples']})" if name.startswith("latency_") else ""
        print(f"{name} = {m['value']:.6g} {m['unit']}{n}")
    for key in ("env", "diagnostics") + (("self_ms_by_layer", "notes") if args.trace else ()):
        print(f"{key}: {json.dumps(artifact[key], default=str)}")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
