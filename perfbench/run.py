"""Seeded, self-checking benchmark of the feature CLI and the query surface.

    python3 perfbench/run.py --workload features|queries --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the repository root (any working directory works). Builds the
package zip for the Python workers, generates the seed's inputs, sets up the
Spark session, then runs whole passes of the workload back to back (one
client, closed loop) until S seconds and the workload's minimum number of
passes have been measured. Every pass's
outputs are checked outside the timed window. With --trace 1 one traced
pass runs instead and the per-layer metrics are reported in place of the
end-to-end ones; its spans are written to .bench_build/perfbench/.

The last line of stdout is one JSON object:
    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}
The line before it records the effective settings and every failure."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("spark_submit_main.py", "__spark_entry__.py",
            "forex_feature_generator_spark/__init__.py")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["features", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs, for the benchmark's own test")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # every metric's name and unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench import procs, session
    from perfbench.features import Features
    from perfbench.queries import Queries
    from perfbench.trace import Tracer

    build = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(build, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    wl = {"features": Features, "queries": Queries}[args.workload](
        ROOT, work, args.seed, args.smoke)
    failures: list[str] = []
    try:
        t0 = time.perf_counter()
        shape = wl.prepare()
        prepare_s = time.perf_counter() - t0
        conf = session.launch_conf(build, session.build_zip(ROOT, build))
        spark, setup_s = session.start(wl.kind, conf)
        try:
            settings = session.effective_settings(spark)
            passes, measured, warm_up_s = [], 0.0, 0.0
            if args.trace:
                tr = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
                t0 = time.perf_counter()
                with procs.RssPeak() as rss:
                    layers, failures, attempted = wl.traced_pass(spark, tr)
                    peak_mb = rss.peak_mb
                traced_s = time.perf_counter() - t0
                tr.finish(os.path.join(
                    build, f"spans-{args.workload}-{args.seed}.jsonl"))
            else:
                t0 = time.perf_counter()
                warm = wl.warm_up(spark)    # untimed, but checked
                warm_up_s = time.perf_counter() - t0
                attempted = len(warm["ops"]) if warm else 0
                if warm:
                    failures += wl.check(spark, warm)
                with procs.RssPeak() as rss:
                    while (len(passes) < wl.min_passes
                           or measured < args.seconds):
                        p = wl.run_pass(spark, len(passes))
                        passes.append(wl.summarize(p))
                        measured += passes[-1]["s"]
                        failures += wl.check(spark, p)
                    peak_mb = rss.peak_mb
                attempted += sum(p["n_ops"] for p in passes)
        finally:
            session.stop(spark)
    except Exception:                                      # noqa: BLE001
        traceback.print_exc()
        failures.append("run aborted: " + traceback.format_exc(limit=1))
        print(json.dumps({"failures": failures}), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layers["proc.peak_rss_mb"] = peak_mb
        layers["trace.layer_sum_s"] = tr.layer_sum_s()
        layers["trace.overhead_ratio"] = (tr.overhead_s
                                          / (traced_s - tr.overhead_s))
        unknown = sorted(set(layers) - set(units))
        if unknown:
            print(f"perfbench: metrics missing from BENCHMARK.json: {unknown}",
                  file=sys.stderr)
            return 1
        # a layer the workload does not run reads 0: no span covered it
        values = {k: layers.get(k, 0.0) for k in units}
        not_run = sorted(set(units) - set(layers))
    else:
        # A batch system: throughput and pass time, not per-job latency
        # percentiles (a pass has 1 CLI job or 16 queries, too few for a
        # steady median). Peak RSS moves by a third between runs with the
        # JVM's heap sizing, too much for a bound: it is on the report line
        # here and proc.peak_rss_mb in the traced run. Each figure is the
        # mean over every timed pass, which evens out the shared host's
        # speed; it moves from second to second.
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        mean = statistics.mean
        values = {
            "setup_s": setup_s,
            "rows_per_s": (sum(p["rows"] for p in passes)
                           / sum(p["s"] for p in passes)),
            "suite_s": mean(p["s"] for p in passes),
            "cpu_s": mean(p["cpu"]["total"] for p in passes),
        }
        not_run = []
    report = {"workload": args.workload, "seed": args.seed, "shape": shape,
              "passes": len(passes), "prepare_s": prepare_s,
              "pass_s": [p["s"] for p in passes],
              "pass_cpu_s": [p["cpu"]["total"] for p in passes],
              "warm_up_s": warm_up_s,
              "peak_rss_mb": peak_mb,
              "by_op": {k: [p["by_op"][k] for p in passes]
                        for k in (passes[0]["by_op"] if passes else ())},
              "settings": settings, "not_run": not_run,
              "error_rate": len(failures) / attempted, "failures": failures}
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
