"""The traced run, as one command, with its overhead.

    python3 perfbench/trace_all.py [--seed 1] [--seconds 15] [--workload W ...]

For each workload (default: all of them) runs ``run.py`` untraced and then
traced with the same seed, and writes ``perfbench/traces/<workload>.json``:
the per-layer metrics of the traced run, its per-job-group Spark totals
over the timed phase with the number of calls of each layer, and the
tracing overhead ``trace.op_s_p50 / op_s_p50 - 1`` (the traced
op's median against the untraced one). Prints one summary line per
workload.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from steadiness import run_once
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    result = run_once([sys.executable, os.path.join(HERE, "run.py")],
                      workload, seed, seconds, trace)
    if not result["correct"]:
        raise SystemExit(f"{workload} trace={trace}: outputs failed their checks")
    return {m: v["value"] for m, v in result["metrics"].items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = p.parse_args(argv)
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    for w in args.workload or WORKLOADS:
        plain = _run(w, args.seed, args.seconds, 0)
        traced = _run(w, args.seed, args.seconds, 1)
        with open(os.path.join(HERE, "_work", f"trace-{w}.json")) as fh:
            artifact = json.load(fh)
        overhead = traced["trace.op_s_p50"] / plain["op_s_p50"] - 1
        with open(os.path.join(HERE, "traces", f"{w}.json"), "w") as fh:
            json.dump({"workload": w, "seed": args.seed, "seconds": args.seconds,
                       "untraced": plain, "tracing_overhead": overhead,
                       "per_layer": traced, "job_groups": artifact["job_groups"],
                       "layer_calls": artifact["layer_calls"]}, fh, indent=1)
        print(f"{w}: op_s_p50 {plain['op_s_p50']:.3f} s untraced, "
              f"{traced['trace.op_s_p50']:.3f} s traced "
              f"(overhead {overhead:+.1%})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
