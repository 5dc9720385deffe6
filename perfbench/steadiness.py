"""Run-to-run steadiness of the end-to-end metrics.

    python3 perfbench/steadiness.py --runs 10 [--workload W ...] [--first-seed S]

Runs ``run.py`` once per seed (seeds S .. S+runs-1) for each workload,
sequentially, and for every end-to-end metric reports the median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. Writes
the table to ``perfbench/steadiness-<first seed>.json`` and checks each
spread against the metric's bound in ``BENCHMARK.json`` (``setup_s`` only
reports). Two sets with different first seeds are the two sets of runs
whose medians must agree within the bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(command: list[str], workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One benchmark run from the repository root; its result object,
    with the run's whole wall time (process start to exit) as ``wall_s``."""
    cmd = [*command, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    wall = time.perf_counter() - t0
    print("   ", out.stderr.strip().splitlines()[-1], f"[run {wall:.1f} s]", flush=True)
    return {**json.loads(out.stdout.strip().splitlines()[-1]), "wall_s": wall}


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR / median) of ``values``."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append",
                   help="default: every workload in BENCHMARK.json")
    p.add_argument("--out", help="default: perfbench/steadiness-<first seed>.json")
    args = p.parse_args(argv)
    out = args.out or os.path.join(HERE, f"steadiness-{args.first_seed}.json")
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    table: dict[str, dict] = {}
    ok = True
    for w in workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            result = run_once(bench["command"], w, seed, bench["run_seconds"], 0)
            ok &= result["correct"]
            walls.append(result["wall_s"])
            for m, v in result["metrics"].items():
                values.setdefault(m, []).append(v["value"])
            print(w, seed, {m: round(v["value"], 4) for m, v in result["metrics"].items()},
                  flush=True)
        table[w] = {"run_wall_s": walls}
        for m, vs in values.items():
            med, iqr = spread(vs)
            table[w][m] = {"median": med, "iqr_share": iqr, "values": vs}
            bound = bounds.get(m)
            verdict = ""
            if bound is not None and m != "setup_s":
                verdict = "ok" if iqr < bound / 3 else "WIDE"
                ok &= iqr < bound
            print(f"{w:16s} {m:28s} median {med:12.4f}  iqr/median {iqr:.4f}"
                  f"  bound {bound}  {verdict}", flush=True)
    with open(out, "w") as fh:
        json.dump({"runs": args.runs, "first_seed": args.first_seed,
                   "run_seconds": bench["run_seconds"], "workloads": table},
                  fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
