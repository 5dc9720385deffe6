"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload sacct_history --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout (``slurm2sql_spark/`` next to
``perfbench/``). One client process drives a ``local[N]`` session, N being
the number of cores this process may run on. The run generates the
workload's inputs from ``--seed``, builds the state its ops need, warms
every op shape untimed, then runs whole rounds of ops until ``--seconds``
have passed, checking every op's output. A round runs every op shape of
the workload, so ``op_s_p50`` is the median over rounds of the round's
mean op wall: a median that does not jump between shapes. At the run
length in ``BENCHMARK.json`` one round of either workload outlasts
``--seconds``, so every run times exactly one round. The last line of
standard output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``; a summary with the op walls and the CPU steal share of the
timed phase goes to standard error.

``--trace 0`` reports the end-to-end metrics (``END_TO_END``). ``--trace 1``
is the traced run: each layer call is forced with a ``noop`` write and
tagged with a Spark job group, the Spark event log is on, and the
per-layer metrics (``per_layer``) are reported instead; the full per-layer
table is also written to ``perfbench/_work/trace-<workload>.json``.
``trace.op_s_p50`` against the untraced ``op_s_p50`` is the tracing
overhead (``perfbench/trace_all.py`` runs both and reports it).

Scratch data, Spark local dirs and the event log live under
``perfbench/_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from measure import SPARK_FIELDS, PeakRss, Tracer, cpu_steal_share, cpu_times, event_log_metrics
from workloads import WORKLOADS, CheckFailed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

#: job groups of the traced run, in pipeline order
LAYERS = ("sources.scan", "transform", "sinks.upsert", "sources.bad_count",
          "sinks.read_table", "views.eff", "views.rollup", "cli.seff", "cli.sacct",
          "dedup.exact", "dedup.minhash", "dedup.winnow")

#: per-layer wall metric -> (span, a span whose work it repeats, to subtract).
#: A forced layer re-runs its inputs: ``transform`` re-scans, ``views.eff``
#: re-reads the table. ``views.rollup`` is the whole pruned rollup query.
_LAYER_WALLS = {
    "sources.scan_s": ("sources.scan", None),
    "transform.s": ("transform", "sources.scan"),
    "sinks.upsert_s": ("sinks.upsert", None),
    "sources.bad_count_s": ("sources.bad_count", None),
    "sinks.read_table_s": ("sinks.read_table", None),
    "views.eff_s": ("views.eff", "sinks.read_table"),
    "views.rollup_s": ("views.rollup", None),
    "cli.seff_s": ("cli.seff", None),
    "cli.sacct_s": ("cli.sacct", None),
    "dedup.exact_s": ("dedup.exact", None),
    "dedup.minhash_s": ("dedup.minhash", None),
    "dedup.winnow_s": ("dedup.winnow", None),
}

#: every workload reports all of these; a layer it never enters reads 0
PER_LAYER = {
    "session.start_s": "s", "setup.gen_s": "s", "setup.build_s": "s",
    "setup.warmup_s": "s",
    "trace.op_s_p50": "s",
    **{m: "s" for m in _LAYER_WALLS},
    "sources.malformed_ratio": "ratio",
    "sinks.rows_rewritten_per_row_in": "ratio",
    "sinks.write_bytes_per_input_byte": "ratio",
    "sinks.table_bytes_per_input_byte": "ratio",
    "sinks.files_per_partition": "count",
    "cli.rows_formatted": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    **{f"spark.{g}.{f}": u for g in LAYERS for f, u in SPARK_FIELDS.items()},
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _prepare_env(work: str) -> None:
    """Size the session to the cores this process may run on and keep
    Spark's files in the scratch area.

    ``SPARK_GRAFT_CPUS`` must be set before ``slurm2sql_spark.session`` is
    imported (it sizes the shuffle partitions at import). Python workers
    find the package through ``PYTHONPATH``, which the JVM passes on."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Temporary files (native libraries the JVM unpacks, the gateway's
    # connection file) stay in the scratch area. The JVM takes its temp
    # dir from JAVA_TOOL_OPTIONS, so the session's own driver memory
    # settings stay as they ship.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    rss = PeakRss().start()
    t_setup = time.perf_counter()
    from slurm2sql_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    events = os.path.join(work, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t_setup
        tracer = Tracer(spark, enabled=bool(args.trace), events=events)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.size)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.setup(tracer)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup(tracer)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        tracer.start_timing()

        attempted = failed = 0
        index = 0
        round_means = []
        cpu0 = cpu_times()
        t_loop = time.perf_counter()
        # whole rounds only, until --seconds have passed
        while time.perf_counter() - t_loop < args.seconds:
            n0 = len(tracer.op_walls)
            for op in wl.round(index):
                attempted += 1
                try:
                    op(tracer, args.corrupt)
                except CheckFailed as e:
                    failed += 1
                    print(f"check failed: {e}", file=sys.stderr)
                except (Exception, SystemExit):  # an op that raises counts as failed
                    failed += 1
                    traceback.print_exc()
            if len(tracer.op_walls) > n0:
                round_means.append(statistics.mean(tracer.op_walls[n0:]))
            index += 1
        loop_s = time.perf_counter() - t_loop
        steal = cpu_steal_share(cpu0, cpu_times())
    finally:
        _stop(spark)
    peak = rss.stop()
    print(f"{args.workload}: setup {setup_s:.2f} s (session {start_s:.2f}, "
          f"generate {gen_s:.2f}, build {build_s:.2f}, warm-up {warm_s:.2f}); "
          f"{attempted} ops in {loop_s:.1f} s (cpu steal {steal:.1%}), "
          f"walls " + " ".join(f"{w:.3f}" for w in tracer.op_walls), file=sys.stderr)

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "op_s_p50": _median(round_means),
            "rows_per_s": tracer.op_rows / (sum(tracer.op_walls) or float("inf")),
            "peak_rss_mb": peak / 2**20,
            "ok_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
    else:
        walls = tracer.walls
        metrics = {"session.start_s": start_s, "setup.gen_s": gen_s,
                   "setup.build_s": build_s, "setup.warmup_s": warm_s,
                   "trace.op_s_p50": _median(round_means)}
        for name, (span, inner) in _LAYER_WALLS.items():
            if span in walls:
                metrics[name] = _median(walls[span]) - (
                    _median(walls[inner]) if inner else 0.0)
        metrics.update(wl.layer_metrics)
        if tracer.counts["cli.rows_formatted"]:
            metrics["cli.rows_formatted"] = statistics.mean(
                tracer.counts["cli.rows_formatted"])
        # per call of the layer in the timed phase
        groups = event_log_metrics(events)
        for g in LAYERS:
            for f in SPARK_FIELDS:
                if g in groups:
                    metrics[f"spark.{g}.{f}"] = groups[g][f] / len(walls[g])
        units = PER_LAYER
        metrics = {m: float(metrics.get(m, 0.0)) for m in units}
        with open(os.path.join(HERE, "_work", f"trace-{args.workload}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "ops": len(tracer.op_walls),
                       "metrics": metrics, "job_groups": groups,
                       "layer_calls": {g: len(w) for g, w in walls.items()}},
                      fh, indent=1)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own tests")
    p.add_argument("--corrupt", action="store_true",
                   help="damage every op's output before its check "
                        "(self-test: the run must report failures)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "slurm2sql_spark")):
        print(f"perfbench: no slurm2sql_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    result = run(args, work)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
