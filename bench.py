"""Benchmark harness: run every catalog query end-to-end at
$SPARK_GRAFT_SF_DIR (default sf0.1) and emit ONE JSON line.

Execution is forced through the `noop` sink so the full plan runs
distributed without driver-side collect overhead.

Protocol:

1. WARMUP — every query runs once at a 100x smaller scale
   ($SPARK_GRAFT_WARMUP_DIR, default sf0.01) outside the timed region,
   so HotSpot JIT-compiles the generated whole-stage code before
   measurement — the steady-state regime a long-lived cluster session
   actually runs in. sf0.001 is too small to cross HotSpot's invocation
   thresholds for the big generated parse methods (measured: no
   effect); sf0.01 is the smallest scale that does. Set
   SPARK_GRAFT_WARMUP_DIR= (empty) to disable.
2. TIMED — $SPARK_GRAFT_BENCH_ITERS (default 3) full passes over the
   catalog at the target SF; the headline per-query wall time is the
   MIN across passes (single-machine noise at these sub-second scales
   is large; min-of-N is the standard steady-state estimator) and the
   MEDIAN rides along (`queries_median` / `value_median`) so
   run-to-run variance — page-cache state moves some queries 2-3x —
   is visible in the record instead of silently folded into the min.
   Cross-query result caches (`catalog._memo`) are dropped BEFORE
   EVERY ENTRY (r10; previously only between passes), so each
   reported wall is the entry's solo wall — stable under catalog /
   gate-rotation reordering instead of depending on whether a
   memo-sharing sibling ran first.

The emitted JSON records the protocol (`warmup_sf`, `iterations`).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _run_all(
    QUERIES, spark, sf_dir: str, errors: dict[str, str] | None = None
) -> dict[str, float]:
    # Fault-isolated: one broken query must not abort the run and erase
    # the numbers for every healthy query (the r4 failure mode). Errors
    # are recorded per-query and surfaced in the emitted JSON.
    times: dict[str, float] = {}
    for name, spec in QUERIES.items():
        # Drop memoized frames BEFORE each entry, not just between
        # passes: entries that share `_memo` values (dedup_keep_best /
        # dedup_components, the sim_* recall pairs, the shared fits)
        # otherwise read hot or cold depending purely on catalog order,
        # and a gate rotation shifts their reported wall 5x with zero
        # code change (r9 "What's wrong" #5). Per-entry clearing makes
        # every reported wall the entry's SOLO wall, stable under
        # reordering.
        _drop_caches()
        t0 = time.perf_counter()
        try:
            spec.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 - record and continue
            if errors is not None:
                msg = f"{type(exc).__name__}: {exc}"
                errors[name] = msg.splitlines()[0][:500]
            continue
        times[name] = round(time.perf_counter() - t0, 3)
    return times


def _drop_caches() -> None:
    from slurm2sql_spark import catalog

    catalog.drop_caches()


def encode_walls(times: dict[str, float]) -> dict[str, str]:
    """Compact-line encoding of the per-query min walls (VERDICT r11
    'What's wrong' #3: carrying the query NAMES in the zlib payload
    capped the old encoding at ~112 entries against the driver's 2000-
    byte stdout tail). Walls ride as a VALUES-ONLY JSON array in
    SORTED-NAME order (``walls_z``, zlib+base64); the name list itself
    lives uncompressed in BENCH_FULL.json, and ``names_md5`` pins the
    order so a decoder can verify it zipped against the right list.
    ~5 bytes per entry after compression — headroom for 250+ entries.
    """
    import base64
    import hashlib
    import zlib

    names = sorted(times)
    arr = json.dumps([times[n] for n in names], separators=(",", ":"))
    return {
        "walls_z": base64.b64encode(
            zlib.compress(arr.encode(), 9)
        ).decode(),
        "names_md5": hashlib.md5(
            "\n".join(names).encode()
        ).hexdigest()[:10],
        "decode": "zip(sorted(full.queries), json(unzlib(unb64(walls_z))))",
    }


def decode_walls(compact: dict, names: list[str]) -> dict[str, float]:
    """Inverse of :func:`encode_walls`: ``names`` is any iterable of
    the query names (order-insensitive — they re-sort here), e.g.
    ``BENCH_FULL.json['queries'].keys()`` or the catalog itself."""
    import base64
    import hashlib
    import zlib

    ordered = sorted(names)
    digest = hashlib.md5("\n".join(ordered).encode()).hexdigest()[:10]
    if digest != compact["names_md5"]:
        raise ValueError(
            "name list does not match the encoded order "
            f"(md5 {digest} != {compact['names_md5']})"
        )
    vals = json.loads(
        zlib.decompress(base64.b64decode(compact["walls_z"]))
    )
    if len(vals) != len(ordered):
        raise ValueError(f"{len(vals)} walls for {len(ordered)} names")
    return dict(zip(ordered, vals))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    from slurm2sql_spark.catalog import QUERIES
    from slurm2sql_spark.session import get_spark

    spark = get_spark(app_name="slurm2sql_spark_bench")
    # Warm the JVM/reader paths outside the timed region.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.01"
    )
    if warm_dir and os.path.isdir(warm_dir) and warm_dir != sf_dir:
        _run_all(QUERIES, spark, warm_dir)
        _drop_caches()

    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for _ in range(iters):
        pass_times = _run_all(QUERIES, spark, sf_dir, errors)
        _drop_caches()
        for name, t in pass_times.items():
            samples.setdefault(name, []).append(t)
    # A query that succeeded on any pass has a number; drop its
    # earlier-pass error so `errors` lists only truly-broken queries.
    for name in samples:
        errors.pop(name, None)

    from statistics import median as _median

    times = {name: min(xs) for name, xs in samples.items()}
    medians = {name: round(_median(xs), 3) for name, xs in samples.items()}
    total = round(sum(times.values()), 3)
    payload = {
        "metric": "catalog_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_median": medians,
        "value_median": round(sum(medians.values()), 3),
        "sf": sf_val,
        "warmup_sf": warm_dir if warm_dir else None,
        "iterations": iters,
    }
    if errors:
        # make a partial total impossible to misread as a speedup:
        # the value only sums SURVIVING queries, so flag it loudly
        payload["errors"] = errors
        payload["queries_failed"] = len(errors)
        payload["partial"] = True
        payload["metric"] = "catalog_total_wall_partial"
    print(json.dumps(payload))

    # The driver records only the LAST ~2000 bytes of stdout, so the
    # verbose payload above truncates mid-dict once the catalog passed
    # ~75 entries (VERDICT r10 "What's wrong" #3: BENCH_r10.json has
    # parsed=null and mixes min/median fragments). Two mitigations:
    #
    # 1. the full payload is written to BENCH_FULL.json next to this
    #    script (a committed, always-complete artifact);
    # 2. the FINAL stdout line is a self-contained compact JSON that
    #    fits the 2000-byte tail whole: top-level stats in the clear,
    #    plus the complete min walls as a values-only array in
    #    sorted-name order (see encode_walls/decode_walls — VERDICT
    #    r11 #5 tightened the r11 encoding, which carried the names
    #    and would have overflowed the tail at ~112 entries).
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_FULL.json"), "w") as fh:
            json.dump(payload, fh)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line below still carries all
    compact = {
        "metric": payload["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(times),
        "value_median": payload["value_median"],
        "iterations": iters,
        "full": "BENCH_FULL.json",
        **encode_walls(times),
    }
    if errors:
        compact["queries_failed"] = len(errors)
        compact["partial"] = True
    # VERDICT r15 #1: the driver's comparator cannot decode walls_z, so
    # PERF per_query/geomean sat empty two rounds. Carry the SLOWEST
    # walls additionally as a PLAIN dict ("queries", wall-descending) —
    # greedy fill up to the 1950-byte stdout-tail guard; the complete
    # set still rides in walls_z and BENCH_FULL.json. Additive only:
    # every pre-existing compact field is unchanged.
    compact["queries"] = {}
    compact["queries_note"] = f"slowest of {len(times)}; all in walls_z"
    budget = 1950 - len(json.dumps(compact, separators=(",", ":")))
    for name in sorted(times, key=times.get, reverse=True):
        cost = len(json.dumps({name: times[name]}, separators=(",", ":")))
        if budget - cost < 0:
            break
        compact["queries"][name] = times[name]
        budget -= cost
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # never let the safety line itself truncate
        compact.pop("walls_z")
        compact.pop("decode", None)
        compact["queries_dropped"] = "line>1950B, see BENCH_FULL.json"
        line = json.dumps(compact, separators=(",", ":"))
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    sys.exit(main())
