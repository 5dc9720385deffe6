"""Binned range join — point-in-interval matching without the
nested-loop blowup.

Spark plans a raw inequality join (``p BETWEEN s AND e``) as a
broadcast-nested-loop (or, keyed, a sort-merge with per-key cross
tails): every probe row is tested against every interval in its key
group — quadratic per key, a non-starter at 100 TB. Engines with a
dedicated range-join operator (DuckDB's IEJoin, Databricks' range-join
hint) fix this in the planner; open-source Spark has no such operator,
so this module provides the standard bin-bucketing rewrite as a
first-class operator:

1. Explode each interval onto the fixed-width bins it covers
   (``sequence(floor(s/w), floor(e/w))``) — fan-out is
   ``len/w + 1`` rows per interval, chosen via ``bin_size``.
2. Equi-join probes on ``(by, bin(p))`` — a plain shuffled hash /
   sort-merge join Catalyst already knows how to distribute.
3. Re-check exact containment (``s <= p <= e``) on the matched pairs.

A point lands in exactly ONE bin, so each (probe, interval) pair meets
at most once — no post-join dedup. Cost: one shuffle of probes + an
interval-side fan-out you control. Pick ``bin_size`` near the median
interval length: smaller bins = more interval replicas; larger bins =
more false candidates filtered in step 3. Both failure modes are
linear, never quadratic — the all-pairs tail only returns if EVERY
interval spans the whole domain.

Semantics: inclusive on both ends, NULL-safe (NULL point/bounds never
match), inner join (probe rows with no interval drop out; wrap with a
left join on the probe key to keep them).

Scale path: feed PRE-BUCKETED inputs (``sinks.parquet_sink.
write_bucketed`` on the ``by`` key) and the bin equi-join plans with
ZERO exchanges — the session default
``spark.sql.requireAllClusterKeysForCoPartition=false`` lets the
(by, bin) join reuse hash(by) co-partitioning (measured 1.9x at the
100x corpus, tools/profile_rangejoin.py; plan pinned by
test_skew_bucketing.py::test_bucketed_range_join_zero_exchange).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["range_join", "range_count"]


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point: str,
    start: str,
    end: str,
    by: str | Sequence[str] | None = None,
    *,
    bin_size: int,
    max_bins_per_interval: int = 10_000,
) -> DataFrame:
    """Inner-join ``points`` to every ``intervals`` row whose
    ``[start, end]`` contains ``point`` (same ``by`` key). Returns all
    point columns + all interval columns (names must not collide —
    pre-select/rename the inputs).

    ``bin_size`` is in ``point`` units and must be positive.
    ``max_bins_per_interval`` guards against a mis-sized bin width
    silently exploding a long interval into millions of rows: longer
    intervals raise at plan-build time (the bound is checked per row
    with ``assert_true`` executor-side, no driver scan).
    """
    if bin_size <= 0:
        raise ValueError("bin_size must be positive")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    overlap = (set(points.columns) - set(by_cols)) & set(intervals.columns)
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")

    def q(name: str) -> str:  # backtick-quoted identifier for F.expr
        return "`" + name.replace("`", "``") + "`"

    s, e, p = F.col(start), F.col(end), F.col(point)
    # Integer `div` binning: exact at any epoch magnitude (float floor
    # loses ULPs past 2^53) and monotonic, so trunc-vs-floor convention
    # is irrelevant — both sides just need the SAME binning function.
    lo = f"({q(start)} div {bin_size})"
    hi = f"({q(end)} div {bin_size})"
    # The fan-out guard lives INSIDE the explode input so Catalyst
    # cannot prune it: an oversized interval fails the stage with a
    # clear message instead of silently exploding or being truncated.
    iv = intervals.filter(s.isNotNull() & e.isNotNull() & (s <= e)).withColumn(
        "__rj_bin",
        F.expr(
            f"explode(CASE WHEN {hi} - {lo} < {max_bins_per_interval} "
            f"THEN sequence({lo}, {hi}) "
            f"ELSE raise_error('range_join: interval spans >= "
            f"{max_bins_per_interval} bins at bin_size={bin_size}; raise "
            f"bin_size or max_bins_per_interval') END)"
        ),
    )
    pt = points.filter(p.isNotNull()).withColumn(
        "__rj_bin", F.expr(f"{q(point)} div {bin_size}")
    )

    joined = pt.join(iv, on=by_cols + ["__rj_bin"], how="inner").filter(
        (p >= s) & (p <= e)
    )
    return joined.drop("__rj_bin")


def range_count(
    points: DataFrame,
    intervals: DataFrame,
    point: str,
    start: str,
    end: str,
    by: str | Sequence[str],
    count_col: str = "n",
) -> DataFrame:
    """Points-per-interval COUNT without materializing the pairs: the
    sort-sweep specialization of ``range_join`` for the aggregation
    case (how many probe events fall inside each window).

    ``count(p in [s, e]) = running_count(p <= e) - running_count(p < s)``
    per ``by`` key — so instead of exploding intervals onto bins and
    equi-joining (``range_join``'s pair machinery), union the points
    with both interval BOUNDARIES on one spine and take ONE running-sum
    window pass (the ``asof_join`` union-tag shape): points carry +1,
    boundary rows read the running count at their position. Tie order
    within a timestamp makes both ends inclusive: start boundaries
    sort BEFORE points (strictly-before count), end boundaries AFTER
    (less-or-equal count).

    One hash-partition+sort shuffle of |points| + 2|intervals| rows and
    one map-side-combined groupBy on the interval identity — no
    interval fan-out, no candidate pairs, no exact-containment
    re-filter. Same per-key skew caveat as any keyed window.

    Returns the interval identity (``by`` + all other interval columns)
    + ``count_col``. Intervals with zero matching points ARE returned
    (count 0) — filter afterwards for inner-join parity. NULL points,
    NULL ``by`` keys, and NULL or inverted bounds never match (all
    dropped, matching ``range_join``'s equi-join semantics — a window
    PARTITION BY would otherwise group NULL keys together). Fully-identical interval ROWS
    collapse to one output row (the group key is the row's columns);
    give intervals a distinct id column if duplicates must survive.
    """
    by_cols = [by] if isinstance(by, str) else list(by)
    if not by_cols:
        raise ValueError(
            "range_count needs a `by` key (a keyless sweep would sort "
            "everything in one partition — use range_join or add a key)"
        )
    overlap = (set(points.columns) - set(by_cols)) & set(intervals.columns)
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")
    # Mirror asof_join's hard-error posture: an input column named like
    # one of the internal spine columns would be silently shadowed by
    # the union/window machinery, and an interval column equal to
    # count_col would duplicate a name in the output frame.
    reserved = {"__ts", "__ok", "__p", "__cnt"}
    clash = reserved & (set(points.columns) | set(intervals.columns))
    if clash:
        raise ValueError(
            f"reserved internal column name(s) on an input side: {sorted(clash)}"
        )
    if count_col in intervals.columns:
        raise ValueError(
            f"count_col {count_col!r} collides with an intervals column; "
            "rename one side"
        )
    from pyspark.sql import Window

    p = F.col(point)
    s, e = F.col(start), F.col(end)
    iv_payload = [c for c in intervals.columns if c not in by_cols]
    # NULL by-keys never match — range_join's equi-join (and the SQL
    # oracle's) drops them, while a window PARTITION BY would group
    # NULLs together; filter both sides for join parity
    key_ok = F.lit(True)
    for c in by_cols:
        key_ok = key_ok & F.col(c).isNotNull()
    iv = intervals.filter(s.isNotNull() & e.isNotNull() & (s <= e) & key_ok)

    def bound(ts_col, okey):
        return iv.select(
            *by_cols,
            ts_col.alias("__ts"),
            F.lit(okey).alias("__ok"),
            F.lit(0).alias("__p"),
            *[F.col(c) for c in iv_payload],
        )

    pts = points.filter(p.isNotNull() & key_ok).select(
        *by_cols,
        p.alias("__ts"),
        F.lit(1).alias("__ok"),  # start(0) < point(1) < end(2) at ties
        F.lit(1).alias("__p"),
        *[F.lit(None).cast(dict(iv.dtypes)[c]).alias(c) for c in iv_payload],
    )
    u = pts.unionByName(bound(s, 0)).unionByName(bound(e, 2))
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(F.col("__ts").asc(), F.col("__ok").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = u.withColumn("__cnt", F.sum("__p").over(w)).filter(F.col("__ok") != 1)
    return (
        run.groupBy(*by_cols, *iv_payload)
        .agg(
            (
                F.max(F.when(F.col("__ok") == 2, F.col("__cnt")))
                - F.max(F.when(F.col("__ok") == 0, F.col("__cnt")))
            ).alias(count_col)
        )
    )
