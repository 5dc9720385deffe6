"""Deterministic balanced shard writer — the training-data EXPORT
stage (VERDICT r10 "next round" #4, the last missing pipeline step
after ``packing.pack_sequences``): assign every row to one of
``n_shards`` output files so that (a) per-shard byte/token totals are
balanced, (b) the assignment is CONTENT-ADDRESSED — reproducible
across engines, partitionings, and re-runs (the
``sampling.hash_bucket`` discipline; no RNG, no
``monotonically_increasing_id``), and (c) no global sort exists
anywhere.

Scheme (two levels, both SQL-expressible):

1. **group**: ``grp = md5-bucket(id, salt) % n_groups`` — a narrow
   content-addressed stripe, no shuffle;
2. **serpentine pack within each group**: rank rows by (size DESC,
   id) inside the group — a PARTITIONED window, parallel across
   groups — then deal rank k to shard ``pos`` boustrophedon
   (left-to-right, then right-to-left), so each consecutive
   n_shards-sized pass places its largest remainder against the
   previous pass's smallest load.

Balance bound: within one group each serpentine pass adds items that
differ by at most that pass's size spread, so per-group shard loads
differ by at most max_item; summing G independent groups keeps the
total spread <= G * max_item — negligible against shard totals of
(corpus / n_shards) whenever items are small relative to shards
(documents vs multi-GB files). More groups = more parallelism, same
bound per group.

Scale shape: one shuffle on ``grp`` (the window), one on ``shard``
(the write repartition) — both bounded-cardinality keys with skew
bounded by the hash stripe; at 100 TB pick n_groups ~ cores and
n_shards ~ target file count (thousands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "shard_assign",
    "write_sharded",
    "shard_manifest",
    "pack_assign_local",
]


def pack_assign_local(
    rows,
    budget: int,
    n_shards: int,
    n_groups: int,
    salt: str = "",
):
    """Driver-local twin of ``pack_sequences -> shard_assign`` for one
    bounded batch: given ``(id, src, n_words)`` tuples, return
    ``(id, src, n_tokens, offset, bin, shard)`` tuples bit-identical to
    the distributed two-window pipeline (optimization r16, guide §2.4 —
    remove shuffles outright; the size-gated local-path pattern the r15
    union-find landed).

    A micro-batch export paid THREE exchanges over batch-sized data
    (pack window on source, serpentine window on grp, write repartition
    on shard); below the caller's row cap the same math is a sort + a
    running sum + a serpentine deal in plain Python. Equivalence, piece
    by piece (pytest-pinned against the distributed path on planted
    distributions):

    - pack: per ``src``, docs ordered by ``id`` ascending NULLS FIRST
      (the window default); ``offset`` sums prior non-NULL raw
      ``n_words`` in that order and casts the running sum to long
      (Spark's ``sum(...).cast("long")``: fractional sizes are summed
      before truncation, not truncated one by one; Spark ``sum`` skips
      NULLs), ``bin = offset // budget`` (non-negative, so floor ==
      truncation), ``n_tokens`` is the per-row cast, and NULL
      ``n_words`` stays a NULL ``n_tokens``.
    - group: ``int(md5((str(id) + salt).encode()).hexdigest()[:8], 16)
      % n_groups`` == ``hash_bucket`` (conv/substr/md5) for the string
      cast of any id type the gate uses; NULL id -> NULL grp, its own
      group, exactly like the window partition on a NULL key.
    - serpentine: rank by (size DESC, id ASC NULLS LAST) within the
      group — Python tuple sort over ``(-size, id)`` matches Spark's
      ordering for int ids and for str ids (UTF-8 byte order equals
      code-point order, which is Python's str order) — then deal rank k
      boustrophedon, same ``pos``/``swing`` arithmetic.

    Ordering ties (duplicate ids) are nondeterministic in BOTH paths —
    same contract as the distributed window.
    """
    from hashlib import md5 as _md5

    by_src: dict = {}
    for id_, src, nw in rows:
        by_src.setdefault(src, []).append((id_, nw))
    packed = []
    for src, docs in by_src.items():
        # NULL ids first; "" sentinel keeps the comparator total when
        # several NULL-id rows tie (None < None raises in Python)
        docs.sort(
            key=lambda d: (d[0] is not None, "" if d[0] is None else d[0])
        )
        total = 0
        for id_, nw in docs:
            nt = None if nw is None else int(nw)
            off = int(total)
            packed.append((id_, src, nt, off, off // int(budget)))
            if nw is not None:
                total += nw
    by_grp: dict = {}
    for row in packed:
        id_ = row[0]
        if id_ is None:
            grp = None
        else:
            grp = (
                int(_md5((str(id_) + salt).encode()).hexdigest()[:8], 16)
                % int(n_groups)
            )
        by_grp.setdefault(grp, []).append(row)
    out = []
    for grp, members in by_grp.items():
        members.sort(
            key=lambda r: (
                -(r[2] if r[2] is not None else 0),
                r[0] is None,
                "" if r[0] is None else r[0],
            )
        )
        for rk, row in enumerate(members):
            pos = rk % int(n_shards)
            swing = (rk // int(n_shards)) % 2
            shard = pos if swing == 0 else int(n_shards) - 1 - pos
            out.append((*row, shard))
    return out


def shard_assign(
    df: DataFrame,
    id_col: str,
    size_col: str,
    n_shards: int,
    n_groups: int = 64,
    salt: str = "",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Add ``(grp, shard)`` to every row (plus ``id``/``size``
    passthrough): the deterministic serpentine assignment described in
    the module doc. NULL sizes sort as 0 (smallest — they cannot
    unbalance anything). ``keep_cols`` are carried through onto every
    output row — same-pass pass-through, so consumers (export
    compositions, the writer) never join back into a recomputed
    window subtree."""
    if n_shards < 1 or n_groups < 1:
        raise ValueError("n_shards and n_groups must be >= 1")
    from .sampling import hash_bucket

    grp = (hash_bucket(id_col, salt) % F.lit(int(n_groups))).alias("grp")
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(size_col).cast("long"), F.lit(0)).alias("size"),
        grp,
        *[F.col(c) for c in keep_cols],
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("size").desc(), F.col("id").asc_nulls_last()
    )
    rk = F.row_number().over(w) - 1
    pos = rk % F.lit(int(n_shards))
    swing = (rk / F.lit(int(n_shards))).cast("long") % 2
    shard = F.when(swing == 0, pos).otherwise(
        F.lit(int(n_shards) - 1) - pos
    )
    return base.select(
        "id", "size", "grp", shard.cast("long").alias("shard"),
        *[F.col(c) for c in keep_cols],
    )


def write_sharded(
    df: DataFrame,
    id_col: str,
    size_col: str,
    path: str,
    n_shards: int,
    n_groups: int = 64,
    salt: str = "",
) -> DataFrame:
    """Materialize ``df`` as ``n_shards`` size-balanced parquet
    partitions: ``shard_assign`` with every other ``df`` column carried
    through as ``keep_cols`` (same-pass pass-through — NO join back
    onto ``df``, so duplicate ids cannot fan rows out and the write is
    one window + one repartition) + ``partitionBy("shard")`` (each
    output dir holds exactly one shard's rows; the repartition makes
    file count per dir one task's worth, not one per input partition).
    Original column names and values (including NULL sizes) are
    preserved in the written files. Returns the assignment frame
    (re-readable: the assignment is pure arithmetic, so a re-run
    reproduces it bit-for-bit). ``df`` must not contain columns named
    ``id``/``size``/``grp``/``shard`` (other than ``id_col`` itself) —
    they would collide with the assignment columns."""
    extra = tuple(c for c in df.columns if c != id_col)
    clash = [c for c in extra if c in ("id", "size", "grp", "shard")]
    if clash:
        raise ValueError(
            f"df columns {clash} collide with assignment columns "
            "id/size/grp/shard; rename them before write_sharded"
        )
    assign = shard_assign(
        df, id_col, size_col, n_shards, n_groups, salt, keep_cols=extra
    )
    out = assign.select(
        F.col("id").alias(id_col), *extra, "shard"
    )
    (
        out.repartition(int(n_shards), "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return assign.select("id", "size", "grp", "shard")


def shard_manifest(
    assign: DataFrame,
    id_col: str = "id",
    size_col: str = "size",
    shard_col: str = "shard",
    salt: str = "",
) -> DataFrame:
    """Integrity manifest over a shard assignment: one row per shard
    with ``(n_docs, total_size, checksum)`` — the artifact a consumer
    checks before trusting a delivered export (did every shard land,
    with every document, unmodified membership?).

    ``checksum`` is the SUM of each member's 32-bit content-addressed
    bucket (``sampling.hash_bucket`` — the engine-portable md5 prefix),
    which makes it ORDER-INDEPENDENT (sum commutes, so any
    partitioning/arrival order verifies equal) and incremental
    (a shard's checksum is the sum of its parts — concatenated
    deliveries add). 32-bit terms in a 64-bit sum overflow only past
    2^31 documents per shard. One map-side-combinable aggregation,
    |shards| output rows.
    """
    from .sampling import hash_bucket

    return assign.groupBy(shard_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(size_col)).cast("long").alias("total_size"),
        F.sum(hash_bucket(id_col, salt)).cast("long").alias("checksum"),
    )
