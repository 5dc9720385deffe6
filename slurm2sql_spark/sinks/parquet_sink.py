"""Parquet table sink with keyed upsert — the reference's SQLite table
semantics (reference slurm2sql.py:939-947, 1023-1034) re-expressed for a
columnar, distributed store.

- ``write_overwrite``: full-refresh mode (reference K4, slurm2sql.py:749-753).
- ``upsert``: INSERT OR REPLACE keyed on ``JobID`` (reference K2,
  slurm2sql.py:1023-1027). Plain Parquet has no MERGE, so the upsert is
  read-modify-write: union(old, new) -> keep the newest row per key via
  a ``row_number`` window over batch recency -> atomic swap via a
  staging directory rename. At 100 TB the table must be partitioned so
  the rewrite touches only partitions the batch intersects —
  ``partition_cols=('day',)`` (derived from ``Time``) makes an
  incremental day-window batch (reference T1) rewrite ~1 partition
  instead of the whole table: classic hive-style dynamic partition
  overwrite.
- ``create_indexes`` analog: the reference builds 5 B-trees + ANALYZE
  (slurm2sql.py:867-874). Columnar Parquet replaces them with partition
  pruning + per-column min/max stats, which Spark writes for free;
  ``analyze_table`` registers the table and runs ANALYZE for Catalyst's
  CBO.
"""

from __future__ import annotations

import json
import operator
import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "write_overwrite",
    "upsert",
    "read_table",
    "with_day_partition",
    "analyze_table",
    "write_bucketed",
    "recover_staging",
]

BATCH_COL = "_batch_seq"


def with_day_partition(df: DataFrame, time_col: str = "Time") -> DataFrame:
    """Derive the hive partition column from the unixtime ``Time`` column
    (the reference's 'when it ran' classifier, README.rst:213-217) —
    day granularity matches the reference's 1-day history windows, so
    each incremental batch touches O(1) partitions."""
    return df.withColumn(
        "day", F.date_format(F.from_unixtime(F.col(time_col)), "yyyy-MM-dd")
    )


def write_overwrite(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
    format: str = "parquet",
) -> None:
    """Full refresh (reference --delete-then-recreate, slurm2sql.py:749-753)."""
    w = df.withColumn(BATCH_COL, F.lit(0)).write.mode("overwrite").format(format)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.save(path)


def read_table(spark: SparkSession, path: str, format: str = "parquet") -> DataFrame:
    """Scan the table, hiding the internal batch-sequence column."""
    return spark.read.format(format).load(path).drop(BATCH_COL)


def _max_batch(spark: SparkSession, path: str) -> int:
    return (
        spark.read.parquet(path)
        .agg(F.max(BATCH_COL).alias("m"))
        .collect()[0]["m"]
        or 0
    )


def upsert(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    key: str = "JobID",
    partition_cols: tuple[str, ...] = (),
    format: str = "parquet",
) -> None:
    """Replace-on-conflict keyed on ``key`` (reference INSERT OR REPLACE,
    slurm2sql.py:1023-1027): newest batch wins per key, so replaying an
    overlapping history window (reference T3 5-second rewind,
    slurm2sql.py:109-115) is idempotent.

    With ``partition_cols`` only partitions touched by an affected key
    are rewritten: merged output is staged, then each affected
    partition directory is swapped — and affected partitions with no
    surviving rows are deleted, so keys whose partition value migrated
    (running job re-stamped to a new day) leave no stale duplicates.
    Without partitioning the whole table is rewritten (fine for tests,
    not for 100 TB — always partition in production).

    ``new_rows`` is evaluated once, so a live or nondeterministic source
    (a sacct DataSource, a ``now``-dependent transform) is upserted as
    one snapshot: the partitions cleared and the rows written come from
    the same evaluation. The snapshot is released before returning.

    ``format="delta"`` switches to a real ``MERGE INTO`` through the
    Delta commit protocol (requires the optional ``delta-spark``
    package) — the production answer on object stores, where the
    filesystem-rename swap above has no atomic rename to lean on.
    """
    if format == "delta":
        _delta_upsert(spark, new_rows, path, key, partition_cols)
        return
    if format != "parquet":
        raise ValueError(f"unsupported upsert format: {format!r}")
    recover_staging(path)
    if not os.path.exists(path):
        write_overwrite(new_rows, path, partition_cols)
        return

    batch_seq = _max_batch(spark, path) + 1
    old = spark.read.parquet(path)
    batch = new_rows.withColumn(BATCH_COL, F.lit(batch_seq))

    if partition_cols:
        # The partitioned merge runs several jobs over the batch; each
        # reads one snapshot of it, so the affected list and the written
        # rows come from the same evaluation even when ``new_rows`` is
        # live (a sacct DataSource re-runs sacct on every scan) or
        # nondeterministic (current_timestamp near midnight), and the
        # batch's lineage runs once instead of once per job.
        snapshot = batch.localCheckpoint()
        try:
            _merge_partitions(path, old, snapshot, key, partition_cols)
        finally:
            # localCheckpoint pins the snapshot's blocks with no handle
            # on the DataFrame; release them through the plan's RDD.
            snapshot._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return

    # One job reads the batch once, so no snapshot is needed here.
    merged = _newest_per_key(old.unionByName(batch), key)
    # Read-modify-write of the same path needs a staging swap: Spark
    # cannot overwrite a path it is still reading lazily from. Same
    # manifest protocol as the partitioned branch so a crash between the
    # rmtree and the rename is repaired by recover_staging().
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    _write_manifest(staging, {"whole_table": True})
    _install_whole(path, staging)


def _merge_partitions(
    path: str,
    old: DataFrame,
    batch: DataFrame,
    key: str,
    partition_cols: tuple[str, ...],
) -> None:
    # Prune the rewrite: only partitions containing an affected key
    # change. The row data never leaves the executors; only the
    # *partition value tuples* (O(days touched), a handful of rows)
    # are collected to drive the old-side scan and the directory swap.
    affected = [
        tuple(r)
        for r in old.join(F.broadcast(batch.select(key).distinct()), key, "left_semi")
        .select(*partition_cols)
        .unionByName(batch.select(*partition_cols))
        .distinct()
        .collect()
    ]
    # A literal predicate on partition columns is pruned at file
    # listing, so the merge reads only the affected directories.
    old_in_parts = old.filter(_partition_predicate(partition_cols, affected))
    merged = _newest_per_key(old_in_parts.unionByName(batch), key)
    # Write to staging, then swap directories for EVERY affected
    # partition — including ones the merged output no longer has any
    # rows for. Dynamic partition overwrite alone rewrites only
    # partitions present in the output, so when all rows of an old
    # partition migrate elsewhere (e.g. a running job's day
    # re-derived from Time on the next batch), the stale partition
    # would survive with duplicate-key rows.
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(staging)
    rels = [
        os.path.join(*(_hive_part_dir(c, v) for c, v in zip(partition_cols, vals)))
        for vals in affected
    ]
    # Commit point: the manifest is written only after the staged data
    # is complete, and the install loop below is a pure idempotent
    # replay of it — a crash anywhere mid-swap is repaired by
    # recover_staging() (called on the next upsert), which re-runs the
    # same loop from the staged output. Without the manifest a crashed
    # swap left a mix of old and new partitions with no way back.
    #
    # The manifest records two EXPLICIT lists, classified while the
    # staging dir is still complete: "installs" (rels with staged
    # data to rename in) and "deletes" (affected rels with no
    # surviving rows — the key-migration case). Inferring the delete
    # case from "src absent" at replay time is wrong: after a crash
    # mid-loop an already-installed rel ALSO has src absent (it was
    # renamed away), and the inference would rmtree the freshly
    # installed data.
    installs = [r for r in rels if os.path.isdir(os.path.join(staging, r))]
    deletes = [r for r in rels if r not in installs]
    _write_manifest(staging, {"installs": installs, "deletes": deletes})
    _install_staged(path, staging)


def _partition_predicate(partition_cols: tuple[str, ...], affected: list[tuple]):
    """Literal filter selecting exactly the ``affected`` partition value
    tuples; a NULL value is the ``__HIVE_DEFAULT_PARTITION__`` dir."""
    if len(partition_cols) == 1:
        c = F.col(partition_cols[0])
        vals = [v for (v,) in affected if v is not None]
        return c.isin(vals) | c.isNull() if len(vals) < len(affected) else c.isin(vals)

    def eq(c: str, v):
        return F.col(c).isNull() if v is None else F.col(c) == F.lit(v)

    return reduce(
        operator.or_,
        (reduce(operator.and_, map(eq, partition_cols, vals)) for vals in affected),
        F.lit(False),
    )


def _delta_upsert(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    key: str,
    partition_cols: tuple[str, ...],
) -> None:
    """``MERGE INTO`` upsert on a Delta table (reference K2 mapped to
    SURVEY §7's named target).

    Semantics match the parquet branch: one surviving row per ``key``,
    newest batch wins, and a key whose partition value migrated is
    *updated in place* by the MERGE (Delta rewrites the affected files
    under its commit protocol — no stale duplicate can survive, and a
    crash mid-merge leaves the previous snapshot visible). The batch is
    pre-deduplicated on ``key`` because MERGE requires a unique source
    row per matched target row. Caveat vs the reference's row-at-a-time
    INSERT OR REPLACE (slurm2sql.py:1023-1027): with duplicate keys
    WITHIN one batch, ``dropDuplicates`` keeps an arbitrary row (the
    parquet branch shares this tie-break), not the last-seen one —
    batches from the sacct source carry at most one row per JobIDRaw,
    so the difference is unobservable on the reference's own inputs.
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as e:  # pragma: no cover - exercised when absent
        raise ImportError(
            "format='delta' requires the optional delta-spark package "
            "(and its Spark extensions configured on the session); "
            "install delta-spark or use the default parquet backend"
        ) from e

    batch = new_rows.dropDuplicates([key]).withColumn(BATCH_COL, F.lit(0))
    if not DeltaTable.isDeltaTable(spark, path):
        w = batch.write.format("delta").mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.save(path)
        return
    (
        DeltaTable.forPath(spark, path)
        .alias("t")
        .merge(batch.alias("s"), f"t.`{key}` = s.`{key}`")
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


# Characters Spark escapes in hive partition directory names — the EXACT
# set of ExternalCatalogUtils.escapePathName (which follows Hive's
# FileUtils): these plus ASCII control chars become %XX. Notably space
# and '}' are NOT escaped (while '{' is) — the set must match Spark's
# bit-for-bit or the swap below computes directory names different from
# what Spark wrote (test_upsert_partition_value_escaping pins this
# against an actual Spark partitioned write).
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


_MANIFEST = "_upsert_manifest.json"


def _write_manifest(staging: str, payload: dict) -> None:
    """Atomically publish the staging manifest (the upsert commit point).

    A plain open()+json.dump interrupted mid-write would leave truncated
    JSON, and every later ``recover_staging`` would raise
    JSONDecodeError — permanently wedging the table. Temp-file +
    fsync + rename makes the manifest either absent (staging is garbage,
    reclaimed by recover_staging) or complete — never half-written."""
    tmp = os.path.join(staging, _MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, os.path.join(staging, _MANIFEST))


def _install_staged(path: str, staging: str) -> None:
    """Replay the staged partition swap described by the manifest.

    Idempotent at every crash point because the manifest distinguishes
    the two cases explicitly instead of inferring them from filesystem
    state:

    - ``deletes``: affected partitions with no surviving rows (key
      migrated away) — ``rmtree(dst)`` unconditionally; re-running after
      a crash just finds dst already gone.
    - ``installs``: partitions with staged data. If src is absent the
      rename already happened on a previous (crashed) replay — skip,
      WITHOUT touching dst, which now holds the installed data. Only
      when src is still present is dst cleared, immediately before the
      rename, so the delete+rename pair re-runs as a unit.
    """
    with open(os.path.join(staging, _MANIFEST)) as fh:
        manifest = json.load(fh)
    for rel in manifest["deletes"]:
        dst = os.path.join(path, rel)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
    for rel in manifest["installs"]:
        src = os.path.join(staging, rel)
        dst = os.path.join(path, rel)
        if not os.path.isdir(src):
            continue  # already installed by a replay that crashed later
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
    shutil.rmtree(staging, ignore_errors=True)


def _install_whole(path: str, staging: str) -> None:
    """Idempotent whole-table swap: the staged dir (marked complete by
    its manifest) replaces ``path``. Spark ignores the leftover
    underscore-prefixed manifest file like it ignores _SUCCESS."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.rename(staging, path)
    os.remove(os.path.join(path, _MANIFEST))


def recover_staging(path: str) -> None:
    """Repair a partitioned upsert that crashed mid-swap.

    Staging dirs WITH a manifest hold a complete merged batch whose
    install was interrupted — finish installing it. Staging dirs WITHOUT
    one died during the parquet write (the table itself untouched) — they
    are garbage, delete them. Called automatically at the top of every
    ``upsert``; safe to call any time."""
    parent, base = os.path.split(os.path.abspath(path))
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        if not name.startswith(f"{base}.staging-"):
            continue
        staging = os.path.join(parent, name)
        mf = os.path.join(staging, _MANIFEST)
        if not os.path.exists(mf):
            shutil.rmtree(staging, ignore_errors=True)
            continue
        try:
            with open(mf) as fh:
                manifest = json.load(fh)
        except (json.JSONDecodeError, UnicodeDecodeError, ValueError):
            # _write_manifest publishes atomically, so a manifest from
            # THIS writer can't be truncated — but a foreign/corrupted
            # one must not wedge the table forever. _install_staged
            # parses the manifest before any destructive step, so an
            # unparseable manifest means the install never started: the
            # staging dir is garbage, same as the manifest-absent case.
            # NOTE: only PARSE failures mean garbage. A transient read
            # error (EMFILE/EACCES/EIO) must propagate — deleting a
            # complete staged batch on a transient error would turn a
            # guaranteed roll-forward into data loss.
            shutil.rmtree(staging, ignore_errors=True)
            continue
        if manifest.get("whole_table"):
            _install_whole(path, staging)
        else:
            _install_staged(path, staging)


def _hive_part_dir(col: str, val) -> str:
    if val is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    s = str(val)
    esc = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE_CHARS or ord(ch) < 32 else ch
        for ch in s
    )
    return f"{col}={esc}"


def _newest_per_key(df: DataFrame, key: str) -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.desc(BATCH_COL))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def analyze_table(
    spark: SparkSession, path: str, name: str = "slurm"
) -> None:
    """Register the table in the session catalog and compute CBO
    statistics — the columnar replacement for the reference's
    index/ANALYZE step (slurm2sql.py:867-874).

    Registers an EXTERNAL catalog table over the parquet path (temp
    views cannot be ANALYZEd), then runs ``ANALYZE TABLE ... COMPUTE
    STATISTICS FOR ALL COLUMNS`` so Catalyst's cost-based optimizer has
    row counts and column NDV/min/max for join reordering and broadcast
    decisions. Also registers a ``name`` temp view hiding the internal
    batch column, which is what queries should use.

    Upgrade hazard (ADVICE r10): this function DROPs and recreates its
    own table, which discards any stale statistics — but a PERSISTENT
    metastore can hold OTHER tables that an older deployment ANALYZEd
    ``FOR ALL COLUMNS``, including TimestampNTZ column stats. With
    ``spark.sql.cbo.enabled=true`` (the session default since r10)
    those stale NTZ stats trip Spark 4.1's FilterEstimation MatchError
    at QUERY time. On upgrade, re-run :func:`analyze_table` (or ``DROP
    TABLE`` + re-ANALYZE) for every stats-bearing table the engine did
    not create this session; see the matching note at the
    ``cbo.enabled`` config in ``session.py``.
    """
    catalog_name = f"{name}_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {catalog_name}")
    spark.catalog.createTable(catalog_name, path=path, source="parquet")
    # atomic columns only: ANALYZE FOR COLUMNS rejects array/map/
    # struct/binary, and TimestampNTZ column stats trip a MatchError
    # inside Spark 4.1's CBO filter estimation (r10, tools/bench_cbo.py
    # finding) — leave those columns statless; the join-reorder cost
    # model only consumes key-column ndv/min/max anyway.
    atomic = [
        f"`{f.name}`"
        for f in spark.table(catalog_name).schema.fields
        if f.dataType.typeName()
        not in ("array", "map", "struct", "binary", "timestamp_ntz")
    ]
    if atomic:
        spark.sql(
            f"ANALYZE TABLE {catalog_name} COMPUTE STATISTICS "
            f"FOR COLUMNS {', '.join(atomic)}"
        )
    else:
        spark.sql(f"ANALYZE TABLE {catalog_name} COMPUTE STATISTICS")
    read_table(spark, path).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str = "JobIDnostep",
    buckets: int = 64,
) -> None:
    """Persist as a BUCKETED catalog table: rows are hash-clustered into
    ``buckets`` files per partition by ``bucket_col`` and sorted within
    each bucket.

    This is the co-located-join strategy at scale: two tables bucketed
    the same way join WITHOUT a shuffle (Catalyst sees the output
    partitioning is already hash(bucket_col) and drops both exchanges),
    and a groupBy on the bucket column shuffles nothing. Bucketing
    requires the session catalog (bucket metadata lives there, not in
    the parquet footers), hence ``saveAsTable`` with an explicit
    external path instead of a bare ``.parquet(path)``.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", os.path.abspath(path))
        .format("parquet")
        .saveAsTable(name)
    )
