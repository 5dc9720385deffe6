"""CSV and raw sacct-line sources.

- ``read_csv``: sacct-shaped CSV (reference csv_input path,
  slurm2sql.py:995-1004): header row, everything string-typed, values
  stripped, missing columns tolerated (the transform nulls them).
- ``read_sacct_lines`` + ``stitch_lines``: the reference's pipe-delimited
  sacct stream format with the continuation-stitching quirk (reference
  sacct_iter, slurm2sql.py:877-914): sacct output has no quoting, so a
  JobName containing a newline splits one record across physical lines.
  A line with too few fields is buffered and glued to the next; a line
  with too many fields is counted as an error and skipped.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SACCT_DELIMITER = ";|;"

__all__ = [
    "read_csv",
    "stitch_lines",
    "read_sacct_lines",
    "sacct_dump_scan",
    "sacct_dump_scan_stitched",
]


def read_csv(spark: SparkSession, path: str, delimiter: str = ",") -> DataFrame:
    """String-typed, trimmed CSV read (reference slurm2sql.py:995-1004)."""
    df = spark.read.option("header", True).option("sep", delimiter).csv(path)
    return df.select(
        *[F.trim(F.col(f"`{c}`")).alias(c.strip()) for c in df.columns]
    )


def stitch_lines(
    lines: Iterable[str], n_fields: int, errors: list | None = None
) -> Iterator[list[str]]:
    """Reassemble logical sacct records from physical lines.

    Pure-Python kernel mirroring the reference's iterator semantics
    (slurm2sql.py:877-914): fewer fields than the header -> the record
    continues on the next physical line (rejoined with ``\\n``); more
    fields -> unrecoverable, count and skip.
    """
    buf: str | None = None
    for line in lines:
        line = line.rstrip("\n")
        if buf is not None:
            line = buf + "\n" + line
            buf = None
        fields = line.split(SACCT_DELIMITER)
        if len(fields) < n_fields:
            buf = line
            continue
        if len(fields) > n_fields:
            if errors is not None:
                errors.append(line)
            continue
        yield fields


def read_sacct_lines(
    spark: SparkSession,
    lines: Iterable[str] | str,
    errors: list | None = None,
) -> DataFrame:
    """Parse raw sacct-format text (header line first) into a string
    DataFrame.

    Accepts an iterable of lines or a whole-text blob (the reference's
    ``raw_sacct`` injection seam, slurm2sql.py:881-883). Stitching is
    order-sensitive, so records are reassembled before parallelizing —
    matching the reference, where the stream is a single sacct pipe
    anyway. For file-shaped input at scale use ``sacct_dump_scan``
    (a distributed line scan that counts malformed lines).

    ``errors`` collects unrecoverable (too-many-fields) lines so callers
    can surface the count and exit nonzero (reference counts these and
    returns 1, slurm2sql.py:785-788, 907-911).
    """
    if isinstance(lines, str):
        lines = lines.splitlines()
    from pyspark.sql import types as T

    it = iter(lines)
    header = next(it).rstrip("\n").split(SACCT_DELIMITER)
    schema = T.StructType(
        [T.StructField(h, T.StringType(), True) for h in header]
    )
    # Empty fields -> NULL, matching the distributed scans (and the
    # reference's stored semantics: its converters map '' to None at
    # insert, slurm2sql.py nullstr family) — so every ingest seam hands
    # the transform byte-identical frames.
    rows = [
        tuple(x if x != "" else None for x in f)
        for f in stitch_lines(it, len(header), errors)
    ]
    return spark.createDataFrame(rows, schema)


def sacct_dump_scan(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Distributed dump scan WITH malformed-record accounting — the
    default ``--sacct-dump`` path (reference error contract:
    slurm2sql.py:785-788 counts unparseable lines and exits 1).

    Spark's CSV reader cannot do this accounting: in PERMISSIVE mode a
    short line (the signature of a JobName with an embedded newline
    splitting one record across physical lines) is silently null-padded,
    never marked corrupt. So the scan is a ``spark.read.text`` line
    scan + exact-arity split — sacct -P output has no quoting, so a
    well-formed record is precisely a line with ``len(header)`` fields:

    - arity == n: parsed (empty fields -> NULL, matching the CSV
      reader's ``nullValue`` default so downstream converters see the
      same shape either way);
    - arity != n: returned in the second frame for counting/reporting —
      both halves of a newline-split record land here (short), as do
      too-many-field lines (the reference's unrecoverable case).

    Repeated header lines (concatenated dumps) are dropped, not
    counted as errors. Driver-side stitching (``--stitch-lines``) is
    the only path that can REPAIR split records; this one detects and
    reports them at any scale. Returns ``(ok_rows, bad_lines)``; both
    are LAZY and independent — consuming both runs the line scan once
    each (plus the one-row header read), so an ingest with error
    accounting reads the dump twice. Callers who cannot afford the
    second scan can skip the bad-frame action; persisting ``split``
    would trade memory for the rescan and is deliberately not done
    here (dumps can exceed cluster cache).
    """
    import re

    lines = spark.read.text(path)
    header_line = lines.first()
    if header_line is None:
        raise ValueError(f"empty sacct dump: {path}")
    header_line = header_line[0]
    header = header_line.split(SACCT_DELIMITER)
    n = len(header)
    body = lines.filter(F.col("value") != header_line)
    parts = F.split(F.col("value"), re.escape(SACCT_DELIMITER), -1)
    split = body.select("value", parts.alias("_p")).withColumn(
        "_n", F.size("_p")
    )
    ok = split.filter(F.col("_n") == n).select(
        *[
            F.nullif(F.col("_p").getItem(i), F.lit("")).alias(h)
            for i, h in enumerate(header)
        ]
    )
    bad = split.filter(F.col("_n") != n).select(
        F.col("value").alias("line"), F.col("_n").alias("n_fields")
    )
    return ok, bad


def sacct_dump_scan_stitched(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Distributed dump scan that REPAIRS newline-split records — the
    scale path for ``--stitch-lines`` (reference sacct_iter,
    slurm2sql.py:877-914, whose repair was previously driver-only here).

    Why this parallelizes: the stitch automaton's only state is the
    pending short-line buffer, and after ANY line with field arity
    ``>= n`` the buffer is provably empty (no-buffer + arity n -> record
    emitted; pending buffer merges to arity ``>= n`` -> record or error
    emitted; either way the buffer clears).  So a line with arity
    ``== n`` whose in-file predecessor has arity ``>= n`` is a complete
    record NO MATTER what any earlier line contained.  That classifies
    every line locally:

    - SAFE (arity == n, predecessor arity >= n, predecessor known):
      parsed in place — the wide fast path, one narrow Arrow pass, no
      shuffle, no cross-partition coordination.
    - SUSPECT (arity != n, or first line of a partition where the
      predecessor is unknown): routed to a single-task repair stage
      that runs the exact ``stitch_lines`` kernel over file-adjacent
      runs.  Suspect volume is proportional to how rare embedded
      newlines are (plus one line per partition boundary), so the
      sequential stage handles kilobytes while the terabytes stay on
      the fast path.  A pathological all-short-lines dump degrades to
      one sequential task — the same chain a single reader pays, now an
      explicit worst case instead of the default.

    File-adjacency across partitions is reconstructed from per-partition
    sentinel rows carrying the partition's line count (empty partitions
    included), so runs that span partition boundaries — including a
    record whose continuation lines open the next split — stitch
    exactly like the driver kernel.  ``spark.read.text`` assigns whole
    physical lines to the split where they start, so partitions hold
    contiguous in-order line ranges.  Single-file dumps only (a
    directory's file ordering is not a record order); gzipped dumps
    work (one partition, everything suspect-free except line arity).

    Returns ``(ok_rows, bad_lines)`` with the same contract as
    ``sacct_dump_scan``: empty fields -> NULL, bad lines counted not
    repaired (here only genuinely unrecoverable merges land in ``bad``
    — the reference's too-many-fields case), both frames lazy, and the
    trailing unterminated buffer at EOF dropped silently (reference
    behavior).  Unlike ``sacct_dump_scan``, repeated header lines are
    data (arity n -> a record of column-name strings), matching the
    driver stitcher byte for byte.
    """
    import os
    import re

    import pandas as pd

    if os.path.isdir(path):
        # The repair kernel chains file-adjacent runs; a directory's
        # file ordering is not a record order, so stitching across its
        # files would silently merge unrelated records. (The driver
        # open() path failed loudly on directories; keep that contract.)
        raise ValueError(
            f"--stitch-lines needs a single dump file, got a directory: "
            f"{path} (stitch each file separately)"
        )
    lines = spark.read.text(path)
    # The isdir guard doesn't catch glob patterns (or comma-free
    # multi-file paths Spark resolves): assert the resolved scan is
    # exactly ONE file, or the repair kernel would chain file-adjacent
    # runs across unrelated files in arbitrary order (ADVICE r6).
    resolved = lines.inputFiles()
    if len(resolved) != 1:
        raise ValueError(
            f"--stitch-lines needs a single dump file; {path!r} resolved "
            f"to {len(resolved)} files (stitch each file separately)"
        )
    header_row = lines.first()
    if header_row is None:
        raise ValueError(f"empty sacct dump: {path}")
    header = header_row[0].split(SACCT_DELIMITER)
    n = len(header)
    delim_re = re.escape(SACCT_DELIMITER)

    tag_schema = "pid long, idx long, arity long, safe boolean, value string"

    def _tag(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        idx0 = 0
        prev_arity = None  # None == unknown (partition start)
        for pdf in batches:
            v = pdf["value"]
            arity = v.str.count(delim_re) + 1
            prev = arity.shift(1)
            if prev_arity is not None and len(prev):
                prev.iloc[0] = prev_arity
            safe = (arity == n) & (prev >= n)  # NaN prev -> False
            yield pd.DataFrame(
                {
                    "pid": pid,
                    "idx": range(idx0, idx0 + len(pdf)),
                    "arity": arity.astype("int64"),
                    "safe": safe.fillna(False).astype(bool),
                    "value": v,
                }
            )
            idx0 += len(pdf)
            if len(arity):
                prev_arity = int(arity.iloc[-1])
        # per-partition sentinel: idx=-1, arity = line count — lets the
        # repair stage chain runs across partition boundaries (and over
        # empty partitions, which emit only this row)
        yield pd.DataFrame(
            {"pid": [pid], "idx": [-1], "arity": [idx0],
             "safe": [False], "value": [None]}
        )

    tagged = lines.mapInPandas(_tag, schema=tag_schema)

    ok_fast = tagged.filter(F.col("safe")).select(
        F.split(F.col("value"), delim_re, -1).alias("_p")
    )

    suspect = (
        tagged.filter(~F.col("safe"))
        .repartition(1)
        .sortWithinPartitions("pid", "idx")
    )

    repair_schema = "bad boolean, value string"

    def _repair(batches):
        counts: dict[int, int] = {}
        prev_pos: tuple[int, int] | None = None
        buf: str | None = None

        def _adjacent(a, b):
            (ap, ai), (bp, bi) = a, b
            if ap == bp:
                return bi == ai + 1
            if bi != 0 or ai != counts.get(ap, -2) - 1:
                return False
            return all(counts.get(p, -1) == 0 for p in range(ap + 1, bp))

        out_ok: list[str] = []
        out_bad: list[str] = []
        for pdf in batches:
            for pid, idx, value in zip(pdf["pid"], pdf["idx"], pdf["value"]):
                pid, idx = int(pid), int(idx)
                if idx == -1:
                    counts[pid] = int(value) if value is not None else 0
                    continue
                if pid == 0 and idx == 0:
                    prev_pos = (0, 0)  # the header line: skip, sync state
                    buf = None
                    continue
                if prev_pos is not None and not _adjacent(prev_pos, (pid, idx)):
                    # a SAFE line sits between the runs; the automaton
                    # invariant guarantees the buffer was already empty
                    buf = None
                prev_pos = (pid, idx)
                line = value
                if buf is not None:
                    line = buf + "\n" + line
                    buf = None
                fields = line.split(SACCT_DELIMITER)
                if len(fields) < n:
                    buf = line
                elif len(fields) > n:
                    out_bad.append(line)
                else:
                    out_ok.append(line)
        # trailing unterminated buffer: dropped silently (reference)
        yield pd.DataFrame(
            {
                "bad": [False] * len(out_ok) + [True] * len(out_bad),
                "value": out_ok + out_bad,
            }
        )

    # sentinel counts ride in `value` (string) for the repair kernel
    suspect_packed = suspect.select(
        "pid", "idx",
        F.when(F.col("idx") == -1, F.col("arity").cast("string"))
        .otherwise(F.col("value")).alias("value"),
    )
    repaired = suspect_packed.mapInPandas(_repair, schema=repair_schema)
    ok_repaired = repaired.filter(~F.col("bad")).select(
        F.split(F.col("value"), delim_re, -1).alias("_p")
    )
    ok = ok_fast.unionByName(ok_repaired).select(
        *[
            F.nullif(F.col("_p").getItem(i), F.lit("")).alias(h)
            for i, h in enumerate(header)
        ]
    )
    bad = repaired.filter(F.col("bad")).select(
        F.col("value").alias("line"),
        (F.size(F.split(F.col("value"), delim_re, -1))).alias("n_fields"),
    )
    return ok, bad
