"""Sink upsert (K1-K5) + incremental history loop (T1-T5) semantics,
pinned against the reference's behavior (slurm2sql.py:1023-1034,
791-851, test.py:329-357)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from slurm2sql_spark.sinks.parquet_sink import (
    read_table,
    upsert,
    with_day_partition,
    write_overwrite,
)
from slurm2sql_spark.streaming.history import (
    RESUME_REWIND_S,
    day_windows,
    get_watermark,
    ingest_history,
    set_watermark,
)


def _jobs(spark, rows):
    return spark.createDataFrame(rows, "JobID string, State string, Time long")


def test_overwrite_then_read(spark, tmp_path):
    p = str(tmp_path / "t")
    write_overwrite(_jobs(spark, [("1", "RUNNING", 100)]), p)
    out = read_table(spark, p).collect()
    assert [(r.JobID, r.State) for r in out] == [("1", "RUNNING")]


def test_upsert_replaces_on_key_and_is_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert(spark, _jobs(spark, [("1", "RUNNING", 100), ("2", "PENDING", 90)]), p)
    # replay an overlapping batch (T3): job 1 completed, job 3 new
    batch2 = _jobs(spark, [("1", "COMPLETED", 110), ("3", "RUNNING", 120)])
    upsert(spark, batch2, p)
    upsert(spark, batch2, p)  # exact replay must be a no-op in effect
    out = {r.JobID: r.State for r in read_table(spark, p).collect()}
    assert out == {"1": "COMPLETED", "2": "PENDING", "3": "RUNNING"}


def test_partitioned_upsert_rewrites_only_affected_days(spark, tmp_path):
    p = str(tmp_path / "t")
    day = 86400
    base = with_day_partition(
        _jobs(spark, [("1", "RUNNING", 0 * day), ("2", "DONE", 1 * day + 60)])
    )
    upsert(spark, base, p, partition_cols=("day",))
    parts_before = {
        d: os.path.getmtime(os.path.join(p, d))
        for d in os.listdir(p)
        if d.startswith("day=")
    }
    assert len(parts_before) == 2
    batch = with_day_partition(_jobs(spark, [("1", "COMPLETED", 0 * day)]))
    upsert(spark, batch, p, partition_cols=("day",))
    out = {r.JobID: r.State for r in read_table(spark, p).collect()}
    assert out == {"1": "COMPLETED", "2": "DONE"}
    # the untouched day's directory was not rewritten
    untouched = [d for d in parts_before if "1970-01-02" in d][0]
    assert os.path.getmtime(os.path.join(p, untouched)) == parts_before[untouched]


def test_day_windows_split_at_midnight():
    # 2021-01-01 12:00 UTC-ish local -> windows end at local midnights
    import datetime as dt

    start = int(dt.datetime(2021, 1, 1, 12, 0).timestamp())
    stop = int(dt.datetime(2021, 1, 3, 6, 0).timestamp())
    wins = list(day_windows(start, stop))
    assert len(wins) == 3
    assert wins[0][0] == start and wins[-1][1] == stop
    for (_, a_end), (b_start, _) in zip(wins, wins[1:]):
        assert a_end == b_start
    assert dt.datetime.fromtimestamp(wins[0][1]).strftime("%H:%M") == "00:00"


def test_watermark_roundtrip(tmp_path):
    p = str(tmp_path / "t")
    assert get_watermark(p) is None
    set_watermark(p, 12345)
    assert get_watermark(p) == 12345


def test_ingest_history_resume(spark, tmp_path):
    """Resume uses the stamp minus the 5 s rewind (reference
    test.py:349-357) and replays idempotently via the upsert."""
    p = str(tmp_path / "t")
    fetched: list[tuple[int, int]] = []

    def fetch(ws, we):
        fetched.append((ws, we))
        return _jobs(spark, [(f"j{ws}", "DONE", ws)])

    n = ingest_history(
        spark, fetch, p, start_ts=0, stop_ts=200_000, now=1_000_000
    )
    assert n == len(fetched) > 1
    # progressive stamp: the last committed window's end, not loop-start
    # now (reference end_ = min(end_, time.time()), slurm2sql.py:845-848)
    assert get_watermark(p) == 200_000

    fetched.clear()
    n2 = ingest_history(
        spark, fetch, p, resume=True, stop_ts=1_100_000, now=1_050_000
    )
    assert fetched[0][0] == 200_000 - RESUME_REWIND_S
    assert n2 == len(fetched)
    # final stamp capped at now: the last window ends at stop 1_100_000
    # which is in the future relative to now=1_050_000
    assert get_watermark(p) == 1_050_000
    # all keys from both passes present exactly once
    rows = read_table(spark, p).groupBy("JobID").count().collect()
    assert all(r["count"] == 1 for r in rows)


def test_ingest_history_crash_resumes_from_last_committed(spark, tmp_path):
    """A crash mid-loop must leave the stamp at the last *committed*
    window's end, so resume re-fetches the unfetched days instead of
    skipping them (reference per-window update_last_timestamp,
    slurm2sql.py:845-848)."""
    import datetime as dt

    import pytest

    p = str(tmp_path / "t")
    start = int(dt.datetime(2021, 1, 1).timestamp())
    stop = int(dt.datetime(2021, 1, 4).timestamp())
    wins = list(day_windows(start, stop))
    assert len(wins) == 3
    calls = []

    def fetch(ws, we):
        if len(calls) == 2:
            raise RuntimeError("sacct died")
        calls.append((ws, we))
        return _jobs(spark, [(f"j{ws}", "DONE", ws)])

    with pytest.raises(RuntimeError):
        ingest_history(
            spark, fetch, p, start_ts=start, stop_ts=stop, now=stop + 10
        )
    # two windows committed; stamp = end of the SECOND window, so the
    # third day is re-fetched on resume
    assert get_watermark(p) == wins[1][1]


def test_partitioned_upsert_clears_migrated_partition(spark, tmp_path):
    """When every row of an old partition migrates to another partition
    (running job's day re-derived on the next batch), the old partition
    must be cleared — dynamic overwrite alone would leave stale
    duplicate-key rows."""
    p = str(tmp_path / "t")
    day = 86400
    base = with_day_partition(_jobs(spark, [("1", "RUNNING", 0 * day)]))
    upsert(spark, base, p, partition_cols=("day",))
    # job 1 is now stamped a day later: its old day partition empties out
    batch = with_day_partition(_jobs(spark, [("1", "COMPLETED", 1 * day + 60)]))
    upsert(spark, batch, p, partition_cols=("day",))
    out = read_table(spark, p).collect()
    assert [(r.JobID, r.State) for r in out] == [("1", "COMPLETED")]
    assert not os.path.isdir(os.path.join(p, "day=1970-01-01"))


def test_partitioned_upsert_of_unstable_batch_keeps_every_key(spark, tmp_path):
    """A batch whose partition value changes between evaluations (here
    the clock; in production a live sacct source or a 'now' near
    midnight) is upserted as one snapshot: the partitions cleared for
    key 1 and the partition its new row is written to come from the same
    evaluation, so neither key is lost."""
    p = str(tmp_path / "t")
    schema = "JobID string, State string, part string"
    seed = spark.createDataFrame([("1", "RUNNING", "a"), ("2", "PENDING", "a")], schema)
    upsert(spark, seed, p, partition_cols=("part",))
    batch = spark.createDataFrame([("1", "COMPLETED")], "JobID string, State string")
    batch = batch.withColumn("part", F.date_format(F.current_timestamp(), "HHmmssSSS"))
    upsert(spark, batch, p, partition_cols=("part",))
    out = {r.JobID: r.State for r in read_table(spark, p).collect()}
    assert out == {"1": "COMPLETED", "2": "PENDING"}


def test_partitioned_upsert_prunes_multi_column_and_null_partitions(spark, tmp_path):
    """The old-side scan is limited by a literal predicate over every
    partition column; NULL values (the __HIVE_DEFAULT_PARTITION__ dir)
    must be selected too, or their old rows would be dropped."""
    p = str(tmp_path / "t")
    schema = "JobID string, State string, a string, b string"
    rows = [
        ("1", "RUNNING", "x", None),
        ("2", "PENDING", None, "y"),
        ("3", "DONE", "x", "y"),
        ("4", "DONE", "z", "y"),
    ]
    upsert(spark, spark.createDataFrame(rows, schema), p, partition_cols=("a", "b"))
    batch = [
        ("1", "COMPLETED", "x", None),
        ("2", "RUNNING", None, "y"),
        ("5", "NEW", "x", "y"),
    ]
    upsert(spark, spark.createDataFrame(batch, schema), p, partition_cols=("a", "b"))
    out = {r.JobID: (r.State, r.a, r.b) for r in read_table(spark, p).collect()}
    assert out == {
        "1": ("COMPLETED", "x", None),
        "2": ("RUNNING", None, "y"),
        "3": ("DONE", "x", "y"),
        "4": ("DONE", "z", "y"),
        "5": ("NEW", "x", "y"),
    }


def test_analyze_table_computes_catalog_stats(spark, tmp_path):
    from slurm2sql_spark.sinks.parquet_sink import analyze_table, write_overwrite

    df = spark.createDataFrame(
        [(str(i), f"u{i % 3}") for i in range(50)], "JobID string, User string"
    )
    path = str(tmp_path / "t")
    write_overwrite(df, path)
    analyze_table(spark, path, name="slurm_stats_test")
    # temp view registered and batch column hidden
    assert spark.table("slurm_stats_test").columns == ["JobID", "User"]
    # CBO statistics actually recorded on the catalog table
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(
            "DESCRIBE TABLE EXTENDED slurm_stats_test_tbl"
        ).collect()
    }
    assert "Statistics" in desc and "rows" in desc["Statistics"]
    # column-level stats too (the CBO join-reorder inputs)
    cdesc = {
        r.info_name: r.info_value
        for r in spark.sql(
            "DESCRIBE TABLE EXTENDED slurm_stats_test_tbl JobID"
        ).collect()
    }
    assert cdesc.get("distinct_count") not in (None, "NULL")
    spark.sql("DROP TABLE IF EXISTS slurm_stats_test_tbl")


def test_analyze_table_skips_types_cbo_cannot_estimate(spark, tmp_path):
    """r10: ANALYZE FOR COLUMNS rejects array/map/struct/binary, and
    TimestampNTZ column stats trip a MatchError inside Spark 4.1's CBO
    estimation — analyze_table must stats the atomic columns and leave
    those columns statless instead of failing (or worse, poisoning the
    optimizer)."""
    from pyspark.sql import functions as F

    from slurm2sql_spark.sinks.parquet_sink import analyze_table, write_overwrite

    df = spark.range(20).select(
        F.col("id"),
        F.array(F.col("id").cast("double")).alias("vec"),
        F.to_timestamp_ntz(F.lit("2024-01-01 00:00:00")).alias("ts_ntz"),
    )
    path = str(tmp_path / "mixed")
    write_overwrite(df, path)
    analyze_table(spark, path, name="mixed_stats_test")  # must not raise
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(
            "DESCRIBE TABLE EXTENDED mixed_stats_test_tbl"
        ).collect()
    }
    assert "Statistics" in desc and "rows" in desc["Statistics"]
    # the analyzed table is USABLE under the session's CBO-on defaults
    # (a poisoned NTZ stat would MatchError in optimization here)
    joined = spark.table("mixed_stats_test_tbl").join(
        spark.table("mixed_stats_test_tbl").select("id"), "id"
    )
    assert joined.count() == 20
    spark.sql("DROP TABLE IF EXISTS mixed_stats_test_tbl")


def test_hive_part_dir_matches_spark_escaping(spark, tmp_path):
    """_hive_part_dir must compute the EXACT directory names Spark's
    partitioned writer produces (ExternalCatalogUtils.escapePathName) —
    space and '}' pass through unescaped, '{' ':' '=' etc. become %XX."""
    from slurm2sql_spark.sinks.parquet_sink import _hive_part_dir

    vals = ["a b", "x}y", "x{y", "h:m", "k=v", "p/q", "100%", "plain"]
    df = spark.createDataFrame([(v, 1) for v in vals], "part string, n long")
    p = str(tmp_path / "esc")
    df.write.partitionBy("part").parquet(p)
    wrote = {d for d in os.listdir(p) if d.startswith("part=")}
    computed = {_hive_part_dir("part", v) for v in vals}
    assert computed == wrote


def test_partitioned_upsert_arbitrary_partition_values(spark, tmp_path):
    """Upsert keyed rows whose partition values contain the characters
    ADVICE flagged (space, '}'): the swap must find Spark's directories,
    leave no stale duplicates, and keep the new rows."""
    p = str(tmp_path / "t")

    def rows(spark, data):
        return spark.createDataFrame(data, "JobID string, State string, part string")

    upsert(
        spark,
        rows(spark, [("1", "RUNNING", "a b"), ("2", "PENDING", "x}y")]),
        p,
        partition_cols=("part",),
    )
    upsert(
        spark,
        rows(spark, [("1", "COMPLETED", "a b"), ("3", "RUNNING", "x{y")]),
        p,
        partition_cols=("part",),
    )
    out = {r.JobID: (r.State, r.part) for r in read_table(spark, p).collect()}
    assert out == {
        "1": ("COMPLETED", "a b"),
        "2": ("PENDING", "x}y"),
        "3": ("RUNNING", "x{y"),
    }


def test_upsert_crash_mid_swap_recovers(spark, tmp_path, monkeypatch):
    """A crash between staging write and swap completion is repaired on
    the next upsert: the manifest makes the install loop a resumable
    idempotent replay."""
    import slurm2sql_spark.sinks.parquet_sink as sink

    p = str(tmp_path / "t")
    day = 86400
    base = with_day_partition(
        _jobs(spark, [("1", "RUNNING", 0 * day), ("2", "DONE", 1 * day + 60)])
    )
    upsert(spark, base, p, partition_cols=("day",))

    # crash AFTER the staged batch is complete but BEFORE any partition
    # is swapped in
    real_install = sink._install_staged
    monkeypatch.setattr(
        sink, "_install_staged",
        lambda path, staging: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    batch = with_day_partition(_jobs(spark, [("1", "COMPLETED", 0 * day)]))
    try:
        upsert(spark, batch, p, partition_cols=("day",))
    except RuntimeError:
        pass
    monkeypatch.setattr(sink, "_install_staged", real_install)
    # table still readable (old state), staging dir left behind
    assert {r.JobID for r in read_table(spark, p).collect()} == {"1", "2"}

    # the next upsert first recovers the crashed batch, then applies its
    # own; job 3 lands AND job 1's crashed COMPLETED update is not lost
    upsert(
        spark,
        with_day_partition(_jobs(spark, [("3", "RUNNING", 2 * day)])),
        p,
        partition_cols=("day",),
    )
    out = {r.JobID: r.State for r in read_table(spark, p).collect()}
    assert out == {"1": "COMPLETED", "2": "DONE", "3": "RUNNING"}
    # no staging leftovers
    leftovers = [d for d in os.listdir(tmp_path) if ".staging-" in d]
    assert leftovers == []


def test_upsert_crash_mid_install_loop_recovers(spark, tmp_path, monkeypatch):
    """Crash AFTER the first partition rename but before the loop
    finishes (the ADVICE r3 high finding): on replay, already-installed
    partitions have src absent + dst present — the old 'src absent means
    delete dst' inference destroyed the freshly installed data. The
    manifest's explicit installs/deletes lists make the replay skip the
    installed rel instead."""
    import slurm2sql_spark.sinks.parquet_sink as sink

    p = str(tmp_path / "t")
    day = 86400
    base = with_day_partition(
        _jobs(spark, [("1", "RUNNING", 0 * day), ("2", "DONE", 1 * day + 60)])
    )
    upsert(spark, base, p, partition_cols=("day",))

    # batch: job 1 migrates day0 -> day2 (delete rel for day0), job 4
    # lands in day1 (install rel) — two installs + one delete, so the
    # crash leaves a genuinely mixed state.
    batch = with_day_partition(
        _jobs(spark, [("1", "COMPLETED", 2 * day), ("4", "NEW", 1 * day + 90)])
    )
    real_rename = os.rename
    renames = {"n": 0}

    def crash_after_first(src, dst):
        real_rename(src, dst)
        renames["n"] += 1
        if renames["n"] == 1:
            raise RuntimeError("crash mid-install-loop")

    monkeypatch.setattr(sink.os, "rename", crash_after_first)
    try:
        upsert(spark, batch, p, partition_cols=("day",))
    except RuntimeError:
        pass
    monkeypatch.setattr(sink.os, "rename", real_rename)
    assert renames["n"] == 1  # exactly one partition was installed

    # next upsert recovers the crashed batch first, then applies its own
    upsert(
        spark,
        with_day_partition(_jobs(spark, [("5", "RUNNING", 3 * day)])),
        p,
        partition_cols=("day",),
    )
    out = {r.JobID: (r.State, str(r.day)) for r in read_table(spark, p).collect()}
    assert out == {
        "1": ("COMPLETED", "1970-01-03"),  # migrated, old day0 copy gone
        "2": ("DONE", "1970-01-02"),
        "4": ("NEW", "1970-01-02"),
        "5": ("RUNNING", "1970-01-04"),
    }
    assert [d for d in os.listdir(tmp_path) if ".staging-" in d] == []


def test_garbage_staging_without_manifest_is_deleted(spark, tmp_path):
    from slurm2sql_spark.sinks.parquet_sink import recover_staging

    p = str(tmp_path / "t")
    write_overwrite(_jobs(spark, [("1", "RUNNING", 100)]), p)
    garbage = f"{p}.staging-deadbeef"
    os.makedirs(garbage)
    recover_staging(p)
    assert not os.path.isdir(garbage)
    assert {r.JobID for r in read_table(spark, p).collect()} == {"1"}


def test_truncated_manifest_staging_is_reclaimed_not_wedged(spark, tmp_path):
    """A staging dir with unparseable manifest JSON (foreign writer /
    disk corruption — our own writer publishes atomically) must be
    treated as garbage, not raise JSONDecodeError forever."""
    from slurm2sql_spark.sinks.parquet_sink import _MANIFEST, recover_staging

    p = str(tmp_path / "t")
    write_overwrite(_jobs(spark, [("1", "RUNNING", 100)]), p)
    bad = f"{p}.staging-0badjson"
    os.makedirs(bad)
    with open(os.path.join(bad, _MANIFEST), "w") as fh:
        fh.write('{"installs": ["day=1970-01-')  # truncated mid-write
    recover_staging(p)  # must not raise
    assert not os.path.isdir(bad)
    # table untouched, and subsequent upserts work
    upsert(spark, _jobs(spark, [("2", "DONE", 200)]), p, key="JobID")
    assert {r.JobID for r in read_table(spark, p).collect()} == {"1", "2"}


def test_manifest_written_atomically(spark, tmp_path, monkeypatch):
    """No observable instant where the manifest file exists but is
    incomplete: the writer must go through temp-file + rename."""
    import slurm2sql_spark.sinks.parquet_sink as sink

    seen: list[str] = []
    real_rename = os.rename

    def spy(src, dst):
        if dst.endswith(sink._MANIFEST):
            with open(src) as fh:
                import json

                json.load(fh)  # complete JSON before it becomes visible
            seen.append(dst)
        return real_rename(src, dst)

    monkeypatch.setattr(sink.os, "rename", spy)
    p = str(tmp_path / "t")
    upsert(spark, _jobs(spark, [("1", "RUNNING", 100)]), p, key="JobID")
    upsert(spark, _jobs(spark, [("2", "DONE", 200)]), p, key="JobID")
    assert seen, "manifest was not published via rename"


# --- optional Delta MERGE backend (K2's object-store path) ---------------

def _has_delta():
    try:
        import delta  # noqa: F401
        return True
    except ImportError:
        return False


import pytest  # noqa: E402


@pytest.mark.skipif(not _has_delta(), reason="delta-spark not installed")
def test_delta_upsert_replaces_on_key_and_is_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    upsert(spark, _jobs(spark, [("1", "RUNNING", 100), ("2", "PENDING", 90)]),
           p, format="delta")
    batch2 = _jobs(spark, [("1", "COMPLETED", 110), ("3", "RUNNING", 120)])
    upsert(spark, batch2, p, format="delta")
    upsert(spark, batch2, p, format="delta")  # replay = no-op in effect
    out = {r.JobID: r.State
           for r in read_table(spark, p, format="delta").collect()}
    assert out == {"1": "COMPLETED", "2": "PENDING", "3": "RUNNING"}


@pytest.mark.skipif(not _has_delta(), reason="delta-spark not installed")
def test_delta_partitioned_upsert_migrates_key(spark, tmp_path):
    p = str(tmp_path / "t")
    day = 86400
    base = with_day_partition(_jobs(spark, [("1", "RUNNING", 0)]))
    upsert(spark, base, p, partition_cols=("day",), format="delta")
    moved = with_day_partition(_jobs(spark, [("1", "COMPLETED", 5 * day)]))
    upsert(spark, moved, p, partition_cols=("day",), format="delta")
    rows = read_table(spark, p, format="delta").collect()
    assert len(rows) == 1 and rows[0].State == "COMPLETED"


@pytest.mark.skipif(_has_delta(), reason="delta-spark installed")
def test_delta_absent_raises_actionable_import_error(spark, tmp_path):
    with pytest.raises(ImportError, match="delta-spark"):
        upsert(spark, _jobs(spark, [("1", "RUNNING", 100)]),
               str(tmp_path / "t"), format="delta")


def test_unknown_upsert_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported upsert format"):
        upsert(spark, _jobs(spark, [("1", "RUNNING", 100)]),
               str(tmp_path / "t"), format="orc")


# --- fake-delta contract harness -----------------------------------------
# delta-spark is not installable in every CI environment, but the
# _delta_upsert branch must not ship untested: this fixture installs a
# faithful in-process stand-in (parquet + a _delta_log marker, MERGE
# semantics per the Delta MERGE spec: matched -> update all columns,
# not matched -> insert) and runs the SAME upsert code path — builder
# chain, merge-condition construction, initial-write branch and all.
# Environments with real delta-spark additionally run the real tests
# above; the fake asserts the exact calls our code makes, so a contract
# drift (wrong condition string, missing whenNotMatchedInsertAll) fails
# here even without the package.


@pytest.fixture
def fake_delta(monkeypatch, tmp_path):
    import os
    import re
    import shutil
    import sys
    import types

    import pyspark.sql.readwriter as RW

    class _FakeMergeBuilder:
        def __init__(self, spark, path):
            self._spark, self._path = spark, path
            self._source = self._cond = None
            self._matched = self._not_matched = False

        def alias(self, name):
            return self

        def merge(self, source, cond):
            self._source, self._cond = source, cond
            return self

        def whenMatchedUpdateAll(self):
            self._matched = True
            return self

        def whenNotMatchedInsertAll(self):
            self._not_matched = True
            return self

        def execute(self):
            assert self._matched and self._not_matched, (
                "MERGE built without both whenMatchedUpdateAll and "
                "whenNotMatchedInsertAll"
            )
            m = re.fullmatch(r"t\.`(.+)` = s\.`(.+)`", self._cond)
            assert m and m.group(1) == m.group(2), (
                f"unexpected merge condition: {self._cond!r}"
            )
            key = m.group(1)
            target = self._spark.read.parquet(self._path)
            src = self._source
            merged = target.join(
                src.select(key), key, "left_anti"
            ).unionByName(src)
            tmp = self._path + ".fakedelta"
            merged.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(self._path)
            os.rename(tmp, self._path)
            os.makedirs(os.path.join(self._path, "_delta_log"), exist_ok=True)

    class FakeDeltaTable:
        _last_builder = None

        @staticmethod
        def isDeltaTable(spark, path):
            return os.path.isdir(os.path.join(path, "_delta_log"))

        @classmethod
        def forPath(cls, spark, path):
            cls._last_builder = _FakeMergeBuilder(spark, path)
            return cls._last_builder

    delta_mod = types.ModuleType("delta")
    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = FakeDeltaTable
    delta_mod.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", delta_mod)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)

    real_wfmt = RW.DataFrameWriter.format
    real_save = RW.DataFrameWriter.save
    real_rfmt = RW.DataFrameReader.format

    def wfmt(self, fmt):
        self._fake_delta = fmt == "delta"
        return real_wfmt(self, "parquet" if fmt == "delta" else fmt)

    def save(self, path=None, **kw):
        real_save(self, path, **kw)
        if getattr(self, "_fake_delta", False) and path:
            os.makedirs(os.path.join(path, "_delta_log"), exist_ok=True)

    def rfmt(self, fmt):
        return real_rfmt(self, "parquet" if fmt == "delta" else fmt)

    monkeypatch.setattr(RW.DataFrameWriter, "format", wfmt)
    monkeypatch.setattr(RW.DataFrameWriter, "save", save)
    monkeypatch.setattr(RW.DataFrameReader, "format", rfmt)
    return FakeDeltaTable


def test_fake_delta_upsert_replaces_on_key_and_is_idempotent(
    spark, tmp_path, fake_delta
):
    p = str(tmp_path / "t")
    upsert(spark, _jobs(spark, [("1", "RUNNING", 100), ("2", "PENDING", 90)]),
           p, format="delta")
    batch2 = _jobs(spark, [("1", "COMPLETED", 110), ("3", "RUNNING", 120)])
    upsert(spark, batch2, p, format="delta")
    upsert(spark, batch2, p, format="delta")  # replay = no-op in effect
    out = {r.JobID: r.State
           for r in read_table(spark, p, format="delta").collect()}
    assert out == {"1": "COMPLETED", "2": "PENDING", "3": "RUNNING"}
    assert fake_delta._last_builder is not None  # MERGE path really ran


def test_fake_delta_partitioned_upsert_migrates_key(spark, tmp_path, fake_delta):
    p = str(tmp_path / "t")
    day = 86400
    base = with_day_partition(_jobs(spark, [("1", "RUNNING", 0)]))
    upsert(spark, base, p, partition_cols=("day",), format="delta")
    moved = with_day_partition(_jobs(spark, [("1", "COMPLETED", 5 * day)]))
    upsert(spark, moved, p, partition_cols=("day",), format="delta")
    rows = read_table(spark, p, format="delta").collect()
    assert len(rows) == 1 and rows[0].State == "COMPLETED"


def test_fake_delta_batch_with_duplicate_keys_is_deduped(
    spark, tmp_path, fake_delta
):
    """MERGE requires a unique source row per matched target row;
    _delta_upsert pre-dedupes the batch (documented tie-break)."""
    p = str(tmp_path / "t")
    upsert(spark, _jobs(spark, [("1", "RUNNING", 100)]), p, format="delta")
    dup = _jobs(spark, [("1", "COMPLETED", 110), ("1", "FAILED", 120)])
    upsert(spark, dup, p, format="delta")
    rows = read_table(spark, p, format="delta").collect()
    assert len(rows) == 1 and rows[0].State in ("COMPLETED", "FAILED")


def test_orc_format_round_trip(spark, tmp_path):
    """write_overwrite/read_table are format-generic: ORC (Spark
    built-in, columnar, pushdown-capable) round-trips the typed schema
    and values identically to the parquet default — the 'another
    columnar format' escape hatch needs no code path of its own."""
    rows = [("1", "RUNNING", 100), ("2_3.batch", "COMPLETED", None)]
    pq = str(tmp_path / "t_parquet")
    oc = str(tmp_path / "t_orc")
    write_overwrite(_jobs(spark, rows), pq)
    write_overwrite(_jobs(spark, rows), oc, format="orc")
    a = read_table(spark, pq)
    b = read_table(spark, oc, format="orc")
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # predicate pushdown reaches the ORC scan too
    plan = (
        b.filter(F.col("Time") > 50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "orc" in plan.lower() and "GreaterThan(Time,50)" in plan, plan
