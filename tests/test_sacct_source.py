"""sacct Python DataSource (S1/S6/S7) driven by a fake sacct binary —
the reference's own test seam is injected raw output (slurm2sql.py:881,
test.py:54-59); ours is a stub executable, exercising the real
subprocess + stitcher + partitioning path end-to-end."""

from __future__ import annotations

import os
import stat

import pytest

from slurm2sql_spark.sources.sacct_source import (
    SacctDataSource,
    args_to_sacct_filter,
)

FAKE_SACCT = r"""#!/bin/bash
# echoes a fixed sacct dump; logs argv for pushdown assertions
echo "$@" >> "$(dirname "$0")/calls.log"
echo 'JobID;|;JobIDRaw;|;State;|;NCPUS'
echo '1;|;1;|;COMPLETED;|;4'
echo '1.batch;|;1.batch;|;COMPLETED;|;4'
echo '2;|;2;|;RUNNING;|;8'
"""


@pytest.fixture()
def fake_sacct(tmp_path):
    p = tmp_path / "sacct"
    p.write_text(FAKE_SACCT)
    os.chmod(p, os.stat(p).st_mode | stat.S_IEXEC)
    return p


def _read(spark, fake_sacct, **opts):
    spark.dataSource.register(SacctDataSource)
    r = (
        spark.read.format("sacct")
        .option("sacct_bin", str(fake_sacct))
        .option("columns", "JobID,JobIDRaw,State,NCPUS")
    )
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _calls(fake_sacct) -> int:
    """Runs of the fake binary since the last call (the log is reset)."""
    log = fake_sacct.parent / "calls.log"
    n = len(log.read_text().splitlines()) if log.exists() else 0
    log.unlink(missing_ok=True)
    return n


def _live_history(spark, fake_sacct, tmp_path):
    """A table seeded from the fake sacct, and the live batch that
    re-runs the binary on every evaluation."""
    from slurm2sql_spark.operators.transform import slurm_transform
    from slurm2sql_spark.sinks.parquet_sink import with_day_partition, write_overwrite

    live = with_day_partition(slurm_transform(_read(spark, fake_sacct), now=1700000000))
    table = str(tmp_path / "t")
    write_overwrite(live, table, partition_cols=("day",))
    _calls(fake_sacct)
    return live, table


def test_partitioned_merge_runs_live_sacct_once(spark, fake_sacct, tmp_path):
    """upsert evaluates its batch once: one partitioned merge of a live
    sacct batch runs sacct once, not once per Spark job of the merge."""
    from slurm2sql_spark.sinks.parquet_sink import read_table, upsert

    live, table = _live_history(spark, fake_sacct, tmp_path)
    upsert(spark, live, table, partition_cols=("day",))
    assert _calls(fake_sacct) == 1
    assert sorted(r.JobID for r in read_table(spark, table).collect()) == [
        "1", "1.batch", "2",
    ]


def test_upsert_releases_its_batch_snapshot(spark, fake_sacct, tmp_path):
    """The snapshot an upsert materializes is released before it
    returns: repeated upserts leave no cached RDD behind."""
    from slurm2sql_spark.sinks.parquet_sink import upsert

    sc = spark.sparkContext._jsc.sc()

    def cached():
        return {info.id() for info in sc.getRDDStorageInfo()}

    live, table = _live_history(spark, fake_sacct, tmp_path)
    before = cached()
    for _ in range(5):
        upsert(spark, live, table, partition_cols=("day",))
    assert cached() - before == set()


def test_reads_fake_sacct(spark, fake_sacct):
    rows = _read(spark, fake_sacct).collect()
    assert len(rows) == 3
    assert {r.JobID for r in rows} == {"1", "1.batch", "2"}
    assert rows[0].NCPUS == "4"


def test_day_window_partitioning(spark, fake_sacct, tmp_path):
    df = _read(spark, fake_sacct, start="2021-01-01", end="2021-01-04")
    assert df.rdd.getNumPartitions() == 3  # one task per day window
    df.collect()
    calls = (tmp_path / "calls.log").read_text().splitlines()
    assert len(calls) == 3
    assert any("--starttime=2021-01-01" in c and "--endtime=2021-01-02" in c
               for c in calls)


def test_partial_day_bounds_preserved(spark, fake_sacct, tmp_path):
    """Timestamped bounds must not collapse to midnight: an end of
    '...T06:00' keeps the final partial-day window instead of silently
    dropping six hours of jobs."""
    df = _read(
        spark, fake_sacct, start="2021-01-01T12:00", end="2021-01-03T06:00"
    )
    assert df.rdd.getNumPartitions() == 3
    df.collect()
    calls = (tmp_path / "calls.log").read_text().splitlines()
    assert any(
        "--starttime=2021-01-01T12:00:00" in c and "--endtime=2021-01-02" in c
        for c in calls
    )
    assert any(
        "--starttime=2021-01-03" in c and "--endtime=2021-01-03T06:00:00" in c
        for c in calls
    )


def test_filter_pushdown_to_sacct_args(spark, fake_sacct, tmp_path):
    from pyspark.sql import functions as F

    df = _read(spark, fake_sacct).filter(F.col("State") == "RUNNING")
    out = df.collect()
    assert [r.JobID for r in out] == ["2"]
    calls = (tmp_path / "calls.log").read_text()
    # the State equality was translated into a sacct --state arg
    assert "--state=RUNNING" in calls


def test_full_pipeline_through_transform(spark, fake_sacct):
    from slurm2sql_spark.operators.transform import slurm_transform

    slurm = slurm_transform(_read(spark, fake_sacct), now=1_700_000_000)
    by_id = {r.JobID: r for r in slurm.collect()}
    assert by_id["1.batch"].JobStep == "batch"
    assert by_id["1.batch"].JobIDnostep == "1"
    assert by_id["2"].NCPUS == 8


def test_args_to_sacct_filter_selectors():
    # reference slurm2sql.py:1039-1069 selector translation; state lists
    # pinned to reference slurm2sql.py:1156-1159
    assert args_to_sacct_filter(jobs="123,456") == ["--jobs=123,456"]
    assert "--state=CD" in args_to_sacct_filter(completed=True)
    assert "--state=CA,CD,DL,F,NF,OOM,PR,RV,TO" in args_to_sacct_filter(
        ended=True
    )
    assert "--state=CA,DL" in args_to_sacct_filter(cancelled=True)
    assert "--state=F,NF,OOM,TO" in args_to_sacct_filter(failed=True)
    assert "--endtime=now" in args_to_sacct_filter(ended=True)
    assert args_to_sacct_filter(running_at_time="2021-06-01T12:00") == [
        "--start=2021-06-01T12:00",
        "--end=2021-06-01T12:00",
        "--state=RUNNING",
    ]
    a = args_to_sacct_filter(user="u1", partition="gpu", start="2021-01-01")
    assert a == ["--user=u1", "--partition=gpu", "--starttime=2021-01-01"]


def test_parse_sacct_relative_time_grammar():
    """Slurm's relative bounds (the reference's help text recommends
    '-S now-1week') resolve against an injected 'now'."""
    from datetime import datetime, timedelta

    from slurm2sql_spark.sources.sacct_source import _parse_sacct_time

    now = datetime(2026, 8, 13, 10, 30, 45)
    mid = datetime(2026, 8, 13)
    assert _parse_sacct_time("now", now=now) == now
    assert _parse_sacct_time("now-1week", now=now) == now - timedelta(weeks=1)
    assert _parse_sacct_time("now-3day", now=now) == now - timedelta(days=3)
    assert _parse_sacct_time("now-2hours", now=now) == now - timedelta(hours=2)
    assert _parse_sacct_time("now+90", now=now) == now + timedelta(seconds=90)
    assert _parse_sacct_time("today", now=now) == mid
    assert _parse_sacct_time("yesterday", now=now) == mid - timedelta(days=1)
    assert _parse_sacct_time("noon", now=now) == mid + timedelta(hours=12)
    # absolute forms unchanged
    assert _parse_sacct_time("2026-08-13T06:00") == datetime(2026, 8, 13, 6)


def test_cli_bad_time_bound_clean_error(spark):
    import pytest as _pytest

    from slurm2sql_spark.cli import _sql_ts

    with _pytest.raises(SystemExit, match="unparseable sacct time bound"):
        _sql_ts("garbage-time")
    # relative bound flows through to SQL without crashing
    assert _sql_ts("now-1week").startswith("to_unix_timestamp(")


def test_slurm_version_probe(tmp_path):
    """reference slurm2sql.py:1123-1132: parse `sacct --version` output,
    fall back to (20, 11) without sacct."""
    from slurm2sql_spark.sources.sacct_source import slurm_version

    fake = tmp_path / "sacct"
    fake.write_text("#!/bin/sh\necho 'slurm 19.05.7-Bull.1.0'\n")
    fake.chmod(0o755)
    assert slurm_version((str(fake),)) == (19, 5, 7)

    fake.write_text("#!/bin/sh\necho 'slurm 23.02'\n")
    assert slurm_version((str(fake),)) == (23, 2)

    assert slurm_version(("/nonexistent/sacct", "--version")) == (20, 11)

    fake.write_text("#!/bin/sh\necho 'not slurm output'\n")
    assert slurm_version((str(fake),)) == (20, 11)
