"""eff-view math oracles, mirroring the reference micro-fixtures
(reference test.py:154-200; schemas catalogued in FIXTURES.md F4).

Each fixture is a tiny inline sacct-shaped CSV pushed through the full
transform -> eff pipeline, asserting exact ratio values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from slurm2sql_spark.operators.transform import slurm_transform
from slurm2sql_spark.operators.views import allocations, eff, steps, user_rollup


def ingest(spark, header, rows, now=1000):
    data = [tuple(r) for r in rows]
    schema = ", ".join(f"`{h}` string" for h in header)
    raw = spark.createDataFrame(data, schema)
    return slurm_transform(raw, now=now)


def test_cpueff_single(spark):
    # reference test.py:154-163: CPUTime=50:00 -> 3000 s, cpu usage
    # 25:00 -> 1500 s => CPUeff 0.5
    slurm = ingest(
        spark,
        ["JobID", "CPUTime", "TotalCPU", "TRESUsageInTot"],
        [("1", "50:00", "25:00", "cpu=00:25:00")],
    )
    row = slurm.collect()[0]
    assert row["CPUTime"] == 3000.0
    assert row["TotalCPU"] == 1500.0
    e = eff(slurm).collect()[0]
    assert e["CPUeff"] == pytest.approx(0.5)


def test_cpueff_steps(spark):
    # reference test.py:165-178: alloc row + two steps, each using
    # 25 min of the 25-min*? reservation => CPUeff 1.0, reserved=used=3000
    slurm = ingest(
        spark,
        ["JobID", "CPUTime", "TotalCPU", "TRESUsageInTot"],
        [
            ("1", "50:00", "", ""),
            ("1.1", "25:00", "25:00", "cpu=00:25:00"),
            ("1.2", "25:00", "25:00", "cpu=00:25:00"),
        ],
    )
    e = eff(slurm).collect()[0]
    assert e["CPUeff"] == pytest.approx(1.0)
    assert e["cpu_s_reserved"] == 3000.0
    assert e["cpu_s_used"] == 3000.0


def test_memeff(spark):
    # reference test.py:181-190: used 500K of 1000K => 0.5; zero alloc
    # => NULL
    slurm = ingest(
        spark,
        ["JobID", "AllocTRES", "TRESUsageInTot"],
        [
            ("1", "mem=1000K", "mem=500K"),
            ("2", "mem=0K", "mem=0K"),
        ],
    )
    rows = {r["JobID"]: r for r in eff(slurm).collect()}
    assert rows["1"]["MemEff"] == pytest.approx(0.5)
    assert rows["2"]["MemEff"] is None


def test_gpueff(spark):
    # reference test.py:193-200: 1 GPU at 23% util => GpuEff 0.23
    slurm = ingest(
        spark,
        ["JobID", "Elapsed", "AllocTRES", "TRESUsageInTot"],
        [("1", "1:00", "gres/gpu=1", "gres/gpuutil=23")],
    )
    e = eff(slurm).collect()[0]
    assert e["GpuEff"] == pytest.approx(0.23)
    assert e["NGpus"] == 1.0
    assert e["gpu_s_reserved"] == 60.0


def test_alloc_step_split_and_conditional_first(spark):
    slurm = ingest(
        spark,
        ["JobID", "JobName", "State", "User"],
        [
            ("10", "myjob", "COMPLETED", "alice"),
            ("10.batch", "batch", "COMPLETED", ""),
            ("10.0", "step0", "FAILED", ""),
        ],
    )
    assert allocations(slurm).count() == 1
    assert steps(slurm).count() == 2
    e = eff(slurm).collect()[0]
    # J1/J2: the *allocation* row's JobName/State, not a step's
    assert e["JobName"] == "myjob"
    assert e["State"] == "COMPLETED"
    assert e["User"] == "alice"


def test_jobs_only_filter(spark):
    raw_rows = [("10", "x"), ("10.batch", "y"), ("11", "z")]
    slurm = ingest(spark, ["JobID", "JobName"], raw_rows)
    only = slurm_transform(
        spark.createDataFrame(raw_rows, "`JobID` string, `JobName` string"),
        now=1000,
        jobs_only=True,
    )
    assert slurm.count() == 3
    assert only.count() == 2


def test_default_time_semantics(spark):
    # End known -> End; running (Start known, End Unknown) -> now;
    # neither -> Submit (reference slurm2sql.py:205-219).
    slurm = ingest(
        spark,
        ["JobID", "Submit", "Start", "End"],
        [
            ("1", "1970-01-01T03:00:00", "1970-01-01T03:00:10", "1970-01-01T03:00:20"),
            ("2", "1970-01-01T03:00:00", "1970-01-01T03:00:10", "Unknown"),
            ("3", "1970-01-01T03:00:00", "Unknown", "Unknown"),
        ],
        now=99999,
    )
    rows = {r["JobID"]: r for r in slurm.collect()}
    assert rows["1"]["Time"] == 3620 and rows["1"]["End"] == 3620
    assert rows["2"]["Time"] == 99999 and rows["2"]["End"] is None
    assert rows["3"]["Time"] == 3600  # Submit (Helsinki +02:00)
    assert rows["2"]["QueueTime"] == 10


def test_user_rollup(spark):
    slurm = ingest(
        spark,
        ["JobID", "User", "Elapsed", "NCPUS", "CPUTime", "TRESUsageInTot"],
        [
            ("1", "u1", "10:00", "2", "20:00", "cpu=10:00"),   # eff 0.5
            ("2", "u1", "10:00", "2", "20:00", "cpu=20:00"),   # eff 1.0
            ("3", "u2", "5:00", "1", "5:00", "cpu=5:00"),      # eff 1.0
        ],
    )
    roll = {r["User"]: r for r in user_rollup(eff(slurm)).collect()}
    assert roll["u1"]["NJobs"] == 2
    # equal weights (same elapsed*ncpus) -> mean of 0.5 and 1.0
    assert roll["u1"]["CPUeff"] == pytest.approx(0.75)
    assert roll["u2"]["CPUeff"] == pytest.approx(1.0)
    assert roll["u1"]["CpuDays"] == pytest.approx(2 * 600 * 2 / 86400)


def test_schema_evolution_missing_columns(spark):
    # F3-style minimal input: absent raw columns -> NULL outputs
    # (reference test.py:100-106).
    raw = spark.createDataFrame(
        [("1", "job1", "cpu=1", "1970-01-01T03:00:00")],
        "`JobID` string, `JobName` string, `ReqTRES` string, `Start` string",
    )
    row = slurm_transform(raw, now=1000).collect()[0]
    assert row["Start"] == 3600
    assert row["JobName"] == "job1"
    assert row["User"] is None
    assert row["MaxRSS"] is None
    assert row["End"] is None
    assert row["Time"] is None  # End missing behaves like '' -> NULL
