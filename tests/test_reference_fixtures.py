"""Golden tests against the reference's OWN CSV fixtures.

The reference pins specific cell values for ``tests/test-data1.csv`` (a
real 51-column sacct dump), ``test-data2.csv`` (same minus ReqGRES, the
slurm >= 20.11 shape) and ``test-data3.csv`` (a plain comma CSV) in
reference test.py:93-149. This module asserts the same cells through
``slurm_transform`` — closing the fidelity gap between synthetic
round-trips and real sacct output.

The reference parses timestamps in the converting machine's local zone
and its tests pin TZ=Europe/Helsinki (reference test.py:22-23); here
that is ``spark.sql.session.timeZone``, pinned by the fixture below.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

DATA1 = "/root/reference/tests/test-data1.csv"
DATA2 = "/root/reference/tests/test-data2.csv"
# F1/F2 are real 51/50-column sacct dumps that exist only in a checkout
# of the reference project; F3 is fully specified by FIXTURES.md and is
# vendored here.
DATA3 = os.path.join(os.path.dirname(__file__), "fixtures", "test-data3.csv")

needs_data1 = pytest.mark.skipif(
    not os.path.exists(DATA1), reason="reference checkout absent"
)
needs_data2 = pytest.mark.skipif(
    not os.path.exists(DATA2), reason="reference checkout absent"
)

# reference test.py pins (TZ=Europe/Helsinki):
START_43974388 = 1564601354          # 2019-07-31T22:29:14+03:00
END_43974388 = START_43974388 + 12805  # Elapsed 03:33:25
SUBMIT_43977780_BATCH = 1564608927   # 2019-08-01T00:35:27+03:00
NOW = 1700000000                     # injected "now" for running jobs


@pytest.fixture()
def helsinki(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Helsinki")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


def _ingest(spark, path, delimiter="|", **kw):
    from slurm2sql_spark.operators.transform import slurm_transform
    from slurm2sql_spark.sources.csv_source import read_csv

    return slurm_transform(read_csv(spark, path, delimiter=delimiter), **kw)


def _row(df, jobid):
    rows = df.filter(F.col("JobID") == jobid).collect()
    assert len(rows) == 1, f"expected exactly one row for {jobid}"
    return rows[0]


@needs_data1
def test_data1_basic_cells(helsinki):
    """reference test.py:93-98 (test_slurm2sql_basic) + :106-112
    (test_main row count)."""
    df = _ingest(helsinki, DATA1, now=NOW)
    assert df.count() == 5
    r = _row(df, "43974388")
    assert r["JobName"] == "spawner-jupyterhub"
    assert r["Start"] == START_43974388


@needs_data1
def test_data1_jobs_only(helsinki):
    """reference test.py:114-117: --jobs-only keeps the 2 allocations."""
    df = _ingest(helsinki, DATA1, now=NOW, jobs_only=True)
    assert df.count() == 2


@needs_data1
def test_data1_time_column(helsinki):
    """reference test.py:135-144 (test_time): Time = End when finished,
    "now" when End is Unknown, Submit when Start and End are Unknown."""
    df = _ingest(helsinki, DATA1, now=NOW)
    assert _row(df, "43974388")["Time"] == END_43974388
    assert _row(df, "43977780")["Time"] == NOW
    assert _row(df, "43977780.batch")["Time"] == SUBMIT_43977780_BATCH


@needs_data1
def test_data1_queuetime(helsinki):
    """reference test.py:146-149: Submit 22:29:13 -> Start 22:29:14."""
    df = _ingest(helsinki, DATA1, now=NOW)
    assert _row(df, "43974388")["QueueTime"] == 1


@needs_data1
def test_data1_real_dump_typed_cells(helsinki):
    """Beyond the reference's pins: typed columns parsed out of the real
    51-column dump (values read directly off test-data1.csv)."""
    df = _ingest(helsinki, DATA1, now=NOW)
    r = _row(df, "43974388")
    assert r["NCPUS"] == 2 and r["NNodes"] == 1
    assert r["CPUTime"] == 7 * 3600 + 6 * 60 + 50       # 07:06:50
    # TotalCPU extracts from TRESUsageInTot[cpu] (reference
    # slurm2sql.py:643) — absent from this 2019-era dump, so NULL in
    # the reference too; the raw-column durations land in User/SystemCPU
    assert r["TotalCPU"] is None
    assert r["UserCPU"] == pytest.approx(13.030)        # 00:13.030
    assert r["SystemCPU"] == pytest.approx(2.026)       # 00:02.026
    assert r["Partition"] == "jupyter-long"
    assert r["NodeList"] == "pe2"
    step = _row(df, "43974388.batch")
    assert step["MaxRSS"] == pytest.approx(231092 * 1024)  # 231092K
    assert step["ExitCodeRaw"] == "0:9"


@needs_data2
def test_data2_missing_reqgres_is_null(helsinki):
    """test-data2.csv drops ReqGRES (slurm >= 20.11); ingest must not
    care (reference handles this via its slurm_version probe — here the
    missing column just projects as NULL, transform.py)."""
    df = _ingest(helsinki, DATA2, now=NOW)
    assert df.count() == 5
    r = _row(df, "43974388")
    assert r["JobName"] == "spawner-jupyterhub"
    assert r["Start"] == START_43974388
    # GRES-derived projection still exists, just NULL without the column
    assert df.filter(F.col("ReqGPUS").isNotNull()).count() == 0


def test_data3_plain_csv(helsinki):
    """reference test.py:100-104 (test_csv): comma CSV, Start pinned to
    epoch 3600 (1970-01-01T03:00:00 at UTC+2)."""
    df = _ingest(helsinki, DATA3, delimiter=",", now=NOW)
    r = _row(df, "1")
    assert r["JobName"] == "job1"
    assert r["Start"] == 3600
