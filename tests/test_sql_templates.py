"""Guards for the transform's once-per-process expressions.

``slurm_transform`` builds its stage Columns once per process and applies
them to every call's frame, with no SQL text in between. The risk that
brings is per-call state held by a shared Column: one call's ``now``, one
frame's set of missing fields, or a JVM handle that dies with its
session. These tests pin that every call sees only its own inputs.
Converter semantics are pinned by test_converters.py, test_jobid.py and
test_fuzz_converters.py; the whole transform is DuckDB-checked through
the sacct_eff* oracle-parity entries.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from slurm2sql_spark.operators import transform as T
from slurm2sql_spark.schema import RAW_FIELDS

#: one value per raw field: a completed single-node job with TRES, memory
#: and GPU values, so every output column derives from a non-NULL input
FULL_ROW = {f: "x" for f in RAW_FIELDS} | {
    "JobID": "5", "JobIDRaw": "5", "State": "COMPLETED",
    "Timelimit": "02:00:00", "Elapsed": "01:00:00",
    "Submit": "2021-01-01T09:00:00", "Start": "2021-01-01T10:00:00",
    "End": "2021-01-01T11:00:00", "ExitCode": "0:0",
    "Priority": "10", "ReqNodes": "1", "NNodes": "1", "AllocNodes": "1",
    "NTasks": "1", "NCPUS": "2", "ReqCPUS": "2", "AllocCPUS": "2",
    "CPUTime": "02:00:00", "TotalCPU": "01:00:00", "UserCPU": "50:00",
    "SystemCPU": "10:00", "MinCPU": "01:00:00",
    "ReqTRES": "cpu=2,gres/gpu=1",
    "AllocTRES": "billing=3,cpu=2,gres/gpu:v100=1,gres/gpu=1,mem=4G",
    "TRESUsageInTot": "cpu=01:00:00,mem=2G,fs/disk=100,gres/gpuutil=50,gres/gpumem=1G",
    "TRESUsageOutTot": "fs/disk=200", "TRESUsageInAve": "cpu=01:00:00",
    "ReqMem": "4G", "AveRSS": "1G", "MaxRSS": "2G", "MaxPages": "3",
    "MaxVMSize": "3G", "AveDiskRead": "1M", "AveDiskWrite": "1M",
    "MaxDiskRead": "2M", "MaxDiskWrite": "2M",
    "ConsumedEnergyRaw": "100", "Comment": "note",
}

#: optional sacct fields an older or trimmed dump may lack
OPTIONAL = ("ReqTRES", "AllocTRES", "ReqMem", "ConsumedEnergyRaw", "Comment")

#: output columns whose inputs are all in OPTIONAL
FROM_OPTIONAL = {
    "ReqTRES", "AllocTRES", "ReqMem", "ConsumedEnergy", "Comment",
    "Billing", "AllocMem", "MemEff", "ReqMemNode", "ReqMemCPU",
    "NGpus", "ReqGPUS", "GpuType", "GpuEff", "CPUEff",
}


def _frame(spark, fields):
    from pyspark.sql import types as ST

    schema = ST.StructType([ST.StructField(f, ST.StringType()) for f in fields])
    return spark.createDataFrame([tuple(FULL_ROW[f] for f in fields)], schema)


def test_now_is_per_call(spark):
    """Two transforms of one frame with different ``now`` each stamp
    their own ``now`` as ``Time`` on the running row; a ``now`` baked
    into a shared Column would give both calls the same value."""
    df = spark.createDataFrame(
        [
            ("7", "7", "2021-01-01T10:00:00", "Unknown"),  # running
            ("8", "8", "2021-01-01T10:00:00", "2021-01-01T11:00:00"),
        ],
        "JobID string, JobIDRaw string, Start string, End string",
    )
    a = T.slurm_transform(df, now=1_700_000_000)
    b = T.slurm_transform(df, now=1_800_000_000)
    time_b = {r.JobID: r.Time for r in b.collect()}
    time_a = {r.JobID: r.Time for r in a.collect()}
    assert time_a["7"] == 1_700_000_000
    assert time_b["7"] == 1_800_000_000
    assert time_a["8"] == time_b["8"] is not None


@pytest.mark.parametrize("partial_first", [True, False], ids=["partial", "full"])
def test_missing_fields_null_only_for_missing(spark, partial_first):
    """A frame lacking optional fields and a full frame, transformed in
    either order from a fresh build of the shared stages, differ only in
    the columns derived from the missing fields, and there the partial
    frame reads NULL."""
    full = _frame(spark, RAW_FIELDS)
    partial = _frame(spark, [f for f in RAW_FIELDS if f not in OPTIONAL])
    order = (partial, full) if partial_first else (full, partial)
    T._stages.cache_clear()
    first, second = (T.slurm_transform(df, now=1).first().asDict() for df in order)
    got_partial, got_full = (first, second) if partial_first else (second, first)
    differ = {k for k in got_full if got_full[k] != got_partial[k]}
    assert differ == FROM_OPTIONAL
    assert all(got_partial[k] is None for k in differ)
    assert all(got_full[k] is not None for k in differ)


_RESTART_PROBE = r"""
import json
from pyspark.sql import SparkSession
from slurm2sql_spark.operators.transform import slurm_transform
from slurm2sql_spark.session import get_spark

def run():
    spark = get_spark(shuffle_partitions=1)
    df = spark.createDataFrame(
        [("7", "7", "2021-01-01T10:00:00", "Unknown", "1-00:00:00", "2G")],
        "JobID string, JobIDRaw string, Start string, End string, "
        "Elapsed string, ReqMem string",
    )
    return [r.asDict() for r in slurm_transform(df, now=1_700_000_000).collect()]

first = run()
SparkSession.getActiveSession().stop()
print(json.dumps({"first": first, "second": run()}))
"""


def test_transform_after_session_restart():
    """The shared stage Columns outlive ``spark.stop()``: a new session in
    the same process transforms to the same rows."""
    root = os.path.join(os.path.dirname(__file__), "..")
    env = os.environ | {
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": "-Xms256m",
    }
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_PROBE],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    assert probe["first"] == probe["second"]
    assert probe["first"][0]["Time"] == 1_700_000_000


def test_backtick_in_passthrough_column_name(spark):
    """Column names come from the sacct dump header, so a header field
    containing a backtick must ride through the stages as an ordinary
    column and be pruned by the final projection."""
    from pyspark.sql import types as ST

    schema = ST.StructType(
        [
            ST.StructField("JobID", ST.StringType()),
            ST.StructField("JobIDRaw", ST.StringType()),
            ST.StructField("we`ird", ST.StringType()),
        ]
    )
    df = spark.createDataFrame([("1", "1", "weird")], schema)
    out = T.slurm_transform(df, now=1_700_000_000)
    assert out.first().JobID == "1"
    assert "we`ird" not in out.columns  # pruned by the final projection
