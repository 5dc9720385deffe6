"""The ingest projection: raw sacct text -> typed ``slurm`` DataFrame.

This is the Spark re-expression of the reference's row loop + converter
registry (reference slurm2sql.py:1008-1034, COLUMNS at 580-687). No
Python runs per row — it is a pure map stage (no shuffle) that Catalyst
whole-stage-codegens.

Performance shape: the projection is STAGED. Naively nesting converter
expressions duplicates expensive subtrees — a null-guarded unit
conversion references its input ~5 times, so ``Billing`` built directly
on ``regexp_extract`` would run the regex 9x per row, and Spark's
subexpression elimination does not reach inside CASE WHEN branches.
Instead:

1. stage 1 extracts each NEEDED TRES field with one anchored
   ``regexp_extract`` per key (the reference compiles one regex per
   field too, slurm2sql.py:178-197). This replaced a ``str_to_map``
   whole-map build per TRES string in r7: a map build costs ~1.3 s per
   6M rows and is paid in full even when Catalyst pruned the consumers
   to a single key, while per-key regexps cost ~0.35 s each AND prune
   away individually with their consumers (measured on the flagship:
   map stage 3.5 s -> ~1.8 s at 10x sf0.1, sf0.1 entry 4.8 -> ~3.0 s);
2. stage 2 materializes every shared/expensive parse (durations, the
   ExitCode split, slurmmem) as an intermediate column;
3. stage 3 derives the computed columns from those cheap references.

Catalyst's CollapseProject deliberately keeps non-cheap aliases that are
referenced more than once in separate projections, so each parse runs
once per row; column pruning still flows through all stages, so a query
touching 10 output columns pays for 10 parses only.

Semantics note: the anchored ``(?:^|,)key=([^,]*)`` extraction matches
the reference's ``\\bfield=([^,]*)\\b`` regex for every real TRES key
(the anchor is stricter for hypothetical keys where one key is a
``/``-suffix of another: the reference regex would match ``fs/gpu=``
for field ``gpu``; the anchored form does not). The public
``functions.tres.tres_field`` keeps exact regex semantics.

Missing input columns (schema evolution, e.g. post-20.11 sacct without
``ReqGRES``, reference slurm2sql.py:311-324 and test.py:373-380) become
NULL-typed literals, so converters degrade to NULL instead of failing.

Construction: the stage expressions are built once per process
(``_stages``) and applied to every call's frame. Building them costs
thousands of py4j calls, so rebuilding per call would dominate a small
ingest's driver time. Reuse is sound because a Column refers to its
inputs by name only; everything a call varies arrives as columns added
in the first ``withColumns``: the NULL-filled missing fields and the
``_now`` column that stage 3 reads for running jobs.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slurm2sql_spark.functions import converters as C
from slurm2sql_spark.functions import jobid as J
from slurm2sql_spark.schema import RAW_FIELDS, SLURM_FIELDS

__all__ = ["slurm_transform"]


def _null_if_empty(c: Column, dtype: str = "string") -> Column:
    return F.when(c.isNull() | (c == ""), F.lit(None).cast(dtype)).otherwise(c)


def slurm_transform(
    raw: DataFrame, now: int | None = None, jobs_only: bool = False
) -> DataFrame:
    """Raw string-typed sacct DataFrame -> typed ``slurm`` DataFrame.

    ``now`` injects a fixed "current time" for the running-job ``Time``
    column (reference slurmDefaultTime, slurm2sql.py:205-219; its
    nondeterminism is tolerated +-5s by reference test.py:139-141).
    ``jobs_only`` drops step rows during ingest (reference --jobs-only,
    slurm2sql.py:720-721, 1010-1014).
    """
    s1, s2, s3, final = _stages()
    present = set(raw.columns)
    fill = {f: F.lit(None).cast("string") for f in RAW_FIELDS if f not in present}
    fill["_now"] = _now_col(now)
    out = (
        raw.withColumns(fill)
        .withColumns(s1)
        .withColumns(s2)
        .withColumns(s3)
        .select(*final)
    )
    if jobs_only:
        out = out.filter(F.col("JobStep").isNull())
    return out


@functools.cache
def _stages() -> tuple[dict[str, Column], dict[str, Column], dict[str, Column], list[Column]]:
    """The three stage dicts and the aliased final projection, built once
    per process (see Construction in the module docstring)."""
    final = [col.alias(name) for name, col in _final_cols()]
    return _stage1_exprs(), _stage2_exprs(), _stage3_exprs(), final


def _now_col(now: int | None) -> Column:
    return (
        F.lit(now).cast("long")
        if now is not None
        else F.unix_timestamp(F.current_timestamp())
    )


def _tres_get(src: str, key: str) -> Column:
    """One TRES field as a string (NULL when absent/empty) — the C14
    extraction (slurm2sql.py:643-686) per NEEDED key, not a whole-map
    build.

    Why not ``str_to_map``: a map build costs ~1.3 s per 6M rows and
    is paid in full even when Catalyst pruned the consumers down to
    one key, because the map is a single expression. One anchored
    ``regexp_extract`` per key costs ~0.35 s AND prunes per-key —
    measured 3.5 s -> ~1.8 s on the flagship's map stage at 10x sf0.1.
    Anchoring: ``(?:^|,)key=`` so 'mem' never matches 'gpumem' and
    'gres/gpu' never matches the typed 'gres/gpu:<type>' key. Value is
    everything to the next comma (so embedded '=' stays in the value,
    same as str_to_map's split-on-first-'=').
    """
    import re as _re

    pat = r"(?:^|,)" + _re.escape(key) + r"=([^,]*)"
    return F.nullif(F.regexp_extract(F.col(src), pat, 1), F.lit(""))


def _stage1_exprs() -> dict[str, Column]:
    # --- stage 1: per-key TRES extractions (C14 x9, slurm2sql.py:643-686)
    return {
        "_tin_cpu": _tres_get("TRESUsageInTot", "cpu"),
        "_tin_mem": _tres_get("TRESUsageInTot", "mem"),
        "_tin_gpuutil": _tres_get("TRESUsageInTot", "gres/gpuutil"),
        "_tin_gpumem": _tres_get("TRESUsageInTot", "gres/gpumem"),
        "_tin_fsdisk": _tres_get("TRESUsageInTot", "fs/disk"),
        "_tal_cpu": _tres_get("AllocTRES", "cpu"),
        "_tal_mem": _tres_get("AllocTRES", "mem"),
        "_tal_gpu": _tres_get("AllocTRES", "gres/gpu"),
        "_tal_billing": _tres_get("AllocTRES", "billing"),
        "_tout_fsdisk": _tres_get("TRESUsageOutTot", "fs/disk"),
        "_treq_gpu": _tres_get("ReqTRES", "gres/gpu"),
    }


def _stage2_exprs() -> dict[str, Column]:
    # --- stage 2: shared expensive parses, materialized once each
    return (
        {
            # identity grammar (R15-R20, slurm2sql.py:412-462)
            "JobIDnostep": J.job_id_nostep(F.col("JobID")),
            "JobIDonly": J.job_id_only(F.col("JobID")),
            "JobStep": J.job_step(F.col("JobID")),
            "ArrayTaskID": J.array_task_id(F.col("JobID")),
            "JobIDRawonly": J.job_id_raw_only(F.col("JobIDRaw")),
            # durations (C7)
            "Timelimit": C.slurmtime(F.col("Timelimit")),
            "_elapsed_s": C.slurmtime(F.col("Elapsed")),
            "CPUTime": C.slurmtime(F.col("CPUTime")),
            "UserCPU": C.slurmtime(F.col("UserCPU")),
            "SystemCPU": C.slurmtime(F.col("SystemCPU")),
            "MinCPU": C.slurmtime(F.col("MinCPU")),
            # timestamps (C5) — parsed once; Time derives from these
            "_submit_ts": C.unixtime(F.col("Submit")),
            "_start_ts": C.unixtime(F.col("Start")),
            "_end_ts": C.unixtime(F.col("End")),
            # TRES-derived base values
            "TotalCPU": C.slurmtime(F.col("_tin_cpu")),
            "_cpu_alloc": C.int_metric(F.col("_tal_cpu")),
            "TotalMem": C.float_bytes(F.col("_tin_mem")),
            "AllocMem": C.float_bytes(F.col("_tal_mem")),
            "NGpus": C.float_metric(F.col("_tal_gpu")),
            "GpuUtilTot": C.float_metric(F.col("_tin_gpuutil")),
            "GpuMemTot": C.float_metric(F.col("_tin_gpumem")),
            "TotDiskRead": C.float_bytes(F.col("_tin_fsdisk")),
            "TotDiskWrite": C.float_bytes(F.col("_tout_fsdisk")),
            "ReqGPUS": C.float_metric(F.col("_treq_gpu")),
            "Billing": C.int_metric(F.col("_tal_billing")),
            # memory (C10/C12)
            "ReqMem": C.float_bytes(F.col("ReqMem")),
            "_reqmem_nc": C.slurmmem(F.col("ReqMem")),
            "AveRSS": C.slurmmem(F.col("AveRSS")),
            "MaxRSS": C.slurmmem(F.col("MaxRSS")),
            "MaxVMSize": C.slurmmem(F.col("MaxVMSize")),
            "MaxPages": C.int_metric(F.col("MaxPages")),
            # disk (C12)
            "AveDiskRead": C.int_bytes(F.col("AveDiskRead")),
            "AveDiskWrite": C.int_bytes(F.col("AveDiskWrite")),
            "MaxDiskRead": C.int_bytes(F.col("MaxDiskRead")),
            "MaxDiskWrite": C.int_bytes(F.col("MaxDiskWrite")),
            "ReqNodes": C.int_bytes(F.col("ReqNodes")),
            # misc
            "_exit_parts": F.split(F.col("ExitCode"), ":"),
            "_gputype_raw": F.regexp_extract(
                F.col("AllocTRES"), r"\bgres/gpu:([^=]+)=", 1
            ),
            "_ncpus": C.nullint(F.col("NCPUS")),
            "_nnodes": C.nullint(F.col("NNodes")),
        }
    )


def _stage3_exprs() -> dict[str, Column]:
    # --- stage 3: derived columns over cheap references
    end, start = F.col("End"), F.col("Start")
    nullexit = F.col("ExitCode").isNull() | (F.col("ExitCode") == "")
    reqmem_known = F.col("ReqMem").isNotNull()
    return (
        {
            # R1/R2: latest-active time. Branching mirrors the reference
            # exactly: *any* End except the literal 'Unknown' (including
            # '') short-circuits to unixtime(End); likewise any Start
            # except 'Unknown' means "running" -> now (slurm2sql.py:205-226).
            "Time": F.when(end.isNull() | (end != "Unknown"), F.col("_end_ts"))
            .when(start.isNull() | (start != "Unknown"), F.col("_now"))
            .otherwise(F.col("_submit_ts")),
            "QueueTime": F.col("_start_ts") - F.col("_submit_ts"),
            # R23: step CPU efficiency (slurm2sql.py:510-544). The
            # reference returns NaN on zero cpu_alloc, which SQLite
            # stores as NULL — we emit NULL directly.
            "CPUEff": F.when(
                F.col("_elapsed_s").isNull() | (F.col("_elapsed_s") == 0.0),
                F.lit(None).cast("double"),
            ).otherwise(
                F.col("TotalCPU")
                / F.nullif(F.col("_elapsed_s") * F.col("_cpu_alloc"), F.lit(0.0))
            ),
            # R22: TRESUsageInTot[mem] / AllocTRES[mem], 0-alloc -> NULL
            # (slurm2sql.py:492-508)
            "MemEff": F.col("TotalMem") / F.nullif(F.col("AllocMem"), F.lit(0.0)),
            # R14: (gpuutil/100) / ngpus (slurm2sql.py:395-407)
            "GpuEff": (F.col("GpuUtilTot") / F.lit(100.0))
            / F.nullif(F.col("NGpus"), F.lit(0.0)),
            "GpuUtil": F.col("GpuUtilTot") / F.lit(100.0),
            "GpuMem": F.col("GpuMemTot"),
            # R6/R7: ReqMem is total across nodes (slurm2sql.py:267-291)
            "ReqMemNode": F.when(~reqmem_known, F.lit(None).cast("double"))
            .when(F.col("_ncpus") == 0, F.lit(0.0))
            .otherwise(
                F.col("_reqmem_nc")
                / F.nullif(F.col("_nnodes"), F.lit(0)).cast("double")
            ),
            "ReqMemCPU": F.when(
                ~reqmem_known | (F.col("_nnodes") == 0), F.lit(None).cast("double")
            ).otherwise(
                F.col("_reqmem_nc") / F.nullif(F.col("_ncpus"), F.lit(0)).cast("double")
            ),
            # R25: ExitCode 'code:signal' split (slurm2sql.py:553-572)
            "ExitCodeRaw": _null_if_empty(F.col("ExitCode")),
            "_exit_code": F.when(nullexit, F.lit(None).cast("long")).otherwise(
                F.element_at(F.col("_exit_parts"), 1).cast("long")
            ),
            "ExitSignal": F.when(nullexit, F.lit(None).cast("long")).otherwise(
                F.element_at(F.col("_exit_parts"), 2).cast("long")
            ),
            "GpuType": F.nullif(F.col("_gputype_raw"), F.lit("")),
        }
    )


def _final_cols() -> list[tuple[str, Column]]:
    # --- final projection: registry order, null-guarded passthroughs
    passthrough_str = {
        "JobName", "User", "Group", "Account", "SubmitLine", "State",
        "Partition", "NodeList", "ReqTRES", "AllocTRES", "TRESUsageInTot",
        "TRESUsageOutTot", "MinCPUNode", "MinCPUTask", "MaxRSSNode",
        "MaxRSSTask",
    }
    renames = {
        "Elapsed": "_elapsed_s",
        "Submit": "_submit_ts",
        "Start": "_start_ts",
        "End": "_end_ts",
        "ExitCode": "_exit_code",
        "NCPUS": "_ncpus",
        "NNodes": "_nnodes",
    }
    nullints = {
        "Priority", "AllocNodes", "NTasks", "ReqCPUS", "AllocCPUS",
    }
    cols: list[tuple[str, Column]] = []
    for name, _dtype in SLURM_FIELDS:
        if name in passthrough_str:
            cols.append((name, _null_if_empty(F.col(name))))
        elif name == "Comment":
            cols.append((name, C.nullstr_strip(F.col("Comment"))))
        elif name == "ConsumedEnergy":
            cols.append((name, C.nullint(F.col("ConsumedEnergyRaw"))))
        elif name in nullints:
            cols.append((name, C.nullint(F.col(name))))
        elif name in renames:
            cols.append((name, F.col(renames[name])))
        else:
            cols.append((name, F.col(name)))
    return cols
