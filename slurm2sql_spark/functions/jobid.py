"""JobID grammar decomposition as Column expressions.

Slurm JobID strings follow ``ArrayJobID[_ArrayTaskID][+HetOffset][.Step]``
(reference README.rst:227-257). The reference derives five identity
columns with small regexes (reference slurm2sql.py:412-462); het offsets
(``+N``) are silently absorbed into the prefix match. The truth table at
reference test.py:387-414 pins all of these (including ``1000_2+3.1`` ->
(1000, 2, '1')) and is mirrored in tests/test_jobid.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["job_id_only", "job_id_nostep", "job_id_raw_only", "array_task_id", "job_step"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def job_id_only(col: Column | str) -> Column:
    """Leading integer: same for all array tasks / het offsets
    (reference slurm2sql.py:420-426)."""
    return F.regexp_extract(_c(col), r"^([0-9]+)", 1).cast("long")


def job_id_raw_only(col: Column | str) -> Column:
    """Leading integer of JobIDRaw — unique per array task
    (reference slurm2sql.py:436-442)."""
    return job_id_only(col)


def job_id_nostep(col: Column | str) -> Column:
    """``[0-9]+(_[0-9]+)?`` prefix: strips ``.step`` and ``+het``
    (reference slurm2sql.py:428-434). Kept as text — it can contain
    ``_``."""
    c = _c(col)
    out = F.regexp_extract(c, r"^([0-9]+(_[0-9]+)?)", 1)
    return F.when(out == "", F.lit(None).cast("string")).otherwise(out)


def array_task_id(col: Column | str) -> Column:
    """Integer between ``_`` and ``.``; NULL for ``[...]`` pending-range
    forms and non-array jobs (reference slurm2sql.py:445-454)."""
    c = _c(col)
    extracted = F.regexp_extract(c, r"_([0-9]+)", 1)
    return (
        F.when(c.contains("["), F.lit(None).cast("long"))
        .when(~c.contains("_"), F.lit(None).cast("long"))
        .when(extracted == "", F.lit(None).cast("long"))
        .otherwise(extracted.cast("long"))
    )


def job_step(col: Column | str) -> Column:
    """Substring after the last ``.`` — textual, may be ``batch``/``extern``;
    NULL for allocation rows (reference slurm2sql.py:456-462)."""
    c = _c(col)
    return F.when(
        c.contains("."), F.substring_index(c, ".", -1)
    ).otherwise(F.lit(None).cast("string"))
