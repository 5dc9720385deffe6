"""CLI frontends: ``sacct`` and ``seff`` style reports plus ``ingest``
(reference sacct_cli slurm2sql.py:1160-1219, seff_cli 1222-1371,
main 699-788).

The reference assembles raw SQL strings and hands them to SQLite; here
the same user-supplied select/order fragments go to Spark SQL over temp
views — identical trust model (explicitly NOT injection-safe, reference
slurm2sql.py:1172-1177), with Catalyst as the parser/planner.

Presentation is the reference's compact tabulate format (K6,
slurm2sql.py:1135-1151) hand-rolled: space-separated columns, dashed
underline, right-aligned numbers, NULL -> empty. Rendering collects to
the driver — presentation of a human-readable page, not an engine op;
cap with --limit for big tables.

Run: ``python -m slurm2sql_spark.cli {ingest,sacct,seff} ...``
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession

# Default field list (reference SACCT_DEFAULT_FIELDS, slurm2sql.py:1152)
# in Spark SQL dialect: datetime(x,'unixepoch') -> from_unixtime(x).
SACCT_DEFAULT_FIELDS = (
    "JobID,User,State,'┃' AS t,"
    "from_unixtime(Start) AS Start,from_unixtime(End) AS End,'┃' AS b,"
    "Partition,ExitCodeRaw,NodeList,'┃' AS c,"
    "NCPUS,CPUTime,CPUEff,'┃' AS m,AllocMem,TotalMem,MemEff,'┃' AS g,"
    "ReqGPUS,GpuEff,'┃' AS d,TotDiskRead,TotDiskWrite,'┃' AS r,"
    "ReqTRES,AllocTRES,TRESUsageInTot,TRESUsageOutTot"
)

# '-o long' (reference SACCT_DEFAULT_FIELDS_LONG, slurm2sql.py:1153)
SACCT_DEFAULT_FIELDS_LONG = (
    "JobID,User,State,'┃' AS t,"
    "from_unixtime(Start) AS Start,from_unixtime(End) AS End,Elapsed,'┃' AS b,"
    "Partition,ExitCodeRaw,NodeList,'┃' AS c,"
    "NCPUS,CPUTime,CPUEff,'┃' AS m,"
    "AllocMem,TotalMem,MemEff,ReqMem,MaxRSS,'┃' AS g,"
    "ReqGPUS,GpuEff,GpuUtil,'┃' AS d,TotDiskRead,TotDiskWrite,'┃' AS r,"
    "ReqTRES,AllocTRES,TRESUsageInTot,TRESUsageOutTot"
)

SEFF_PER_JOB_SQL = """
    SELECT * FROM ( SELECT
        JobID, User,
        round(Elapsed/3600, 2) AS hours,
        substr(State, 1, 2) AS ST,
        {long_output}
        '┃' AS c,
        NCPUS,
        printf('%3.0f%%', round(CPUeff, 2)*100) AS CPUeff,
        '┃' AS m,
        round(AllocMem/1073741824, 2) AS MemAllocGiB,
        round(TotalMem/1073741824, 2) AS MemTotGiB,
        printf('%3.0f%%', round(MemEff, 2)*100) AS MemEff,
        '┃' AS g,
        NGpus,
        if(NGpus > 0, printf('%3.0f%%', round(GpuEff, 2)*100), NULL) AS GPUeff,
        if(NGpus > 0, printf('%4.1f', GpuMem/1073741824), NULL) AS GPUmemGiB,
        '┃' AS d,
        round(TotDiskRead/Elapsed/1048576, 2) AS read_MiBps,
        round(TotDiskWrite/Elapsed/1048576, 2) AS write_MiBps
    FROM eff
    WHERE Start IS NOT NULL AND End IS NOT NULL {where} ) {order_by}
"""

SEFF_USER_SQL = """
    SELECT * FROM ( SELECT
        User,
        round(sum(Elapsed)/86400, 1) AS days,
        '┃' AS c,
        round(sum(Elapsed*NCPUS)/86400, 1) AS cpu_day,
        printf('%2.0f%%', 100*sum(Elapsed*NCPUS*CPUeff)/sum(Elapsed*NCPUS)) AS CPUEff,
        '┃' AS m,
        round(sum(Elapsed*AllocMem)/1073741824/86400, 1) AS mem_GiB_day,
        printf('%2.0f%%', 100*sum(Elapsed*AllocMem*MemEff)/sum(Elapsed*AllocMem)) AS MemEff,
        '┃' AS g,
        round(sum(Elapsed*NGpus)/86400, 1) AS gpu_day,
        if(sum(NGpus) > 0,
           printf('%2.0f%%', 100*sum(Elapsed*NGpus*GpuEff)/sum(Elapsed*NGpus)),
           NULL) AS GPUEff,
        '┃' AS d,
        round(sum(TotDiskRead/1048576)/sum(Elapsed), 2) AS read_MiBps,
        round(sum(TotDiskWrite/1048576)/sum(Elapsed), 2) AS write_MiBps
    FROM eff
    WHERE End IS NOT NULL {where}
    GROUP BY User ) {order_by}
"""


#: table styles accepted by --format (reference: any tabulate format name,
#: slurm2sql.py:1174; tabulate isn't in this container, so the common names
#: are rendered natively with tabulate's alignment conventions).
TABLE_FORMATS = ("simple", "csv", "tsv", "plain", "github", "pretty", "grid", "rst")


def format_table(df: DataFrame, limit: int = 10000, fmt: str = "simple") -> str:
    """Render the first ``limit`` rows of ``df`` (see :func:`_format_rows`)."""
    return _format_rows(df.columns, df.limit(limit).collect(), fmt)


def _format_rows(headers: list[str], rows: list, fmt: str = "simple") -> str:
    """Table render (reference compact_table + tabulate,
    slurm2sql.py:1135-1151, 1174): NULL as empty string, numbers
    right-aligned. ``simple`` is the reference's compact default;
    ``plain``/``github``/``pretty``/``grid``/``rst`` mirror the
    same-named tabulate styles; ``csv``/``tsv`` are machine-readable.

    Any OTHER name is handed to the real tabulate package when it is
    installed (the reference accepts every tabulate style,
    slurm2sql.py:1174); without tabulate, unknown names raise with the
    supported list — the 8 native styles cover the reference's tested
    surface without the dependency."""
    if fmt not in TABLE_FORMATS:
        try:
            from tabulate import tabulate as _tabulate
        except ImportError:
            raise ValueError(
                f"unknown --format {fmt!r}; supported without the "
                f"optional tabulate package: {', '.join(TABLE_FORMATS)} "
                "(install tabulate for every tabulate style)"
            ) from None
        return _tabulate(
            [["" if v is None else v for v in r] for r in rows],
            headers=headers,
            tablefmt=fmt,
        )
    if fmt in ("csv", "tsv"):
        import csv as _csv
        import io

        buf = io.StringIO()
        w = _csv.writer(buf, delimiter="," if fmt == "csv" else "\t")
        w.writerow(headers)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
        return buf.getvalue().rstrip("\n")
    numeric = [
        any(isinstance(r[i], (int, float)) for r in rows)
        for i in range(len(headers))
    ]

    def cell(v):
        if v is None:
            return ""
        if isinstance(v, float):
            return f"{v:g}"
        return str(v)

    table = [[cell(v) for v in r] for r in rows]
    widths = [
        max(len(headers[i]), *(len(t[i]) for t in table)) if table else len(headers[i])
        for i in range(len(headers))
    ]

    def pad(text, w, num):
        if fmt == "pretty":  # tabulate 'pretty' centers everything
            return text.center(w)
        return text.rjust(w) if num else text.ljust(w)

    def line(cells):
        padded = [pad(c, w, n) for c, w, n in zip(cells, widths, numeric)]
        if fmt in ("pretty", "grid"):
            return ("| " + " | ".join(padded) + " |").rstrip()
        if fmt == "github":
            return "| " + " | ".join(padded) + " |"
        # simple / plain / rst: two-space column gap, trailing blanks trimmed
        return "  ".join(padded).rstrip() if fmt != "simple" else " ".join(padded)

    out = []
    if fmt == "simple":
        # the reference's compact style: single-space gap + dashed rule
        out.append(" ".join(h.ljust(w) for h, w in zip(headers, widths)))
        out.append(" ".join("-" * w for w in widths))
        out.extend(line(t) for t in table)
    elif fmt == "plain":
        out.append(line(headers))
        out.extend(line(t) for t in table)
    elif fmt == "github":
        out.append(line(headers))
        out.append("|" + "|".join("-" * (w + 2) for w in widths) + "|")
        out.extend(line(t) for t in table)
    elif fmt == "rst":
        rule = "  ".join("=" * w for w in widths)
        out.extend([rule, line(headers), rule])
        out.extend(line(t) for t in table)
        out.append(rule)
    else:  # pretty / grid: boxed
        sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
        hsep = sep if fmt == "pretty" else "+" + "+".join(
            "=" * (w + 2) for w in widths
        ) + "+"
        out.extend([sep, line(headers), hsep])
        if fmt == "grid":
            for i, t in enumerate(table):
                out.append(line(t))
                out.append(sep)
        else:
            out.extend(line(t) for t in table)
            out.append(sep)
    return "\n".join(out)


# sacct state codes -> the full State strings stored in the table
# (sacct's --state matching is by code; the table stores full names,
# with 'CANCELLED by <uid>' as a prefix family).
_STATE_CODE_SQL = {
    "CD": "State = 'COMPLETED'",
    "CA": "State LIKE 'CANCELLED%'",
    "DL": "State = 'DEADLINE'",
    "F": "State = 'FAILED'",
    "NF": "State = 'NODE_FAIL'",
    "OOM": "State = 'OUT_OF_MEMORY'",
    "PR": "State = 'PREEMPTED'",
    "RV": "State = 'REVOKED'",
    "TO": "State = 'TIMEOUT'",
    "BF": "State = 'BOOT_FAIL'",
    "R": "State = 'RUNNING'",
}


def _state_codes_sql(codes: str) -> str:
    return "(" + " OR ".join(_STATE_CODE_SQL[c] for c in codes.split(",")) + ")"


def _sql_ts(bound: str) -> str:
    """A sacct-style time bound -> an epoch-seconds SQL expression,
    resolved in the session timezone (same zone the ingest used).
    Accepts Slurm's relative grammar too ('now-1week', 'today'); an
    unparseable bound exits with a usage error instead of a traceback."""
    from slurm2sql_spark.sources.sacct_source import _parse_sacct_time

    try:
        d = _parse_sacct_time(bound)
    except ValueError as e:
        raise SystemExit(f"error: {e} (expected YYYY-MM-DD[THH:MM[:SS]], "
                         f"'now[-N{{seconds|minutes|hours|days|weeks}}]', "
                         f"'today', 'yesterday', 'midnight', 'noon')") from e
    return f"to_unix_timestamp('{d.strftime('%Y-%m-%d %H:%M:%S')}')"


def _where(args, jobid_col: str = "JobIDnostep") -> str:
    """Selector args -> SQL WHERE fragments.

    --user/--partition follow the reference (args_to_sql_where,
    slurm2sql.py:1071-1077). The state/time/job selectors — which the
    reference supports only on a fresh sacct fetch and *ignores* with a
    warning on --db (slurm2sql.py:1092-1094) — are additionally
    expressed here as table predicates, so they work on both paths.
    Values are SQL-quoted minimally; the raw --output/--order fragments
    keep the reference's explicitly-not-injection-safe trust model.
    """
    from slurm2sql_spark.sources.sacct_source import (
        CANCELLED_STATES,
        COMPLETED_STATES,
        ENDED_STATES,
        FAILED_STATES,
    )

    where = ""
    if getattr(args, "user", None):
        u = args.user.replace("'", "''")
        where += f" AND User = '{u}'"
    if getattr(args, "partition", None):
        p = args.partition.replace("'", "''")
        where += f" AND Partition LIKE '%{p}%'"
    if getattr(args, "ended", False):
        where += f" AND {_state_codes_sql(ENDED_STATES)}"
    elif getattr(args, "completed", False):
        where += f" AND {_state_codes_sql(COMPLETED_STATES)}"
    elif getattr(args, "cancelled", False):
        where += f" AND {_state_codes_sql(CANCELLED_STATES)}"
    elif getattr(args, "failed", False):
        where += f" AND {_state_codes_sql(FAILED_STATES)}"
    elif getattr(args, "running_at_time", None):
        ts = _sql_ts(args.running_at_time)
        where += (
            f" AND Start IS NOT NULL AND Start <= {ts}"
            f" AND (End IS NULL OR End >= {ts})"
        )
    if getattr(args, "jobs", None):
        ids = ",".join(
            "'" + j.split(".")[0].replace("'", "''") + "'"
            for j in args.jobs.split(",")
        )
        where += f" AND {jobid_col} IN ({ids})"
    # -S/-E select jobs whose lifetime overlaps the window (sacct
    # semantics: any job eligible after start / before end)
    if getattr(args, "starttime", None):
        where += f" AND (End IS NULL OR End >= {_sql_ts(args.starttime)})"
    if getattr(args, "endtime", None) and args.endtime != "now":
        where += f" AND Start IS NOT NULL AND Start <= {_sql_ts(args.endtime)}"
    return where


_JOBID_RE = re.compile(r"[0-9+_]+(\.[0-9a-z]+)?$")


def _absorb_bare_jobid(args, extra: list[str]) -> list[str]:
    """A single leftover argument that looks like a JobID becomes
    --jobs=<id> (reference args_to_sacct_filter, slurm2sql.py:1045-1047);
    everything else passes through to sacct."""
    if len(extra) == 1 and _JOBID_RE.match(extra[0]):
        args.jobs = extra[0]
        return []
    return extra


def _load(spark: SparkSession, args, sacct_passthrough: list[str] | None = None) -> DataFrame:
    """--db table, --csv-input file, or a live sacct fetch (reference
    import_or_open_db, slurm2sql.py:1080-1101). On the live path the
    selectors narrow the sacct call itself; on the table/CSV paths they
    are applied as predicates by ``_where`` (an improvement over the
    reference, which ignores them with a warning on --db)."""
    from slurm2sql_spark import api

    if getattr(args, "db", None):
        return api.open_table(spark, args.db)
    if getattr(args, "csv_input", None):
        return api.ingest_csv(spark, args.csv_input)
    from slurm2sql_spark.sources.sacct_source import args_to_sacct_filter

    sacct_args = args_to_sacct_filter(
        jobs=getattr(args, "jobs", None),
        user=getattr(args, "user", None),
        partition=getattr(args, "partition", None),
        ended=getattr(args, "ended", False),
        completed=getattr(args, "completed", False),
        cancelled=getattr(args, "cancelled", False),
        failed=getattr(args, "failed", False),
        running_at_time=getattr(args, "running_at_time", None),
    ) + (sacct_passthrough or [])
    options: dict = {}
    if sacct_args:
        options["sacct_args"] = " ".join(sacct_args)
    # -S/-E drive the source's day-window partitioning
    if getattr(args, "starttime", None):
        options["start"] = args.starttime
    if getattr(args, "endtime", None) and args.endtime != "now":
        options["end"] = args.endtime
    if getattr(args, "sacct_bin", None):
        options["sacct_bin"] = args.sacct_bin
    return api.ingest(spark, sacct_options=options)


def _apply_verbosity(spark: SparkSession, args) -> None:
    """--quiet/--verbose -> Spark log level (reference wires the same
    flags into logging.lastResort, slurm2sql.py:1277-1280)."""
    if getattr(args, "verbose", False):
        spark.sparkContext.setLogLevel("INFO")
    elif getattr(args, "quiet", False):
        spark.sparkContext.setLogLevel("ERROR")


def _common(p: argparse.ArgumentParser):
    p.add_argument("--db", help="read this parquet table (no re-import)")
    p.add_argument("--csv-input", help="ingest this sacct-shaped CSV in-memory")
    p.add_argument("--user", "-u")
    p.add_argument("--partition", "-r")
    p.add_argument("--order", help="SQL ORDER BY expression (raw SQL)")
    p.add_argument("--limit", type=int, default=10000)
    p.add_argument("--format", "-f", default="simple", dest="format",
                   help="output format: simple (compact aligned table, the "
                        "default), csv, tsv, plain, github, pretty, grid, "
                        "rst (the common tabulate style names the reference "
                        "accepts, rendered natively)")
    p.add_argument("--quiet", "-q", action="store_true",
                   help="only errors in logs")
    p.add_argument("--verbose", "-v", action="store_true",
                   help="more logging")
    p.add_argument("--sacct-bin", help="sacct executable (live fetch; test seam)")
    p.add_argument("--jobs", help="comma-separated JobID selector")
    p.add_argument("--starttime", "-S", help="sacct -S time bound")
    p.add_argument("--endtime", "-E", help="sacct -E time bound")
    state = p.add_mutually_exclusive_group()
    state.add_argument("--ended", "-e", action="store_true",
                       help="finished jobs (any terminal state)")
    state.add_argument("--completed", action="store_true")
    state.add_argument("--cancelled", action="store_true")
    state.add_argument("--failed", action="store_true")
    state.add_argument("--running-at-time", metavar="TIME",
                       help="jobs running at this time")


def sacct_cli(spark: SparkSession, argv) -> str:
    """sacct-like report (reference sacct_cli, slurm2sql.py:1160-1219).

    Unknown arguments pass through to the live sacct fetch; a lone
    JobID-shaped argument selects that job (reference behavior)."""
    p = argparse.ArgumentParser(prog="slurm2sql-spark sacct")
    _common(p)
    p.add_argument("--output", "-o", default=SACCT_DEFAULT_FIELDS,
                   help="select list (raw SQL, '*' for all, 'long' for "
                        "the extended default list)")
    args, extra = p.parse_known_args(argv)
    extra = _absorb_bare_jobid(args, extra)
    if args.output == "long":
        args.output = SACCT_DEFAULT_FIELDS_LONG
    live = not (args.db or args.csv_input)
    _apply_verbosity(spark, args)
    _load(spark, args, extra).createOrReplaceTempView("slurm")
    # live fetch: sacct already applied every selector (reference nulls
    # them out after pushing, slurm2sql.py:1058-1069) — don't re-filter
    where = "" if live else _where(args)
    order = f" ORDER BY {args.order}" if args.order else ""
    q = f"SELECT {args.output} FROM slurm WHERE true{where}{order}"
    return format_table(spark.sql(q), args.limit, args.format)


def seff_cli(spark: SparkSession, argv) -> str:
    """seff-like efficiency report (reference seff_cli,
    slurm2sql.py:1222-1371)."""
    from slurm2sql_spark.operators.views import eff

    p = argparse.ArgumentParser(prog="slurm2sql-spark seff")
    _common(p)
    p.add_argument("--aggregate-user", action="store_true")
    p.add_argument("--long", "-l", action="store_true")
    args, extra = p.parse_known_args(argv)
    extra = _absorb_bare_jobid(args, extra)
    live = not (args.db or args.csv_input)
    _apply_verbosity(spark, args)
    eff(_load(spark, args, extra)).createOrReplaceTempView("eff")
    order_by = f"ORDER BY {args.order}" if args.order else ""
    # live fetch: selectors were pushed into sacct itself
    where = "" if live else _where(args, jobid_col="JobID")
    if args.aggregate_user:
        q = SEFF_USER_SQL.format(where=where, order_by=order_by)
    else:
        long_output = (
            "date_format(from_unixtime(Start), 'MM-dd_HH:mm') AS Start, "
            "date_format(from_unixtime(End), 'MM-dd_HH:mm') AS End,"
            if args.long
            else ""
        )
        q = SEFF_PER_JOB_SQL.format(
            long_output=long_output, where=where, order_by=order_by
        )
    # one job: the emptiness check and the render share the collected rows
    df = spark.sql(q)
    rows = df.limit(args.limit).collect()
    if not rows:
        print("No data fetched with these sacct options.")
        raise SystemExit(2)
    return _format_rows(df.columns, rows, args.format)


def _live_sacct_df(spark: SparkSession, options: dict):
    from slurm2sql_spark.sources.sacct_source import SacctDataSource

    spark.dataSource.register(SacctDataSource)
    reader = spark.read.format("sacct")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def ingest_cli(spark: SparkSession, argv) -> str:
    """ETL front door (reference main(), slurm2sql.py:699-788), including
    the day-by-day incremental history protocol (--history family,
    reference slurm2sql.py:706-719 wired to get_history at 756-774)."""
    from slurm2sql_spark import api
    from slurm2sql_spark.operators.transform import slurm_transform
    from slurm2sql_spark.sources.csv_source import read_csv
    from slurm2sql_spark.streaming.history import (
        ingest_history,
        parse_slurmtime,
    )

    p = argparse.ArgumentParser(prog="slurm2sql-spark ingest")
    p.add_argument("table", help="output parquet table path")
    p.add_argument("--csv-input",
                   help="ingest this sacct-shaped CSV instead of live sacct")
    p.add_argument("--sacct-dump",
                   help="raw `sacct -P --delimiter=';|;'` output file, "
                        "read as a distributed scan (any size); "
                        "malformed lines are counted and reported with "
                        "exit 1 (repair needs --stitch-lines)")
    p.add_argument("--stitch-lines", action="store_true",
                   help="with --sacct-dump: reassemble records whose "
                        "JobName contains newlines, with error accounting "
                        "(exit 1 on unparseable lines, reference "
                        "slurm2sql.py:785-788). Distributed: complete "
                        "lines parse in place, only the rare split "
                        "records route through a sequential repair task")
    p.add_argument("--update", "-U", action="store_true",
                   help="upsert on JobID instead of overwrite")
    p.add_argument("--table-format", choices=("parquet", "delta"),
                   default="parquet",
                   help="storage backend: parquet (staging-swap upsert, "
                        "default) or delta (MERGE INTO through the Delta "
                        "commit protocol; needs delta-spark)")
    p.add_argument("--jobs-only", action="store_true")
    p.add_argument("--sacct-bin", help="sacct executable (test seam)")
    p.add_argument("--user", "-u")
    p.add_argument("--partition", "-r")
    state = p.add_mutually_exclusive_group()
    state.add_argument("--ended", "-e", action="store_true")
    state.add_argument("--completed", action="store_true")
    state.add_argument("--cancelled", action="store_true")
    state.add_argument("--failed", action="store_true")
    state.add_argument("--running-at-time", metavar="TIME")
    hist = p.add_argument_group("incremental history (day-by-day upsert)")
    hist.add_argument("--history", metavar="DD-HH",
                      help="scrape this much history (Slurm duration) to now")
    hist.add_argument("--history-resume", action="store_true",
                      help="continue from the stored watermark")
    hist.add_argument("--history-resume-or-start", metavar="DD-HH",
                      help="resume if a watermark exists, else --history=ARG")
    hist.add_argument("--history-days", type=int)
    hist.add_argument("--history-start", metavar="YYYY-MM-DD")
    hist.add_argument("--history-end", metavar="YYYY-MM-DD")
    args, extra = p.parse_known_args(argv)
    extra = _absorb_bare_jobid(args, extra)

    from slurm2sql_spark.sources.sacct_source import args_to_sacct_filter

    sacct_args = args_to_sacct_filter(
        jobs=getattr(args, "jobs", None),
        user=args.user,
        partition=args.partition,
        ended=args.ended,
        completed=args.completed,
        cancelled=args.cancelled,
        failed=args.failed,
        running_at_time=args.running_at_time,
    ) + extra

    history_mode = (
        args.history is not None
        or args.history_resume
        or args.history_resume_or_start is not None
        or args.history_days is not None
        or args.history_start is not None
    )
    if history_mode:
        import datetime as dt

        now = dt.datetime.now().replace(microsecond=0)
        start_ts: int | None = None
        resume = False
        if args.history_resume_or_start:
            resume = True  # falls back to start_ts when no watermark
            start_ts = int(
                (now - dt.timedelta(
                    seconds=parse_slurmtime(args.history_resume_or_start)
                )).timestamp()
            )
        elif args.history_resume:
            resume = True
        elif args.history is not None:
            start_ts = int(
                (now - dt.timedelta(seconds=parse_slurmtime(args.history))).timestamp()
            )
        elif args.history_days is not None:
            start_ts = int(
                dt.datetime.combine(
                    now.date() - dt.timedelta(days=args.history_days),
                    dt.time(),
                ).timestamp()
            )
        elif args.history_start is not None:
            start_ts = int(
                dt.datetime.strptime(args.history_start, "%Y-%m-%d").timestamp()
            )
        stop_ts = (
            int(dt.datetime.strptime(args.history_end, "%Y-%m-%d").timestamp())
            if args.history_end
            else None
        )

        if args.csv_input:
            # test seam, as in the reference (main(csv_input=...) is
            # "just for running tests", slurm2sql.py:771-773)
            def fetch(ws: int, we: int):
                return slurm_transform(
                    read_csv(spark, args.csv_input), jobs_only=args.jobs_only
                )
        else:
            def fetch(ws: int, we: int):
                fmt = "%Y-%m-%dT%H:%M:%S"
                import datetime as dt

                options = {
                    "start": dt.datetime.fromtimestamp(ws).strftime(fmt),
                    "end": dt.datetime.fromtimestamp(we).strftime(fmt),
                }
                if sacct_args:
                    options["sacct_args"] = " ".join(sacct_args)
                if args.sacct_bin:
                    options["sacct_bin"] = args.sacct_bin
                return slurm_transform(
                    _live_sacct_df(spark, options), jobs_only=args.jobs_only
                )

        try:
            n = ingest_history(
                spark, fetch, args.table,
                start_ts=start_ts, stop_ts=stop_ts, resume=resume,
            )
        except ValueError as e:
            raise SystemExit(str(e))
        return f"committed {n} day-windows to {args.table}"

    # ---- one-shot paths ------------------------------------------------
    if args.csv_input:
        out = api.ingest_csv(
            spark, args.csv_input, table_path=args.table,
            jobs_only=args.jobs_only, update=args.update,
            table_format=args.table_format,
        )
        return f"wrote {out.count()} rows to {args.table}"
    if args.sacct_dump:
        from slurm2sql_spark.sinks.parquet_sink import upsert, write_overwrite

        errors: list = []
        n_errors = 0
        bad = None
        if args.stitch_lines:
            # opt-in repair path, now DISTRIBUTED: safe lines parse in
            # place; only suspect runs (short/long lines + partition
            # firsts) route through a single sequential repair task —
            # a 100-TB dump with embedded newlines stays scale-parallel
            # (csv_source.sacct_dump_scan_stitched)
            from slurm2sql_spark.operators.transform import slurm_transform
            from slurm2sql_spark.sources.csv_source import (
                sacct_dump_scan_stitched,
            )

            ok, bad = sacct_dump_scan_stitched(spark, args.sacct_dump)
            typed = slurm_transform(ok)
        else:
            # default: executor-side line scan — a multi-GB dump never
            # touches driver memory (the error COUNT is computed
            # distributedly too; no collect of bad lines). Malformed
            # lines (wrong field arity, e.g. a JobName with an embedded
            # newline) are counted and reported with exit 1, same
            # contract as the stitch path (reference
            # slurm2sql.py:785-788) — but not repaired; the error
            # message points at --stitch-lines.
            from slurm2sql_spark.operators.transform import slurm_transform
            from slurm2sql_spark.sources.csv_source import sacct_dump_scan

            ok, bad = sacct_dump_scan(spark, args.sacct_dump)
            typed = slurm_transform(ok)
        if args.jobs_only:
            from pyspark.sql import functions as F

            typed = typed.filter(F.col("JobStep").isNull())
        if args.update:
            upsert(spark, typed, args.table, format=args.table_format)
        else:
            write_overwrite(typed, args.table, format=args.table_format)
        n = api.open_table(spark, args.table, format=args.table_format).count()
        if bad is not None:
            # count AFTER the write so the scan for good rows ran first
            # (one scan for data, one cheap scan for the count — never
            # a driver-side collect of the bad lines themselves)
            n_errors = bad.count()
        if n_errors:
            print(f"wrote {n} rows to {args.table}", file=sys.stderr)
            print(f"Completed with {n_errors} errors", file=sys.stderr)
            if not args.stitch_lines:
                print(
                    "(malformed lines were skipped, not repaired; "
                    "re-run with --stitch-lines to reassemble "
                    "newline-split records)",
                    file=sys.stderr,
                )
            raise SystemExit(1)
        return f"wrote {n} rows to {args.table}"
    # live sacct, one shot
    from slurm2sql_spark.sinks.parquet_sink import upsert, write_overwrite

    options: dict = {}
    if sacct_args:
        options["sacct_args"] = " ".join(sacct_args)
    if args.sacct_bin:
        options["sacct_bin"] = args.sacct_bin
    typed = slurm_transform(
        _live_sacct_df(spark, options), jobs_only=args.jobs_only
    )
    if args.update:
        upsert(spark, typed, args.table, format=args.table_format)
    else:
        write_overwrite(typed, args.table, format=args.table_format)
    return (
        f"wrote {api.open_table(spark, args.table, format=args.table_format).count()}"
        f" rows to {args.table}"
    )


def deidentify_cli(spark: SparkSession, argv) -> str:
    """Pseudonymize sensitive columns of a table (reference
    deidentify.py is a standalone in-place sqlite script; this reads the
    parquet table and writes a deidentified copy)."""
    from slurm2sql_spark.operators.deidentify import (
        DEFAULT_DEIDENTIFY_COLUMNS,
        deidentify,
    )
    from slurm2sql_spark.sinks.parquet_sink import write_overwrite

    p = argparse.ArgumentParser(prog="slurm2sql-spark deidentify")
    p.add_argument("table", help="input parquet table path")
    p.add_argument("--out", help="output path (default: <table>.deidentified)")
    p.add_argument("--columns", default=",".join(DEFAULT_DEIDENTIFY_COLUMNS),
                   help="comma-separated column list (reference deidentify.py:7)")
    p.add_argument("--numbering", choices=("auto", "rank", "hash"),
                   default="auto")
    args = p.parse_args(argv)
    from slurm2sql_spark import api

    out_path = args.out or args.table.rstrip("/") + ".deidentified"
    df = deidentify(
        api.open_table(spark, args.table),
        columns=tuple(c.strip() for c in args.columns.split(",") if c.strip()),
        numbering=args.numbering,
    )
    write_overwrite(df, out_path)
    return f"wrote deidentified table to {out_path}"


def import_cli(spark: SparkSession, argv) -> str:
    """One-shot migration of a reference-built slurm2sql SQLite ``.db``
    into a parquet table.

    The reference can reopen a previously built database directly
    (``import_or_open_db``, slurm2sql.py:1080-1101); a user migrating
    with years of SQLite history runs this once and then queries the
    parquet table with every other command. Stdlib ``sqlite3`` streams
    the rows in batches through ``createDataFrame`` — no JDBC needed,
    and driver memory holds one batch at a time.

    The schema comes from the database itself (``PRAGMA table_info``
    declared types, mapped through the reference's three-type system
    int/real/text -> Long/Double/String, slurm2sql.py:40-45), so dbs
    built by older reference versions with fewer columns import as-is.
    SQLite is dynamically typed, so values are defensively coerced to
    the declared column type: a TEXT '12' or '12.5' in an int column
    imports as 12 (float-then-truncate, like sqlite's CAST), and a
    value no numeric reading exists for (garbage text, BLOB, NaN)
    imports as NULL — deliberately NOT sqlite's CAST-to-0, which
    destroys the absent/zero distinction the converters rely on.

    The write commits by directory rename: batches append to a temp
    directory next to the target, any existing table is renamed aside,
    and the staging dir is renamed into place only after the last batch
    (and the empty-table case) committed.  A crash mid-import leaves
    any existing target untouched; a crash between the two commit
    renames leaves the old table recoverable at ``<table>.old-<pid>``.

    The reference's resume watermark (``meta_slurm_lastupdate``,
    slurm2sql.py:947,1104-1120) is carried over into this engine's
    watermark store, so ``ingest --history-resume`` continues from
    where the old database stopped.
    """
    import sqlite3

    from slurm2sql_spark.streaming.history import set_watermark

    p = argparse.ArgumentParser(prog="slurm2sql-spark import")
    p.add_argument("db", help="existing slurm2sql SQLite database file")
    p.add_argument("table", help="output parquet table path")
    p.add_argument("--source-table", default="slurm",
                   help="table to import (default: slurm)")
    p.add_argument("--batch-rows", type=int, default=100_000,
                   help="rows per createDataFrame batch (driver memory "
                        "bound; default 100k)")
    args = p.parse_args(argv)

    if args.batch_rows < 1:
        raise SystemExit("--batch-rows must be >= 1")
    if not os.path.exists(args.db):
        raise SystemExit(f"no such database: {args.db}")
    con = sqlite3.connect(f"file:{args.db}?mode=ro", uri=True)
    staging = f"{args.table}.importing-{os.getpid()}"
    try:
        cols = con.execute(
            f"PRAGMA table_info({_sqlite_ident(args.source_table)})"
        ).fetchall()
        if not cols:
            raise SystemExit(
                f"table {args.source_table!r} not found in {args.db}"
            )
        names = [c[1] for c in cols]
        decls = [(c[2] or "").lower() for c in cols]

        from pyspark.sql import types as T

        def spark_type(decl: str):
            if "int" in decl:
                return T.LongType()
            if decl in ("real", "double", "float") or "real" in decl:
                return T.DoubleType()
            return T.StringType()

        def coerce(decl: str):
            # SQLite columns can hold ANY dynamic type; coerce with
            # sqlite-CAST-like leniency ('12.5' in an int column -> 12)
            # but map unreadable values (garbage text, BLOB, NaN) to
            # NULL instead of CAST's 0 — see the docstring.
            if "int" in decl:
                def to_int(v):
                    if v is None or isinstance(v, (bytes, bytearray)):
                        return None
                    # genuine ints pass through unchanged: routing them
                    # via float() would corrupt |v| > 2**53 (job ids,
                    # energy counters) through float precision loss
                    if isinstance(v, int) and not isinstance(v, bool):
                        return v
                    try:
                        f = float(v)
                        return int(f) if f == f else None  # NaN -> NULL
                    except (TypeError, ValueError, OverflowError):
                        return None
                return to_int
            if "real" in decl or decl in ("double", "float"):
                def to_float(v):
                    if v is None or isinstance(v, (bytes, bytearray)):
                        return None
                    try:
                        return float(v)
                    except (TypeError, ValueError):
                        return None
                return to_float

            def to_str(v):
                if v is None:
                    return None
                if isinstance(v, (bytes, bytearray)):
                    return bytes(v).decode("utf-8", "replace")
                return str(v)
            return to_str

        schema = T.StructType(
            [
                T.StructField(n, spark_type(d), True)
                for n, d in zip(names, decls)
            ]
        )
        coercers = [coerce(d) for d in decls]
        cur = con.execute(
            f"SELECT * FROM {_sqlite_ident(args.source_table)}"
        )
        # Batches append into a STAGING dir; the rename below is the
        # commit point, so a crash mid-import never clobbers an
        # existing table with a partial import.
        total, first = 0, True
        while True:
            rows = cur.fetchmany(args.batch_rows)
            if not rows:
                break
            batch = [
                tuple(c(v) for c, v in zip(coercers, r)) for r in rows
            ]
            df = spark.createDataFrame(batch, schema)
            df.write.mode("overwrite" if first else "append").parquet(staging)
            total += len(batch)
            first = False
        if first:  # zero rows: still create an empty table of the schema
            spark.createDataFrame([], schema).write.mode(
                "overwrite"
            ).parquet(staging)
        # carry the resume watermark over, if the reference stored one
        wm = None
        try:
            row = con.execute(
                "SELECT update_time FROM meta_slurm_lastupdate "
                "ORDER BY id DESC LIMIT 1"
            ).fetchone()
            wm = row[0] if row else None
        except sqlite3.OperationalError:
            pass  # older db without the meta table
        if os.path.exists(args.table) and not os.path.isdir(args.table):
            raise SystemExit(
                f"target {args.table!r} exists and is not a table directory"
            )
        # Commit: move any existing table aside FIRST, then rename the
        # staging dir into place, then drop the backup.  A crash between
        # the two renames leaves the old table recoverable at the
        # .old-<pid> path instead of lost (the rmtree-then-rename
        # ordering had a window where neither table existed).
        backup = None
        if os.path.isdir(args.table):
            backup = f"{args.table}.old-{os.getpid()}"
            os.rename(args.table, backup)
        try:
            os.rename(staging, args.table)
        except OSError:
            if backup is not None:  # roll the old table back into place
                os.rename(backup, args.table)
            raise
        if backup is not None:
            shutil.rmtree(backup, ignore_errors=True)
        if wm is not None:
            set_watermark(args.table, int(wm))
    finally:
        con.close()
        shutil.rmtree(staging, ignore_errors=True)
    suffix = " (watermark carried over)" if wm is not None else ""
    return f"imported {total} rows from {args.db} to {args.table}{suffix}"


def _sqlite_ident(name: str) -> str:
    """Quote a SQLite identifier (PRAGMA/SELECT cannot be parameterized)."""
    return '"' + name.replace('"', '""') + '"'


_COMMANDS = {
    "ingest": ingest_cli,
    "sacct": sacct_cli,
    "seff": seff_cli,
    "deidentify": deidentify_cli,
    "import": import_cli,
}


def main(argv=None):
    argv = sys.argv[1:] if argv is None else argv
    if not argv or argv[0] not in _COMMANDS:
        print(f"usage: python -m slurm2sql_spark.cli {{{','.join(_COMMANDS)}}} ...")
        raise SystemExit(1)
    from slurm2sql_spark.session import get_spark

    spark = get_spark(app_name=f"slurm2sql_spark_{argv[0]}")
    print(_COMMANDS[argv[0]](spark, argv[1:]))


# console-script entry points (pyproject [project.scripts], mirroring the
# reference's slurm2sql / slurm2sql-sacct / slurm2sql-seff)
def main_ingest():
    main(["ingest"] + sys.argv[1:])


def main_sacct():
    main(["sacct"] + sys.argv[1:])


def main_seff():
    main(["seff"] + sys.argv[1:])


def main_deidentify():
    main(["deidentify"] + sys.argv[1:])


def main_import():
    main(["import"] + sys.argv[1:])


if __name__ == "__main__":
    main()
