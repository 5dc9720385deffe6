"""CLI frontends (sacct/seff/ingest) + library API, pinned against the
reference's CLI behavior (reference test.py:235-281: sacct prints
JobID/User columns; seff prints percentage efficiencies)."""

from __future__ import annotations

import pytest

from slurm2sql_spark import api
from slurm2sql_spark.cli import format_table, ingest_cli, sacct_cli, seff_cli

# TRES values contain commas, so those CSV fields are double-quoted.
CSV = """JobID,JobIDRaw,User,State,Elapsed,CPUTime,TotalCPU,TRESUsageInTot,AllocTRES,Start,End,NCPUS,Partition
1,1,alice,COMPLETED,01:00:00,02:00:00,,,"cpu=2,mem=4G",2021-01-01T10:00:00,2021-01-01T11:00:00,2,cpu
1.batch,1.batch,alice,COMPLETED,01:00:00,02:00:00,01:00:00,"cpu=01:00:00,mem=2G","cpu=2,mem=4G",2021-01-01T10:00:00,2021-01-01T11:00:00,2,cpu
2,2,bob,RUNNING,00:30:00,01:00:00,,,"cpu=2,mem=1G",2021-01-01T12:00:00,,2,gpu
"""


@pytest.fixture()
def csv_path(tmp_path):
    p = tmp_path / "jobs.csv"
    p.write_text(CSV)
    return str(p)


def test_api_ingest_csv(spark, csv_path):
    df = api.ingest_csv(spark, csv_path, now=1_700_000_000)
    by_id = {r.JobID: r for r in df.collect()}
    assert by_id["1"].NCPUS == 2
    assert by_id["1"].AllocMem == 4 * 1024**3
    assert by_id["1.batch"].JobStep == "batch"
    assert by_id["2"].End is None


def test_api_ingest_persist_roundtrip(spark, csv_path, tmp_path):
    table = str(tmp_path / "tbl")
    df = api.ingest_csv(spark, csv_path, table_path=table)
    assert df.count() == 3
    assert api.open_table(spark, table).count() == 3


def test_sacct_cli_default_fields(spark, csv_path):
    out = sacct_cli(spark, ["--csv-input", csv_path])
    assert "JobID" in out and "User" in out
    assert "alice" in out and "bob" in out
    assert "┃" in out  # the visual separator columns survive


def test_sacct_cli_custom_output_and_filters(spark, csv_path):
    out = sacct_cli(
        spark,
        ["--csv-input", csv_path, "-o", "JobID,User,NCPUS", "--user", "alice",
         "--order", "JobID"],
    )
    lines = out.splitlines()
    assert lines[0].split() == ["JobID", "User", "NCPUS"]
    assert "bob" not in out
    assert len(lines) == 2 + 2  # header + rule + 2 alice rows


def test_seff_cli_per_job(spark, csv_path):
    out = seff_cli(spark, ["--csv-input", csv_path])
    # only job 1 has Start and End; CPUeff 1h used / 2h reserved = 50%
    assert "alice" in out and "bob" not in out
    assert " 50%" in out
    assert "hours" in out
    assert "1" in out.splitlines()[2]


def test_seff_cli_aggregate_user(spark, csv_path):
    out = seff_cli(spark, ["--csv-input", csv_path, "--aggregate-user"])
    assert "alice" in out
    assert "cpu_day" in out


def test_seff_cli_no_data_exit_2(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("JobID,JobIDRaw,User,State,Start,End\n")
    with pytest.raises(SystemExit) as e:
        seff_cli(spark, ["--csv-input", str(p)])
    assert e.value.code == 2


def test_ingest_cli(spark, csv_path, tmp_path):
    table = str(tmp_path / "t2")
    msg = ingest_cli(spark, [table, "--csv-input", csv_path])
    assert "3 rows" in msg
    msg2 = ingest_cli(spark, [table, "--csv-input", csv_path, "--update"])
    assert "3 rows" in msg2  # idempotent upsert


def test_format_table_alignment(spark):
    df = spark.createDataFrame([("a", 1), ("bb", 22)], "s string, n long")
    out = format_table(df.orderBy("n")).splitlines()
    assert out[0].startswith("s")
    assert set(out[1]) <= {"-", " "}
    assert out[2].startswith("a")
    assert out[3].endswith("22")


def test_format_table_github_golden(spark):
    """Pins the tabulate 'github' style (reference accepts any tabulate
    format name, slurm2sql.py:1174): piped cells, dashed separator row,
    numbers right-aligned."""
    df = spark.createDataFrame([("a", 1), ("bb", 22)], "s string, n long")
    out = format_table(df.orderBy("n"), fmt="github")
    assert out == "\n".join([
        "| s  |  n |",
        "|----|----|",
        "| a  |  1 |",
        "| bb | 22 |",
    ])


def test_format_table_pretty_golden(spark):
    df = spark.createDataFrame([("a", 1), ("bb", 22)], "s string, n long")
    out = format_table(df.orderBy("n"), fmt="pretty")
    assert out == "\n".join([
        "+----+----+",
        "| s  | n  |",
        "+----+----+",
        "| a  | 1  |",
        "| bb | 22 |",
        "+----+----+",
    ])


def test_format_table_plain_and_grid(spark):
    df = spark.createDataFrame([("a", 1)], "s string, n long")
    plain = format_table(df, fmt="plain").splitlines()
    assert plain == ["s  n", "a  1"]
    grid = format_table(df, fmt="grid").splitlines()
    assert grid[0] == "+---+---+"
    assert grid[2] == "+===+===+"  # grid uses a double-rule under headers
    assert grid[-1] == "+---+---+"


def test_format_table_unknown_format_rejected(spark):
    """Non-native format names delegate to the real tabulate package
    when installed (reference accepts any tabulate style,
    slurm2sql.py:1174); without it the error names the native styles
    and the optional dependency."""
    import pytest as _pytest

    df = spark.createDataFrame([("a", 1)], "s string, n long")
    try:
        from tabulate import tabulate as _tab

        out = format_table(df, fmt="orgtbl")
        assert out == _tab([["a", 1]], headers=["s", "n"], tablefmt="orgtbl")
    except ImportError:
        with _pytest.raises(ValueError, match="unknown --format.*tabulate"):
            format_table(df, fmt="orgtbl")


# --- reference selector surface (slurm2sql.py:1039-1069, 1182-1275) ------

def test_sacct_cli_completed_selector(spark, csv_path):
    out = sacct_cli(
        spark, ["--csv-input", csv_path, "-o", "JobID,User,State", "--completed"]
    )
    assert "COMPLETED" in out and "RUNNING" not in out


def test_sacct_cli_failed_selector_empty(spark, csv_path):
    out = sacct_cli(
        spark, ["--csv-input", csv_path, "-o", "JobID,State", "--failed"]
    )
    assert "COMPLETED" not in out and "RUNNING" not in out


def test_sacct_cli_bare_jobid(spark, csv_path):
    # a lone JobID-shaped argument selects that job (reference
    # slurm2sql.py:1045-1047): both the job and its steps
    out = sacct_cli(spark, ["--csv-input", csv_path, "-o", "JobID,User", "1"])
    assert "alice" in out and "bob" not in out
    assert "1.batch" in out


def test_sacct_cli_running_at_time(spark, csv_path):
    out = sacct_cli(
        spark,
        ["--csv-input", csv_path, "-o", "JobID,State",
         "--running-at-time", "2021-01-01T12:30"],
    )
    assert "RUNNING" in out and "COMPLETED" not in out


def test_sacct_cli_time_bounds(spark, csv_path):
    # job 1 ended 11:00; job 2 started 12:00 and still runs.
    # -S 11:30 keeps only jobs alive after 11:30
    out = sacct_cli(
        spark,
        ["--csv-input", csv_path, "-o", "JobID,User", "-S", "2021-01-01T11:30"],
    )
    assert "bob" in out and "alice" not in out
    # -E 11:30 keeps only jobs started before 11:30
    out = sacct_cli(
        spark,
        ["--csv-input", csv_path, "-o", "JobID,User", "-E", "2021-01-01T11:30"],
    )
    assert "alice" in out and "bob" not in out


def test_seff_cli_bare_jobid(spark, csv_path):
    out = seff_cli(spark, ["--csv-input", csv_path, "1"])
    assert "alice" in out and " 50%" in out


def test_sacct_cli_output_long(spark, csv_path):
    out = sacct_cli(spark, ["--csv-input", csv_path, "-o", "long"])
    assert "MaxRSS" in out and "GpuUtil" in out


FAKE_SACCT_CLI = r"""#!/bin/bash
echo "$@" >> "$(dirname "$0")/calls.log"
echo 'JobID;|;JobIDRaw;|;User;|;State;|;NCPUS;|;Elapsed;|;CPUTime'
echo '7;|;7;|;carol;|;COMPLETED;|;2;|;01:00:00;|;02:00:00'
"""


def test_sacct_cli_live_path_pushes_selectors(spark, tmp_path):
    """No --db/--csv-input -> live sacct fetch; state selectors become
    sacct args (reference import_or_open_db, slurm2sql.py:1080-1101)."""
    import os
    import stat

    fake = tmp_path / "sacct"
    fake.write_text(FAKE_SACCT_CLI)
    os.chmod(fake, os.stat(fake).st_mode | stat.S_IEXEC)
    out = sacct_cli(
        spark,
        ["--sacct-bin", str(fake), "-o", "JobID,User,State", "--completed",
         "--user", "carol"],
    )
    assert "carol" in out and "COMPLETED" in out
    calls = (tmp_path / "calls.log").read_text()
    assert "--state=CD" in calls
    assert "--endtime=now" in calls
    assert "--user=carol" in calls


# --- ingest history flags (reference slurm2sql.py:706-719, 756-774; ------
# --- resume semantics pinned by reference test.py:329-357) ----------------

def test_ingest_cli_history_days_and_resume(spark, csv_path, tmp_path):
    from slurm2sql_spark.streaming.history import get_watermark

    table = str(tmp_path / "hist")
    msg = ingest_cli(
        spark, [table, "--csv-input", csv_path, "--history-days", "1"]
    )
    assert "day-windows" in msg
    n_windows = int(msg.split()[1])
    assert n_windows >= 2  # yesterday-midnight .. now+6h slack
    assert api.open_table(spark, table).count() == 3
    wm = get_watermark(table)
    assert wm is not None
    # resume: picks up from the watermark, upsert keeps it idempotent
    msg2 = ingest_cli(spark, [table, "--csv-input", csv_path, "--history-resume"])
    assert "day-windows" in msg2
    assert int(msg2.split()[1]) <= n_windows
    assert api.open_table(spark, table).count() == 3
    assert get_watermark(table) >= wm


def test_ingest_cli_history_resume_without_watermark_errors(spark, csv_path, tmp_path):
    with pytest.raises(SystemExit):
        ingest_cli(
            spark,
            [str(tmp_path / "none"), "--csv-input", csv_path, "--history-resume"],
        )


def test_ingest_cli_history_resume_or_start_falls_back(spark, csv_path, tmp_path):
    table = str(tmp_path / "hist2")
    msg = ingest_cli(
        spark,
        [table, "--csv-input", csv_path, "--history-resume-or-start", "1-0"],
    )
    assert "day-windows" in msg
    assert api.open_table(spark, table).count() == 3


def test_ingest_cli_history_start_end_bounded(spark, csv_path, tmp_path):
    table = str(tmp_path / "hist3")
    msg = ingest_cli(
        spark,
        [table, "--csv-input", csv_path,
         "--history-start", "2021-01-01", "--history-end", "2021-01-04"],
    )
    assert msg.startswith("committed 3 day-windows")


def test_parse_slurmtime_grammar():
    from slurm2sql_spark.streaming.history import parse_slurmtime

    assert parse_slurmtime("7-0") == 7 * 86400
    assert parse_slurmtime("1-12:30") == 86400 + 12 * 3600 + 30 * 60
    assert parse_slurmtime("02:00:00") == 7200
    assert parse_slurmtime("15:00") == 900
    assert parse_slurmtime("90") == 5400  # bare number = minutes


# --- stitcher error accounting -> exit code (reference 785-788) ----------

def test_ingest_cli_sacct_dump_error_exit(spark, tmp_path):
    # error accounting through the opt-in (now distributed) stitch path
    dump = tmp_path / "dump.txt"
    dump.write_text(
        "JobID;|;JobIDRaw;|;User;|;State\n"
        "1;|;1;|;alice;|;COMPLETED\n"
        "x;|;x;|;x;|;x;|;extra;|;fields\n"
    )
    with pytest.raises(SystemExit) as e:
        ingest_cli(
            spark,
            [str(tmp_path / "t"), "--sacct-dump", str(dump), "--stitch-lines"],
        )
    assert e.value.code == 1


def test_ingest_cli_sacct_dump_clean(spark, tmp_path):
    # default path: distributed spark.read.csv scan, no driver slurp
    dump = tmp_path / "dump.txt"
    dump.write_text(
        "JobID;|;JobIDRaw;|;User;|;State\n"
        "1;|;1;|;alice;|;COMPLETED\n"
        "2;|;2;|;bob;|;RUNNING\n"
    )
    msg = ingest_cli(spark, [str(tmp_path / "t2"), "--sacct-dump", str(dump)])
    assert "2 rows" in msg


def test_ingest_cli_sacct_dump_default_counts_errors(spark, tmp_path, capsys):
    """The DEFAULT (distributed) dump path must also honor the
    reference's error contract (slurm2sql.py:785-788): malformed lines
    — here a newline-split record (two short physical lines) and a
    too-many-fields line — are counted, reported on stderr with a
    --stitch-lines hint, and the exit code is 1. The well-formed rows
    still land in the table."""
    dump = tmp_path / "dump.txt"
    dump.write_text(
        "JobID;|;JobName;|;User;|;State\n"
        "1;|;my\njob;|;alice;|;COMPLETED\n"  # splits into 2 short lines
        "2;|;ok;|;bob;|;RUNNING\n"
        "x;|;x;|;x;|;x;|;extra\n"  # too many fields
    )
    with pytest.raises(SystemExit) as e:
        ingest_cli(spark, [str(tmp_path / "t4"), "--sacct-dump", str(dump)])
    assert e.value.code == 1
    err = capsys.readouterr().err
    assert "3 errors" in err
    assert "--stitch-lines" in err
    # the one intact record was written
    table = spark.read.parquet(str(tmp_path / "t4"))
    assert [r.JobID for r in table.collect()] == ["2"]


def test_ingest_cli_sacct_dump_repeated_header_tolerated(spark, tmp_path):
    """Concatenated dumps repeat the header; duplicate header lines are
    dropped, not parsed as data and not counted as errors."""
    dump = tmp_path / "dump.txt"
    dump.write_text(
        "JobID;|;JobIDRaw;|;User;|;State\n"
        "1;|;1;|;alice;|;COMPLETED\n"
        "JobID;|;JobIDRaw;|;User;|;State\n"
        "2;|;2;|;bob;|;RUNNING\n"
    )
    msg = ingest_cli(spark, [str(tmp_path / "t5"), "--sacct-dump", str(dump)])
    assert "2 rows" in msg


def test_ingest_cli_sacct_dump_stitch_opt_in(spark, tmp_path):
    # a newline inside JobName splits a record across physical lines;
    # only --stitch-lines reassembles it
    dump = tmp_path / "dump.txt"
    dump.write_text(
        "JobID;|;JobName;|;User;|;State\n"
        "1;|;my\njob;|;alice;|;COMPLETED\n"
        "2;|;ok;|;bob;|;RUNNING\n"
    )
    msg = ingest_cli(
        spark,
        [str(tmp_path / "t3"), "--sacct-dump", str(dump), "--stitch-lines"],
    )
    assert "2 rows" in msg


@pytest.mark.parametrize("stitch", [False, True], ids=["default", "stitch"])
def test_ingest_cli_sacct_dump_jobs_only(spark, tmp_path, stitch):
    dump = tmp_path / "dump.txt"
    dump.write_text(
        "JobID;|;JobIDRaw;|;User;|;State\n"
        "1;|;1;|;alice;|;COMPLETED\n"
        "1.batch;|;1.batch;|;alice;|;COMPLETED\n"
        "1.0;|;1.0;|;alice;|;COMPLETED\n"
        "2;|;2;|;bob;|;RUNNING\n"
    )
    table = str(tmp_path / "t6")
    argv = [table, "--sacct-dump", str(dump), "--jobs-only"]
    msg = ingest_cli(spark, argv + (["--stitch-lines"] if stitch else []))
    assert "2 rows" in msg
    rows = spark.read.parquet(table).collect()
    assert sorted(r.JobID for r in rows) == ["1", "2"]
    assert all(r.JobStep is None for r in rows)


def test_deidentify_cli(spark, csv_path, tmp_path):
    from slurm2sql_spark.cli import deidentify_cli

    table = str(tmp_path / "base")
    ingest_cli(spark, [table, "--csv-input", csv_path])
    out_path = str(tmp_path / "deid")
    msg = deidentify_cli(
        spark, [table, "--out", out_path, "--columns", "User,JobName"]
    )
    assert out_path in msg
    rows = api.open_table(spark, out_path).collect()
    users = {r.User for r in rows}
    assert users <= {"User_0", "User_1"}  # alice/bob pseudonymized
    assert api.open_table(spark, out_path).count() == 3


def test_console_entry_points_resolve():
    # pyproject [project.scripts] targets must import and be callable
    from slurm2sql_spark.cli import (  # noqa: F401
        main_deidentify,
        main_ingest,
        main_sacct,
        main_seff,
    )


def test_sacct_cli_format_csv(spark, csv_path):
    out = sacct_cli(
        spark,
        ["--csv-input", csv_path, "-o", "JobID,User,NCPUS",
         "--format", "csv", "--completed"],
    )
    lines = out.splitlines()
    assert lines[0] == "JobID,User,NCPUS"
    assert any(l.startswith("1,alice,") for l in lines[1:])
    # no alignment padding in machine format
    assert "  " not in out


def test_ingest_cli_table_format_delta_without_package(spark, tmp_path):
    """--table-format delta surfaces the actionable ImportError when
    delta-spark is absent (and works when present, covered by the
    parametrized sink tests)."""
    try:
        import delta  # noqa: F401
        pytest.skip("delta-spark installed; error path not reachable")
    except ImportError:
        pass
    dump = tmp_path / "dump.txt"
    dump.write_text("JobID;|;User;|;State\n1;|;a;|;COMPLETED\n")
    with pytest.raises(Exception, match="delta"):
        ingest_cli(spark, [str(tmp_path / "t"), "--sacct-dump", str(dump),
                           "--update", "--table-format", "delta"])


# --- SQLite import (reference import_or_open_db, slurm2sql.py:1080-1101) --

def _make_reference_db(path: str, n_rows: int = 7, watermark: float | None = 1700000000.5):
    """A miniature reference-built db: typed `slurm` table (three-type
    system, reference slurm2sql.py:40-45) + meta_slurm_lastupdate."""
    import sqlite3

    con = sqlite3.connect(path)
    con.execute(
        'CREATE TABLE slurm ("JobID" text UNIQUE, "JobStep" text, '
        '"User" text, "State" text, "NCPUS" int, "CPUTime" real, '
        '"MaxRSS" real)'
    )
    con.execute(
        "CREATE TABLE meta_slurm_lastupdate "
        "(id INTEGER PRIMARY KEY, update_time REAL)"
    )
    for i in range(n_rows):
        con.execute(
            "INSERT INTO slurm VALUES (?,?,?,?,?,?,?)",
            (str(i), None, f"user{i % 3}", "COMPLETED", 2 + i,
             float(10 * i), 1024.0 * i),
        )
    # sqlite is dynamically typed: sneak a TEXT value into an int column
    # (real-world dbs have these) — import must coerce per declared type
    con.execute(
        "INSERT INTO slurm VALUES ('99', NULL, 'x', 'FAILED', '8', '1.5', NULL)"
    )
    if watermark is not None:
        con.execute(
            "INSERT INTO meta_slurm_lastupdate VALUES (1, ?)", (watermark,)
        )
    con.commit()
    con.close()


def test_import_cli_roundtrip(spark, tmp_path):
    from slurm2sql_spark.cli import import_cli
    from slurm2sql_spark.streaming.history import get_watermark

    db = str(tmp_path / "old.db")
    _make_reference_db(db)
    table = str(tmp_path / "migrated")
    msg = import_cli(spark, [db, table, "--batch-rows", "3"])  # >1 batch
    assert "8 rows" in msg and "watermark carried over" in msg

    df = spark.read.parquet(table)
    types = dict(df.dtypes)
    assert types["NCPUS"] == "bigint"
    assert types["CPUTime"] == "double"
    assert types["JobID"] == "string"
    rows = {r.JobID: r for r in df.collect()}
    assert len(rows) == 8
    assert rows["3"].NCPUS == 5 and rows["3"].CPUTime == 30.0
    # dynamically-typed sqlite values coerced per declared type
    assert rows["99"].NCPUS == 8 and rows["99"].CPUTime == 1.5
    # reference watermark continues the --history-resume protocol
    assert get_watermark(table) == 1700000000


def test_import_cli_queryable_after_migration(spark, tmp_path):
    """The migrated table serves the reporting CLI — the 'switch from
    the reference' workflow end-to-end."""
    from slurm2sql_spark.cli import import_cli

    db = str(tmp_path / "old.db")
    _make_reference_db(db, watermark=None)
    table = str(tmp_path / "migrated")
    import_cli(spark, [db, table])
    out = sacct_cli(spark, ["--db", table, "-o", "JobID,User,NCPUS"])
    assert "user0" in out


def test_import_cli_missing_inputs(spark, tmp_path):
    from slurm2sql_spark.cli import import_cli

    with pytest.raises(SystemExit, match="no such database"):
        import_cli(spark, [str(tmp_path / "absent.db"), str(tmp_path / "t")])
    import sqlite3

    empty = str(tmp_path / "empty.db")
    sqlite3.connect(empty).close()
    with pytest.raises(SystemExit, match="not found"):
        import_cli(spark, [empty, str(tmp_path / "t")])


def test_import_cli_dirty_values_null_not_crash(spark, tmp_path):
    """SQLite's dynamic typing means int columns can hold '12.5', NaN,
    or BLOBs; these must import as 12 / NULL / NULL — never crash
    mid-import."""
    import sqlite3

    from slurm2sql_spark.cli import import_cli

    db = str(tmp_path / "dirty.db")
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE slurm ("JobID" text, "NCPUS" int, "CPUTime" real)')
    con.execute("INSERT INTO slurm VALUES ('1', '12.5', 'garbage')")
    con.execute("INSERT INTO slurm VALUES ('2', X'DEADBEEF', 3.5)")
    con.execute("INSERT INTO slurm VALUES ('3', 9e999, 'NaN')")  # inf
    con.commit(); con.close()
    table = str(tmp_path / "t")
    msg = import_cli(spark, [db, table])
    assert "3 rows" in msg
    rows = {r.JobID: r for r in spark.read.parquet(table).collect()}
    assert rows["1"].NCPUS == 12          # float-then-truncate
    assert rows["1"].CPUTime is None      # garbage text -> NULL
    assert rows["2"].NCPUS is None        # BLOB -> NULL
    assert rows["2"].CPUTime == 3.5
    import math

    assert math.isnan(rows["3"].CPUTime)  # NaN string parses to NaN double


def test_import_cli_batch_rows_guard(spark, tmp_path):
    from slurm2sql_spark.cli import import_cli

    db = str(tmp_path / "g.db")
    _make_reference_db(db)
    with pytest.raises(SystemExit, match="batch-rows"):
        import_cli(spark, [db, str(tmp_path / "t"), "--batch-rows", "0"])


def test_import_cli_failure_preserves_existing_table(spark, tmp_path, monkeypatch):
    """The staging rename is the commit point: a crash mid-import must
    leave any existing target table untouched and clean up staging."""
    import os

    from slurm2sql_spark.cli import import_cli

    db = str(tmp_path / "src.db")
    _make_reference_db(db)
    table = str(tmp_path / "t")
    import_cli(spark, [db, table])
    before = sorted(r.JobID for r in spark.read.parquet(table).collect())

    calls = {"n": 0}
    real = type(spark).createDataFrame

    def boom(self, *a, **k):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-import")
        return real(self, *a, **k)

    monkeypatch.setattr(type(spark), "createDataFrame", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        import_cli(spark, [db, table, "--batch-rows", "3"])
    monkeypatch.undo()
    after = sorted(r.JobID for r in spark.read.parquet(table).collect())
    assert after == before  # old table intact
    leftovers = [d for d in os.listdir(tmp_path) if ".importing-" in d]
    assert leftovers == []  # staging cleaned up


def test_import_cli_big_ints_exact(spark, tmp_path):
    """Genuine SQLite ints must not round-trip through float(): values
    with |v| > 2**53 (job ids, energy counters) would silently land on
    a nearby wrong integer."""
    import sqlite3

    from slurm2sql_spark.cli import import_cli

    big = 2**53 + 1          # not representable as a double
    neg = -(2**60 + 7)
    db = str(tmp_path / "big.db")
    con = sqlite3.connect(db)
    con.execute('CREATE TABLE slurm ("JobID" text, "Energy" int)')
    con.execute("INSERT INTO slurm VALUES ('a', ?)", (big,))
    con.execute("INSERT INTO slurm VALUES ('b', ?)", (neg,))
    con.execute("INSERT INTO slurm VALUES ('c', '12.5')")  # text still coerces
    con.commit(); con.close()
    table = str(tmp_path / "t")
    import_cli(spark, [db, table])
    rows = {r.JobID: r.Energy for r in spark.read.parquet(table).collect()}
    assert rows == {"a": big, "b": neg, "c": 12}


def test_import_cli_target_is_plain_file(spark, tmp_path):
    """A non-directory target is an explicit error, not an os.rename
    crash halfway through the commit."""
    from slurm2sql_spark.cli import import_cli

    db = str(tmp_path / "src.db")
    _make_reference_db(db)
    target = tmp_path / "t"
    target.write_text("not a table")
    with pytest.raises(SystemExit, match="not a table directory"):
        import_cli(spark, [db, str(target)])
    assert target.read_text() == "not a table"  # untouched
