"""The benchmark workloads.

Each workload generates its inputs from the seed, builds the state its
ops need, warms every op shape untimed, then hands ``run.py`` its ops in
*rounds*. A round is a fixed, balanced set of ops; the timed loop only
ever runs whole rounds, so the op mix behind each median is the same on
every run. Every op reports its
wall and the input rows it handled, and is followed by an untimed check
against facts the generator recorded.

- ``sacct_history`` (the engine's two user paths, write then read): a
  day-partitioned table holds every day of a history but the last. Each
  round copies it and ingests the last day's raw sacct dump onto the copy
  the way the CLI does (``sacct_dump_scan`` -> ``slurm_transform(now=
  fixed)`` -> ``with_day_partition`` -> ``upsert(partition_cols=
  ("day",))`` -> the malformed-line count -> the ``streaming.history``
  watermark stamp), then runs six reports over the result (``seff`` per
  user / per window / ``--aggregate-user``, ``sacct --failed`` over a
  window, ``sacct --jobs``, and ``views.user_rollup(views.eff(...))``) in
  a seeded order with seeded arguments. Every round starts from the same
  table, so every round does the same work, including rewriting the jobs
  that were RUNNING at the previous midnight. Ingest and reports share a
  workload because every run starts its own JVM and compiles its first
  queries (30-50 s of set-up on 4 cores), and the benchmark's full set of
  runs must fit a fixed time: a third workload's runs would not.
- ``dedup_curation`` (Python/Arrow kernel path): exact, MinHash-LSH and
  winnowing near-duplicate detection over a corpus with planted pairs;
  a round runs each twice.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass

import gen
from measure import force


class CheckFailed(AssertionError):
    """An op's output disagrees with what the generator planted."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _part_files(table: str) -> dict[str, set[str]]:
    """``{partition dir: {parquet file names}}`` of a day-partitioned table."""
    return {
        p: {f for f in os.listdir(os.path.join(table, p)) if f.endswith(".parquet")}
        for p in os.listdir(table) if p.startswith("day=")
    }


def _parquet_rows(paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


class Workload:
    """``generate`` writes the inputs, ``setup`` builds the state the ops
    need, ``warmup`` runs every op shape untimed,
    ``round(i)`` lists the ops of round ``i``.

    An op is ``op(tracer, corrupt)``. It reports its wall and the input
    rows it handled through ``tracer.op`` and raises ``CheckFailed`` when
    its output is wrong. ``corrupt`` makes the op damage its own output
    before the check: the self-test that the checks can fail.
    """

    name = ""
    layer_metrics: dict[str, float]

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.layer_metrics = {}

    def round(self, index: int) -> list:
        raise NotImplementedError


# --------------------------------------------------------------------------
# sacct_history


#: the states ``sacct --failed`` selects (sacct's F,NF,OOM,TO codes)
_FAILED = frozenset(("FAILED", "NODE_FAIL", "OUT_OF_MEMORY", "TIMEOUT"))


@dataclass
class _Facts:
    """What a table holds once ``dumps`` are ingested in order."""

    rows: dict  # JobID -> Row: the newest dump holding a key decides its row
    jobs: dict  # JobIDnostep -> {user, start, end} as the eff view sees it

    @classmethod
    def of(cls, dumps: list) -> "_Facts":
        rows = {r.job_id: r for f in dumps for r in f.rows}
        # grouped on JobIDnostep: Start = min over rows, End = max over the
        # rows that have one (SQL ``max`` skips NULLs, so a running job
        # with a finished step has an End)
        jobs: dict[str, dict] = {}
        for r in rows.values():
            j = jobs.setdefault(r.job_key, dict(user=r.user, start=r.start, end=None))
            j["start"] = min(j["start"], r.start)
            if r.end is not None:
                j["end"] = r.end if j["end"] is None else max(j["end"], r.end)
        return cls(rows, jobs)


class SacctHistory(Workload):
    name = "sacct_history"
    SIZES = {"full": dict(days=6, jobs_per_day=1500),
             "tiny": dict(days=2, jobs_per_day=20)}

    def generate(self) -> None:
        """``base`` covers every day but the last and is written once;
        ``day`` is the last day window, upserted onto a copy of the base."""
        p = self.SIZES[self.size]
        self.hist = gen.SacctHistory(self.seed, **p)
        os.makedirs(f"{self.work}/in")
        self.base = self.hist.write_window(0, p["days"] - 1, f"{self.work}/in/base.txt")
        self.day = self.hist.write_window(p["days"] - 1, p["days"], f"{self.work}/in/day.txt")
        self.before = _Facts.of([self.base])
        self.after = _Facts.of([self.base, self.day])
        self._n = 0

    def setup(self, tracer) -> None:
        """The base table, in one write."""
        from slurm2sql_spark.operators.transform import slurm_transform
        from slurm2sql_spark.sinks.parquet_sink import with_day_partition, write_overwrite
        from slurm2sql_spark.sources.csv_source import sacct_dump_scan
        from slurm2sql_spark.streaming.history import set_watermark

        self.base_table = f"{self.work}/base"
        ok, bad = sacct_dump_scan(self.spark, self.base.path)
        write_overwrite(with_day_partition(slurm_transform(ok, now=self.hist.now)),
                        self.base_table, partition_cols=("day",))
        expect(bad.count() == self.base.malformed, "base build: malformed count")
        set_watermark(self.base_table, self.hist.now - gen.DAY_S)

    def warmup(self, tracer) -> None:
        """One ingest op on a throwaway copy of the base, and the six
        reports over the base itself, side by side: both first calls are
        dominated by query compilation on one driver thread."""
        from concurrent.futures import ThreadPoolExecutor

        reports = self._reports(-1, self.before, lambda: self.base_table)
        with ThreadPoolExecutor(2) as pool:
            ingest = pool.submit(self._ingest_op, tracer, False)
            for op in reports:
                op(tracer, False)
            ingest.result()

    def round(self, index: int) -> list:
        """The ingest op, then the six reports over its table."""
        return [self._ingest_op, *self._reports(index, self.after, lambda: self.table)]

    # -- the ingest op

    def _ingest(self, tracer, table: str) -> int:
        """The last day window, exactly as the CLI's ``--sacct-dump
        --update`` path with history partitioning; returns the malformed
        count."""
        from slurm2sql_spark.operators.transform import slurm_transform
        from slurm2sql_spark.sinks.parquet_sink import upsert, with_day_partition
        from slurm2sql_spark.sources.csv_source import sacct_dump_scan
        from slurm2sql_spark.streaming.history import set_watermark

        spark = self.spark
        traced = tracer.enabled
        with tracer.span("sources.scan"):
            ok, bad = sacct_dump_scan(spark, self.day.path)
            if traced:
                force(ok)
        with tracer.span("transform"):
            typed = with_day_partition(slurm_transform(ok, now=self.hist.now))
            if traced:
                force(typed)
        with tracer.span("sinks.upsert"):
            upsert(spark, typed, table, partition_cols=("day",))
        with tracer.span("sources.bad_count"):
            n_bad = bad.count()
        with tracer.span("history.stamp"):
            set_watermark(table, self.hist.now)
        return n_bad

    def _ingest_op(self, tracer, corrupt: bool) -> None:
        """Upsert the last day onto a fresh copy of the base; the reports
        of the round read the result."""
        from slurm2sql_spark.sinks.parquet_sink import read_table
        from slurm2sql_spark.streaming.history import get_watermark

        if self._n:
            shutil.rmtree(self.table)
            os.remove(self.table + ".lastupdate.json")
        self._n += 1
        table = self.table = f"{self.work}/t{self._n}"
        shutil.copytree(self.base_table, table)
        shutil.copy(self.base_table + ".lastupdate.json", table + ".lastupdate.json")
        day = self.day
        before = _part_files(table) if tracer.enabled else None
        io0 = tracer.storage_writes() if tracer.enabled else 0
        t0 = time.perf_counter()
        n_bad = self._ingest(tracer, table)
        tracer.op(time.perf_counter() - t0, day.lines)
        if tracer.enabled:
            self._layer_counts(table, before, tracer.storage_writes() - io0)
        if corrupt:
            victim = sorted(_part_files(table).items())[0]
            os.remove(os.path.join(table, victim[0], sorted(victim[1])[0]))
        # -- check (untimed)
        got = read_table(self.spark, table).select("JobID", "day").collect()
        want = self.after.rows
        expect(n_bad == day.malformed,
               f"malformed lines: counted {n_bad}, planted {day.malformed}")
        ids = Counter(r.JobID for r in got)
        expect(len(ids) == len(got),
               f"{len(got) - len(ids)} duplicate JobIDs after upsert")
        expect(set(ids) == set(want),
               f"JobIDs differ: {len(set(want) - set(ids))} missing, "
               f"{len(set(ids) - set(want))} unexpected")
        expect(Counter(str(r.day) for r in got)
               == Counter(gen.partition_day(r, self.hist.now) for r in want.values()),
               "per-day row counts differ")
        expect(get_watermark(table) == self.hist.now,
               "watermark not stamped at the window end")

    def _layer_counts(self, table, before, jvm_written) -> None:
        after = _part_files(table)
        rewritten = [
            os.path.join(table, p, f)
            for p, files in after.items() if files != before.get(p)
            for f in files
        ]
        day = self.day
        m = self.layer_metrics
        m["sinks.rows_rewritten_per_row_in"] = _parquet_rows(rewritten) / len(day.rows)
        m["sinks.write_bytes_per_input_byte"] = jvm_written / day.bytes
        m["sinks.files_per_partition"] = sum(map(len, after.values())) / len(after)
        m["sinks.table_bytes_per_input_byte"] = (
            _dir_bytes(table) / (self.base.bytes + day.bytes))
        m["sources.malformed_ratio"] = day.malformed / day.lines

    # -- the reports

    def _reports(self, index: int, facts: _Facts, table) -> list:
        """The six reports over ``table()`` (read when each report runs),
        in a seeded order with seeded arguments, checked against
        ``facts``."""
        rng = random.Random(self.seed * 1000003 + index)
        # a day of the base, so the windows hold rows in the base too
        d0 = gen.EPOCH0 + rng.randrange(self.hist.days - 1) * gen.DAY_S
        w_lo = d0 + rng.randrange(0, 12) * 3600
        w_hi = w_lo + 6 * 3600
        f_lo, f_hi = d0, d0 + gen.DAY_S
        done = [j for j in facts.jobs.values() if j["end"] is not None]
        done_users = sorted({j["user"] for j in done})
        user = rng.choice(done_users)
        job = rng.choice(sorted(facts.jobs))

        def n_jobs(pred) -> int:
            return sum(1 for j in done if pred(j))

        def n_rows(pred) -> int:
            return sum(1 for r in facts.rows.values() if pred(r))

        def seff(argv, want):
            from slurm2sql_spark.cli import seff_cli

            return lambda tr, c: self._report(tr, c, facts, table(), "cli.seff",
                                              seff_cli, argv, want)

        def sacct(argv, want):
            from slurm2sql_spark.cli import sacct_cli

            return lambda tr, c: self._report(tr, c, facts, table(), "cli.sacct",
                                              sacct_cli, argv, want)

        ops = [
            seff(["--aggregate-user"], len(done_users)),
            seff(["--user", user], n_jobs(lambda j: j["user"] == user)),
            seff(["-S", gen.ts(w_lo), "-E", gen.ts(w_hi), "--long"],
                 n_jobs(lambda j: j["end"] >= w_lo and j["start"] <= w_hi)),
            sacct(["--failed", "-S", gen.ts(f_lo), "-E", gen.ts(f_hi)],
                  n_rows(lambda r: r.state in _FAILED and r.start <= f_hi
                         and (r.end is None or r.end >= f_lo))),
            sacct(["--jobs", job], n_rows(lambda r: r.job_key == job)),
            lambda tr, c: self._rollup(tr, c, facts, table()),
        ]
        rng.shuffle(ops)
        return ops

    def _report(self, tracer, corrupt, facts, table, layer, fn, argv, want) -> None:
        with tracer.span(layer):
            t0 = time.perf_counter()
            out = fn(self.spark, ["--db", table, *argv])
            tracer.op(time.perf_counter() - t0, len(facts.rows))
        rows = len(out.splitlines()) - 2  # header + dashed rule
        tracer.count("cli.rows_formatted", rows)
        if corrupt:
            rows -= 1
        expect(rows == want, f"{layer} {' '.join(argv)}: {rows} rows, want {want}")

    def _rollup(self, tracer, corrupt, facts, path) -> None:
        from slurm2sql_spark.operators.views import eff, user_rollup
        from slurm2sql_spark.sinks.parquet_sink import read_table

        t0 = time.perf_counter()
        with tracer.span("sinks.read_table"):
            table = read_table(self.spark, path)
            if tracer.enabled:
                force(table)
        with tracer.span("views.eff"):
            e = eff(table)
            if tracer.enabled:
                force(e)
        with tracer.span("views.rollup"):
            got = user_rollup(e).select("User", "NJobs").collect()
        tracer.op(time.perf_counter() - t0, len(facts.rows))
        if corrupt:
            got = got[1:]
        users = sorted({j["user"] for j in facts.jobs.values()})
        expect(sorted(r.User for r in got) == users, "rollup: users differ")
        expect(sum(r.NJobs for r in got) == len(facts.jobs), "rollup: job count differs")


# --------------------------------------------------------------------------
# dedup_curation


class DedupCuration(Workload):
    name = "dedup_curation"
    SIZES = {"full": dict(docs=3000, planted=40),
             "tiny": dict(docs=200, planted=5)}

    def generate(self) -> None:
        p = self.SIZES[self.size]
        self.corpus = gen.dedup_corpus(self.seed, p["docs"], p["planted"], p["planted"])
        os.makedirs(f"{self.work}/in")
        self.path = f"{self.work}/in/corpus.parquet"
        gen.write_corpus(self.corpus, self.path)

    def setup(self, tracer) -> None:
        self.df = self.spark.read.parquet(self.path)
        self.n_docs = len(self.corpus.ids)
        self.planted = set(self.corpus.exact_pairs) | set(self.corpus.near_pairs)

    def warmup(self, tracer) -> None:
        """The three ops once each, side by side: their first calls are
        dominated by query compilation and Python worker start-up. What
        the operators persist is released only once all three are done."""
        from concurrent.futures import ThreadPoolExecutor

        from slurm2sql_spark.operators.dedup import release_caches

        try:
            with ThreadPoolExecutor(3) as pool:
                for f in [pool.submit(op, tracer, False)
                          for op in (self._exact, self._minhash, self._winnow_pairs)]:
                    f.result()
        finally:
            release_caches()

    def round(self, index: int) -> list:
        """Each op twice: the ops are short and still speeding up from call
        to call, and one round is what a benchmark run times."""
        return [self._exact, self._minhash, self._winnow] * 2

    def _timed(self, tracer, layer, fn):
        with tracer.span(layer):
            t0 = time.perf_counter()
            out = fn()
            tracer.op(time.perf_counter() - t0, self.n_docs)
        return out

    def _exact(self, tracer, corrupt) -> None:
        from pyspark.sql import functions as F

        from slurm2sql_spark.operators.dedup import exact_dedup

        got = self._timed(tracer, "dedup.exact", lambda: exact_dedup(
            self.df, "id", "text").filter(F.col("n_dups") > 1)
            .select("keep_id", "n_dups").collect())
        if corrupt:
            got = got[1:]
        want = {a: 2 for a, _ in self.corpus.exact_pairs}
        expect({r.keep_id: r.n_dups for r in got} == want,
               "exact_dedup: duplicate groups differ from the planted ones")

    def _pairs(self, tracer, corrupt, layer, fn) -> int:
        """Time ``fn``'s pair list, check it holds every planted pair and
        return how many pairs it found."""
        got = self._timed(tracer, layer, lambda: fn().select("id_a", "id_b").collect())
        pairs = {(r.id_a, r.id_b) for r in got}
        found = len(pairs)
        if corrupt:
            pairs.discard(min(self.planted))
        missing = self.planted - pairs
        expect(not missing, f"{layer}: {len(missing)} planted pairs not recovered")
        return found

    def _minhash(self, tracer, corrupt) -> None:
        from slurm2sql_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_near_dup_pairs,
        )

        verified = self._pairs(tracer, corrupt, "dedup.minhash",
                               lambda: minhash_near_dup_pairs(self.df, "id", "text"))
        if tracer.enabled:
            cand = minhash_lsh_pairs(self.df, "id", "text").count()
            self.layer_metrics["dedup.candidate_pairs"] = cand
            self.layer_metrics["dedup.verified_per_candidate"] = verified / cand

    def _winnow_pairs(self, tracer, corrupt) -> None:
        from slurm2sql_spark.operators.dedup import winnow_overlap_pairs

        self._pairs(tracer, corrupt, "dedup.winnow",
                    lambda: winnow_overlap_pairs(self.df, "id", "text"))

    def _winnow(self, tracer, corrupt) -> None:
        from slurm2sql_spark.operators.dedup import release_caches

        try:
            self._winnow_pairs(tracer, corrupt)
        finally:
            # the operators persist shingles and postings; release them so
            # rounds do not accumulate cached frames
            release_caches()


WORKLOADS = {w.name: w for w in (SacctHistory, DedupCuration)}
