"""Seeded input generators for the benchmark workloads.

Everything here is pure Python over ``random.Random(seed)``: the same
seed gives byte-identical files, and every fact a workload checks its
outputs against (row counts, planted malformed lines, planted duplicate
pairs) is recorded while the files are written. The engine under test
only ever sees the files.

- ``SacctHistory``: raw ``sacct -P --delimiter=';|;'`` dumps of a run of
  day windows. Jobs carry ``.batch``/``.extern``/``.N`` steps, array
  (``N_k``) and heterogeneous (``N+k``) JobIDs and TRES strings. Some jobs
  span midnight, so they appear RUNNING in one day's dump and finished in
  the next. A fixed number of records per day have a newline inside
  ``JobName``; both physical halves of such a record are malformed lines.
- ``dedup_corpus``: a document corpus with planted exact duplicates
  (whitespace-only variants) and planted one-token-edit near duplicates.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

DELIM = ";|;"
DAY_S = 86400
#: first day of every generated history (a Monday, UTC)
EPOCH0 = int(dt.datetime(2026, 1, 5, tzinfo=dt.timezone.utc).timestamp())

#: the ``sacct -o`` field list the dumps carry, in output order
SACCT_FIELDS = (
    "JobID", "JobIDRaw", "JobName", "User", "Group", "Account", "SubmitLine",
    "State", "Timelimit", "Elapsed", "Submit", "Start", "End", "Partition",
    "ExitCode", "NodeList", "Priority", "ReqNodes", "NNodes", "AllocNodes",
    "ReqTRES", "NTasks", "AllocTRES", "TRESUsageInTot", "TRESUsageOutTot",
    "NCPUS", "ReqCPUS", "AllocCPUS", "CPUTime", "TotalCPU", "UserCPU",
    "SystemCPU", "MinCPU", "MinCPUNode", "MinCPUTask", "ReqMem", "AveRSS",
    "MaxRSS", "MaxRSSNode", "MaxRSSTask", "MaxPages", "MaxVMSize",
    "AveDiskRead", "AveDiskWrite", "MaxDiskRead", "MaxDiskWrite", "Comment",
    "ConsumedEnergyRaw", "TRESUsageInAve",
)
HEADER = DELIM.join(SACCT_FIELDS)

_FINAL_STATES = (
    ("COMPLETED", "0:0", 70),
    ("FAILED", "1:0", 12),
    ("CANCELLED by 1234", "0:15", 8),
    ("TIMEOUT", "0:1", 6),
    ("OUT_OF_MEMORY", "0:125", 4),
)
_EXIT = {s: code for s, code, _ in _FINAL_STATES}
_PARTITIONS = ("batch", "short", "gpu")


def _deck(rng: random.Random, n: int, shares: dict) -> list:
    """``n`` values in the given integer shares (largest remainder),
    shuffled."""
    total = sum(shares.values())
    counts = {v: n * w // total for v, w in shares.items()}
    by_remainder = sorted(shares, key=lambda v: -(n * shares[v] % total))
    for v in by_remainder[: n - sum(counts.values())]:
        counts[v] += 1
    deck = [v for v, c in counts.items() for _ in range(c)]
    rng.shuffle(deck)
    return deck


def ts(epoch: int) -> str:
    """Epoch seconds -> sacct's ``%Y-%m-%dT%H:%M:%S`` (UTC)."""
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )


def day_of(epoch: int) -> str:
    """The ``day`` partition value the ingest derives from ``Time``."""
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc).strftime("%Y-%m-%d")


def slurm_duration(s: int) -> str:
    d, rem = divmod(int(s), DAY_S)
    h, rem = divmod(rem, 3600)
    m, sec = divmod(rem, 60)
    return f"{d}-{h:02d}:{m:02d}:{sec:02d}" if d else f"{h:02d}:{m:02d}:{sec:02d}"


@dataclass
class Row:
    """One sacct record (allocation or step) with the facts checks need."""

    job_id: str
    job_key: str  # JobIDnostep: the eff-view grouping key
    user: str
    state: str  # state as of the dump it is written to
    start: int
    end: int | None  # None while running
    fields: dict = field(repr=False)


@dataclass
class Job:
    key: str  # JobIDnostep, e.g. "1042", "1042_3"; het components share it
    user: str
    account: str
    partition: str
    ncpus: int
    mem_g: int
    gpus: int
    submit: int
    start: int
    end: int
    state: str
    exit_code: str
    ids: list  # (JobID, JobIDRaw) of each allocation row (het: several)
    n_srun_steps: int
    split: bool = False  # JobName holds a newline: every line malformed

    def rows(self, at: int) -> list[Row]:
        """The job's records as a dump taken at epoch ``at`` shows them."""
        running = self.end > at
        state = "RUNNING" if running else self.state
        end = None if running else self.end
        elapsed = (at if running else self.end) - self.start
        gpu_tres = f",gres/gpu={self.gpus},gres/gpu:a100={self.gpus}" if self.gpus else ""
        alloc_tres = f"billing={self.ncpus},cpu={self.ncpus},mem={self.mem_g}G,node=1{gpu_tres}"
        out = []
        for jid, raw in self.ids:
            name = f"job{jid}\nsplit" if self.split else f"job{jid}"
            base = dict(
                JobID=jid, JobIDRaw=raw, JobName=name, User=self.user,
                Group=self.user, Account=self.account,
                SubmitLine=f"sbatch --cpus={self.ncpus} run.sh",
                State=state, Timelimit=slurm_duration(2 * DAY_S),
                Elapsed=slurm_duration(elapsed), Submit=ts(self.submit),
                Start=ts(self.start), End="Unknown" if running else ts(self.end),
                Partition=self.partition,
                ExitCode="0:0" if running else self.exit_code,
                NodeList="node[01-02]", Priority="4294", ReqNodes="1",
                NNodes="1", AllocNodes="1",
                ReqTRES=f"billing={self.ncpus},cpu={self.ncpus},mem={self.mem_g}G,node=1"
                + (f",gres/gpu={self.gpus}" if self.gpus else ""),
                AllocTRES=alloc_tres, NCPUS=str(self.ncpus),
                ReqCPUS=str(self.ncpus), AllocCPUS=str(self.ncpus),
                CPUTime=slurm_duration(elapsed * self.ncpus),
                TotalCPU="" if running else slurm_duration(elapsed * self.ncpus * 0.6),
                ReqMem=f"{self.mem_g}G",
            )
            out.append(Row(jid, self.key, self.user, state, self.start, end, base))
            if self.split:
                continue
            steps = ["batch", "extern"] + [str(i) for i in range(self.n_srun_steps)]
            for i, step in enumerate(steps):
                # srun steps run back to back inside the allocation; the
                # batch/extern steps cover all of it
                if step in ("batch", "extern"):
                    s_start, s_end = self.start, self.end
                else:
                    span = (self.end - self.start) // (self.n_srun_steps + 1)
                    s_start = self.start + (i - 2) * span
                    s_end = s_start + span
                s_running = s_end > at
                s_el = (at if s_running else s_end) - s_start
                s_state = "RUNNING" if s_running else (
                    "COMPLETED" if step == "extern" else state)
                mem_k = self.mem_g * 1024 * 700
                usage = "" if s_running else (
                    f"cpu={slurm_duration(s_el * self.ncpus * 0.6)},energy=0,"
                    f"fs/disk={s_el * 1000},mem={mem_k}K,pages=0,vmem={mem_k * 2}K"
                    + (f",gres/gpuutil={60 * self.gpus},gres/gpumem=4000M" if self.gpus else "")
                )
                out.append(Row(
                    f"{jid}.{step}", self.key, self.user, s_state, s_start,
                    None if s_running else s_end,
                    dict(
                        JobID=f"{jid}.{step}", JobIDRaw=f"{raw}.{step}",
                        JobName=step, Account=self.account, State=s_state,
                        Elapsed=slurm_duration(s_el), Submit=ts(s_start),
                        Start=ts(s_start),
                        End="Unknown" if s_running else ts(s_end),
                        ExitCode="0:0" if s_running or step == "extern" else self.exit_code,
                        NodeList="node01", ReqNodes="1", NNodes="1",
                        NTasks="1", AllocTRES=f"cpu={self.ncpus},mem={self.mem_g}G,node=1",
                        TRESUsageInTot=usage, TRESUsageInAve=usage,
                        TRESUsageOutTot="" if s_running else f"energy=0,fs/disk={s_el * 300}",
                        NCPUS=str(self.ncpus),
                        CPUTime=slurm_duration(s_el * self.ncpus),
                        TotalCPU="" if s_running else slurm_duration(s_el * self.ncpus * 0.6),
                        UserCPU="" if s_running else slurm_duration(s_el * self.ncpus * 0.5),
                        SystemCPU="" if s_running else slurm_duration(s_el * self.ncpus * 0.1),
                        AveRSS="" if s_running else f"{mem_k // 2}K",
                        MaxRSS="" if s_running else f"{mem_k}K",
                        MaxRSSNode="node01", MaxRSSTask="0", MaxPages="0",
                        MaxVMSize="" if s_running else f"{mem_k * 2}K",
                        AveDiskRead="1.5M", AveDiskWrite="0.5M",
                        MaxDiskRead="3M", MaxDiskWrite="1M",
                        ConsumedEnergyRaw="0",
                    ),
                ))
        return out


def _line(row: Row) -> str:
    return DELIM.join(row.fields.get(f, "") for f in SACCT_FIELDS)


@dataclass
class DumpFacts:
    """What one written dump holds."""

    path: str
    bytes: int
    lines: int  # physical lines after the header
    malformed: int  # physical lines that cannot parse (planted)
    rows: list  # well-formed Row records, in file order


class SacctHistory:
    """A seeded multi-day job history.

    ``days`` consecutive UTC days starting at ``EPOCH0``; ``jobs_per_day``
    jobs start in each. A share of them start late and end after the next
    midnight; ``split_per_day`` single-row jobs per day carry a newline in
    ``JobName``. ``now`` (the end of the last day) is the fixed "current
    time" the ingest passes to the transform, so running rows land in the
    ``day(now)`` partition.
    """

    def __init__(self, seed: int, days: int, jobs_per_day: int,
                 split_per_day: int = 2, n_users: int = 40):
        rng = random.Random(seed)
        self.days = days
        self.now = EPOCH0 + days * DAY_S
        self.users = [f"u{i}" for i in range(n_users)]
        self.jobs: list[Job] = []
        next_id = 1000 + rng.randrange(1000)
        for d in range(days):
            day0 = EPOCH0 + d * DAY_S
            # fixed shares, shuffled: the seed decides which jobs are
            # arrays, span midnight, ... but not how many, so every seed
            # gives a day of the same size
            kinds = _deck(rng, jobs_per_day, {"plain": 80, "array": 15, "het": 5})
            spans = _deck(rng, jobs_per_day, {True: 8, False: 92})
            sruns = _deck(rng, jobs_per_day, {0: 50, 1: 25, 2: 25})
            gpus = _deck(rng, jobs_per_day, {0: 85, 1: 10, 2: 5})
            states = _deck(rng, jobs_per_day, {s: w for s, _, w in _FINAL_STATES})
            for j in range(jobs_per_day + split_per_day):
                split = j >= jobs_per_day
                if not split and spans[j]:
                    # starts in the last 3 h, ends in the first 6 h of the
                    # next day
                    start = day0 + DAY_S - rng.randrange(600, 3 * 3600)
                    end = day0 + DAY_S + rng.randrange(600, 6 * 3600)
                else:
                    start = day0 + rng.randrange(0, DAY_S - 4 * 3600)
                    end = start + rng.randrange(60, 4 * 3600)
                state = "COMPLETED" if split else states[j]
                kind = "plain" if split else kinds[j]
                jid = next_id
                next_id += 4
                if kind == "array":
                    comps = [(f"{jid}_{rng.randrange(1, 64)}", "", jid + 1)]
                elif kind == "het":
                    comps = [(str(jid), "+0", jid), (str(jid), "+1", jid + 1)]
                else:
                    comps = [(str(jid), "", jid)]
                n_gpus = 0 if split else gpus[j]
                self.jobs.append(Job(
                    key=comps[0][0], user=rng.choice(self.users),
                    account=f"proj{rng.randrange(8)}",
                    partition="gpu" if n_gpus else rng.choice(_PARTITIONS[:2]),
                    ncpus=rng.choice((1, 2, 4, 8, 16)),
                    mem_g=rng.choice((2, 4, 8, 16, 32)), gpus=n_gpus,
                    submit=start - rng.randrange(0, 3600), start=start,
                    end=end, state=state, exit_code=_EXIT[state],
                    ids=[(key + suffix, str(raw)) for key, suffix, raw in comps],
                    n_srun_steps=0 if split else sruns[j],
                    split=split,
                ))

    def _dump(self, path: str, jobs: list[Job], at: int) -> DumpFacts:
        lines = [HEADER]
        rows: list[Row] = []
        malformed = 0
        for job in jobs:
            for row in job.rows(at):
                text = _line(row)
                if job.split:
                    malformed += text.count("\n") + 1
                else:
                    rows.append(row)
                lines.append(text)
        data = ("\n".join(lines) + "\n").encode()
        with open(path, "wb") as fh:
            fh.write(data)
        return DumpFacts(path, len(data), len(data.splitlines()) - 1, malformed, rows)

    def write_window(self, lo: int, hi: int, path: str) -> DumpFacts:
        """Dump of the day windows ``[lo, hi)`` taken at the end of day
        ``hi - 1``: every job active in them, once, running ones still
        RUNNING. ``write_window(d, d + 1)`` is one day's dump."""
        t_lo, t_hi = EPOCH0 + lo * DAY_S, EPOCH0 + hi * DAY_S
        jobs = [j for j in self.jobs if j.start < t_hi and j.end >= t_lo]
        return self._dump(path, jobs, t_hi)


def partition_day(row: Row, now: int) -> str:
    """The ``day`` partition a row lands in (``Time`` = End, or ``now``
    while running)."""
    return day_of(now if row.end is None else row.end)


# --------------------------------------------------------------------------
# dedup corpus


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randrange(3, 9)))


@dataclass
class Corpus:
    ids: list
    texts: list
    exact_pairs: list  # (original id, duplicate id)
    near_pairs: list  # (original id, edited id)


def dedup_corpus(seed: int, n_docs: int, n_exact: int, n_near: int,
                 doc_words: tuple[int, int] = (50, 80)) -> Corpus:
    """``n_docs`` random documents over a 4000-word vocabulary, then
    ``n_exact`` copies that differ only in whitespace and ``n_near``
    copies with one token replaced (word 3-gram Jaccard >= 0.87, so both
    near-dup operators must find them). Ids are dense from 0; every
    planted copy gets a larger id than its original."""
    rng = random.Random(seed)
    vocab = sorted({_word(rng) for _ in range(4000)})
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(*doc_words)))
        for _ in range(n_docs)
    ]
    originals = rng.sample(range(n_docs), n_exact + n_near)
    exact_pairs, near_pairs = [], []
    for i, src in enumerate(originals):
        words = texts[src].split(" ")
        new_id = len(texts)
        if i < n_exact:
            k = rng.randrange(1, len(words))
            texts.append(" ".join(words[:k]) + "  " + " ".join(words[k:]) + " ")
            exact_pairs.append((src, new_id))
        else:
            k = rng.randrange(len(words))
            words[k] = rng.choice([w for w in vocab[:50] if w != words[k]])
            texts.append(" ".join(words))
            near_pairs.append((src, new_id))
    return Corpus(list(range(len(texts))), texts, exact_pairs, near_pairs)


def write_corpus(corpus: Corpus, path: str) -> int:
    """Write the corpus as a single parquet file; returns its size."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array(corpus.ids, pa.int64()), "text": corpus.texts}),
        path, compression="snappy",
    )
    return os.path.getsize(path)
