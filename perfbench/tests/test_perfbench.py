"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The generator tests are pure Python. The end-to-end tests run
``perfbench/run.py`` as a subprocess at ``--size tiny`` (under a minute
each: every run starts its own Spark session).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("sacct_history", "dedup_curation")


def _digests(seed: int, out: str) -> dict[str, str]:
    os.makedirs(out)
    h = gen.SacctHistory(seed, days=3, jobs_per_day=40)
    for d in range(3):
        h.write_window(d, d + 1, os.path.join(out, f"day{d}.txt"))
    h.write_window(0, 3, os.path.join(out, "all.txt"))
    gen.write_corpus(gen.dedup_corpus(seed, 100, 5, 5), os.path.join(out, "corpus.parquet"))
    return {
        f: hashlib.sha256(open(os.path.join(out, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(out))
    }


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _digests(7, str(tmp_path / "a"))
    b = _digests(7, str(tmp_path / "b"))
    c = _digests(8, str(tmp_path / "c"))
    assert a == b
    assert all(a[f] != c[f] for f in a)


def test_dump_facts_match_the_text(tmp_path):
    h = gen.SacctHistory(3, days=2, jobs_per_day=60, split_per_day=3)
    facts = h.write_window(1, 2, str(tmp_path / "d1.txt"))
    lines = open(facts.path).read().splitlines()
    n = len(gen.SACCT_FIELDS)
    assert lines[0] == gen.HEADER
    arity = [len(line.split(gen.DELIM)) for line in lines[1:]]
    assert facts.lines == len(arity)
    assert facts.malformed == sum(a != n for a in arity) == 2 * 3
    assert len(facts.rows) == sum(a == n for a in arity)
    # jobs that started before midnight and were RUNNING in day 0's dump
    # reappear finished in day 1's
    day0 = {r.job_id: r for r in h.write_window(0, 1, str(tmp_path / "d0.txt")).rows}
    replayed = [r for r in facts.rows if r.job_id in day0 and "." not in r.job_id]
    assert replayed and all(day0[r.job_id].end is None for r in replayed)
    assert all(r.end is not None for r in replayed)


def test_planted_duplicates():
    c = gen.dedup_corpus(5, 300, 10, 10)
    assert len(c.texts) == 320
    for a, b in c.exact_pairs:
        assert a < b and c.texts[a].split() == c.texts[b].split()
        assert c.texts[a] != c.texts[b]
    for a, b in c.near_pairs:
        wa, wb = c.texts[a].split(), c.texts[b].split()
        assert a < b and len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) == 1


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ("0", "1"))
def test_workload_runs_end_to_end(workload, trace, tmp_path):
    r = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", trace, "--size", "tiny"))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    metrics = r["metrics"]
    if trace == "0":
        assert set(metrics) == set(run.END_TO_END)
        assert metrics["ok_ratio"]["value"] == 1.0
        assert all(m["value"] > 0 for m in metrics.values())
    else:
        assert set(metrics) == set(run.PER_LAYER)
        assert metrics["trace.op_s_p50"]["value"] > 0
    if workload == "sacct_history" and trace == "1":
        # the malformed share is exactly the planted one (2 split records)
        day = gen.SacctHistory(3, days=2, jobs_per_day=20)
        facts = day.write_window(1, 2, str(tmp_path / "day1.txt"))
        assert metrics["sources.malformed_ratio"]["value"] == facts.malformed / facts.lines
        for m in ("sinks.upsert_s", "cli.seff_s", "views.rollup_s",
                  "sinks.table_bytes_per_input_byte", "spark.sinks.upsert.stages"):
            assert metrics[m]["value"] > 0, m
    if workload == "dedup_curation" and trace == "1":
        for m in ("dedup.minhash_s", "dedup.winnow_s", "dedup.candidate_pairs",
                  "spark.dedup.winnow.tasks"):
            assert metrics[m]["value"] > 0, m


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_caught(workload):
    r = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--size", "tiny", "--corrupt"))
    assert not r["correct"]
    assert r["failed"] >= 1
    assert r["metrics"]["ok_ratio"]["value"] < 1.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = _run("--workload", "sacct_history", "--seed", "1", "--seconds", "1",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
