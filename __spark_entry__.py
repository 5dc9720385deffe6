"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` are generated from the engine's query
catalog (slurm2sql_spark/catalog.py): one entry per implemented operator
from SURVEY.md §2, each paired with a DuckDB oracle twin where the
semantics are SQL-expressible.

Gate order. The round driver snapshots only the first 50 ``queries()``
entries into CORRECTNESS_r{N}.json, so the shim lists the catalog in
gate-priority order (the catalog itself stays in registration order):
the ``_PINNED`` names first, then every other entry stalest-first by
the last round that gated it (never-gated first, ties by registration
order), read once from the CORRECTNESS_r*.json files beside this shim.
The window self-rotates whenever a new CORRECTNESS file lands;
tests/test_gate_order.py pins the staleness policy, and
tests/test_oracle_parity.py checks every oracled entry against DuckDB
whatever its position.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from slurm2sql_spark.catalog import QUERIES

#: Entries that gate every round regardless of staleness. Keep this
#: short: every pinned slot is one fewer staleness slot in the window.
_PINNED = (
    # rows-only: the driver's rows-only check is its only gate
    "dedup_simhash_fast",
    # churned code or oracle SQL, re-gated on churn
    "heavy_hitters_protocol",
    "lang_classifier_cross",
    "lang_classifier",
    "lang_mix_trained",
    "lang_classifier_frozen",
    "incremental_refresh",
)


def _gate_history() -> tuple[dict[str, int], int]:
    """(last gated round per entry, newest round on disk) from the
    CORRECTNESS_r*.json files beside this shim."""
    root = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    latest = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (ValueError, OSError):
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last, latest


def _gate_order(last: dict[str, int]) -> list[str]:
    pinned = [n for n in _PINNED if n in QUERIES]
    rest = [n for n in QUERIES if n not in pinned]
    # sorted() is stable: ties keep registration order
    return pinned + sorted(rest, key=lambda n: last.get(n, 0))


@functools.cache
def _order() -> list[str]:
    return _gate_order(_gate_history()[0])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesized sacct strings -> full ingest transform ->
    eff per-job efficiency rollup, at sf0.001."""
    return QUERIES["sacct_eff"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].spark for name in _order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _order()
        if QUERIES[name].oracle is not None
    }
