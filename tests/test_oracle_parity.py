"""In-repo Spark-vs-DuckDB oracle parity, independent of the driver.

Two gaps this closes (VERDICT/ADVICE r8):

1. The round driver snapshots only the first 50 ``queries()`` entries,
   so an entry outside that window would otherwise rely entirely on
   the judge's external ``tools/check_oracle.py`` re-run.
   ``test_gate_tail_oracle_parity`` runs the same compare here for
   EVERY oracled entry, wherever the rotation puts it, at **sf0.01 —
   the driver's own scale and data regime** (r10, VERDICT r9 #8: the
   sf0.001 corpus has shipped different timestamp physical types,
   exactly where a silent divergence would hide) — so a regression
   fails the suite, not just the re-run. Parametrized per entry so
   one failure doesn't mask the rest. (The test keeps its historical
   name, from when it covered only the entries past the window, so
   its ids stay stable.)

2. The testdata corpus contains no carriage returns, so a whitespace-
   class mismatch between the Spark tokenizer (``WS_RE2 =
   '[ \\t\\n\\r\\f]+'``) and an oracle's embedded class is invisible
   to the driver gate (ADVICE r8: a literal class missing ``\\r``
   flipped keep decisions for CR-bearing docs).
   ``test_quality_filter_oracle_parity_cr_docs`` runs BOTH engines on
   a synthetic documents table whose texts contain \\r, \\r\\n, and
   \\f and compares full rows.
"""

from __future__ import annotations

import math

import duckdb
import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def _table(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)


def _compare(spark_df, con, sql, name):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    o_cols = rel.columns
    o_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(o_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(o_rows), f"{name}: row count mismatch"
    st, ot = _table(s_rows, s_cols), _table(o_rows, o_cols)
    if st != ot:
        diff = next(i for i, (a, b) in enumerate(zip(st, ot)) if a != b)
        raise AssertionError(
            f"{name}: value mismatch at sorted row {diff}:\n"
            f"  spark:  {st[diff]!r}\n  oracle: {ot[diff]!r}"
        )


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _oracled_names():
    from slurm2sql_spark import catalog

    return [n for n, s in catalog.QUERIES.items() if s.oracle is not None]


@pytest.fixture(scope="module")
def duck_sf001():
    con = _duck("/root/testdata/sf0.01")
    yield con
    con.close()


@pytest.mark.parametrize("name", _oracled_names())
def test_gate_tail_oracle_parity(spark, duck_sf001, name):
    """Every oracled entry keeps automated oracle-parity coverage
    in-repo, at the driver's own sf0.01 scale, whether or not the gate
    rotation puts it inside the driver's 50-row window."""
    from slurm2sql_spark import catalog

    spec = catalog.QUERIES[name]
    _compare(
        spec.spark(spark, "/root/testdata/sf0.01"), duck_sf001, spec.oracle, name
    )


def test_oracle_whitespace_classes_are_canonical():
    """ADVICE r14 #4: a tokenizer class in a generated oracle carried
    ``[ \\t\\n\\n\\x0c]`` — \\r missing, \\n doubled — diverging from
    the engine's ``WS_RE2 = [ \\t\\n\\r\\f]+`` for CR-bearing docs.
    Pin it catalog-wide: every word-split whitespace class (the ones
    opening with ``[ `` — paragraph splitters open with \\n and are
    exempt) in every oracle must be exactly the canonical class,
    whether spelled with RE2 escapes or literal control characters."""
    import re

    from slurm2sql_spark import catalog

    canonical = {frozenset(" \t\n\r\f")}
    seen = 0
    for name, spec in catalog.QUERIES.items():
        if not spec.oracle:
            continue
        for m in re.finditer(r"'(\[ [^\]]*\])\+?'", spec.oracle):
            cls = m.group(1)[1:-1]
            # normalize RE2 escapes to the characters they match
            chars = re.sub(
                r"\\([tnrf])",
                lambda g: {"t": "\t", "n": "\n", "r": "\r", "f": "\f"}[
                    g.group(1)
                ],
                cls,
            )
            chars = chars.replace("\\x0c", "\f").replace("\\x0b", "\x0b")
            if "\t" not in chars:
                continue  # not a whitespace tokenizer class (e.g. '[ -]')
            assert frozenset(chars) in canonical, (
                f"{name}: non-canonical whitespace class {cls!r} "
                f"(chars {sorted(map(ord, set(chars)))})"
            )
            seen += 1
    assert seen >= 10, f"only {seen} classes scanned — pattern drifted?"


def test_quality_filter_oracle_parity_cr_docs(spark, tmp_path):
    """CR/CRLF/FF-bearing docs tokenize identically in both engines
    (ADVICE r8: the oracle's whitespace class must carry \\r)."""
    import pandas as pd

    from slurm2sql_spark import catalog

    base = (
        "the quick brown fox jumps over the lazy dog and that is "
        "a sentence with plenty of ordinary words to clear the "
        "minimum word count threshold for the gopher rules easily "
    )
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                base.replace(" ", "\r", 7) + "tail words here now",
                base.replace(" ", "\r\n", 5) + "tail words here now",
                base.replace(" ", "\f", 3) + "tail words here now",
                "short\rdoc",
            ],
            "lang": ["en"] * 4,
            "source": ["cr-test"] * 4,
            "n_chars": [0] * 4,
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(tmp_path / "documents.parquet")
    spec = catalog.QUERIES["quality_filter"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    out = spec.spark(spark, sf_dir)
    # the CR docs must actually tokenize: doc 1 has 7 CR separators
    row1 = {r["doc_id"]: r for r in out.collect()}[1]
    assert row1["n_words"] > 30  # \r split words, so the doc clears min
    _compare(out, con, spec.oracle, "quality_filter[cr-docs]")


def test_text_transforms_oracle_parity_planted_pii(spark, tmp_path):
    """The sf corpus carries almost no IBAN/IPv6/card matches, so the
    driver gate cannot exercise the r11 PII families on real hits
    (the same blind spot as the CR docs above). Both engines run the
    text_transforms entry on a corpus PLANTED with every family —
    including Luhn-valid vs Luhn-invalid cards and the card-vs-phone
    precedence — and must match row-for-row."""
    import pandas as pd

    from slurm2sql_spark import catalog

    texts = [
        "write to alice.b+test@mail.example.org about invoice "
        "DE89370400440532013000 or GB82WEST12345698765432 today",
        "nodes 2001:0db8:85a3:0000:0000:8a2e:0370:7334 and fe80::1 "
        "behind 10.0.0.1 answered",
        "charge 4111 1111 1111 1111 then 5500-0000-0000-0004 at "
        "the desk",
        "typo 4111 1111 1111 1112 and 5500-0000-0000-0005 stay; "
        "call +1(555)123-4567 instead",
        " ".join(f"w{i}" for i in range(130)),  # multi-chunk doc
        "plain words only here",
    ]
    docs = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["pii-test"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    sf_dir = str(tmp_path)
    docs.to_parquet(tmp_path / "documents.parquet")
    spec = catalog.QUERIES["text_transforms"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    out = spec.spark(spark, sf_dir)
    rows = {r["id"]: r for r in out.collect()}
    # every planted family redacted (and only the Luhn-valid cards)
    assert rows[0]["n_iban"] == 2 and "[IBAN]" in rows[0]["chunk_text"]
    assert rows[1]["n_ipv6"] == 2 and rows[1]["n_ipv4"] == 1
    assert rows[2]["n_credit_card"] == 2
    assert "[CREDIT_CARD]" not in rows[3]["chunk_text"]
    assert "[PHONE]" in rows[3]["chunk_text"]
    _compare(out, con, spec.oracle, "text_transforms[planted-pii]")
