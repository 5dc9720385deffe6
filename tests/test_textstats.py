"""Text analysis operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_text_profile(spark):
    from slurm2sql_spark.operators.textstats import text_profile

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog is that"),
            (2, "el gato que se sienta en la alfombra y los perros"),
            (3, "xyzzy plugh plover"),
            (4, "le chat est sur les toits et un chien"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text_profile(df, "doc_id", "text").collect()}
    assert rows[1]["lang_pred"] == "en"
    assert rows[2]["lang_pred"] == "es"
    assert rows[3]["lang_pred"] == "und"
    assert rows[4]["lang_pred"] == "fr"
    assert rows[1]["n_tokens"] == 11
    assert rows[1]["n_distinct_tokens"] == 9
    assert 0.0 < rows[1]["quality"] <= 1.0
    # fingerprint invariant to order/duplication
    df2 = spark.createDataFrame(
        [(1, "cat the sat on mat and dog is that the the")],
        "doc_id long, text string",
    )
    fp1 = rows[1]["fingerprint"]
    fp2 = text_profile(df2, "doc_id", "text").collect()[0]["fingerprint"]
    assert fp1 == fp2


def test_quality_monotonic_noise(spark):
    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.textstats import quality_score

    df = spark.createDataFrame(
        [("clean text with several words here",), ("n0i5y ### t3xt @@@ 1234 !!!",)],
        "text string",
    )
    vals = [r[0] for r in df.select(quality_score(F.col("text"))).collect()]
    assert vals[0] > vals[1]


def test_bpe_token_count_segmentation(spark):
    """Pinned segmentation: contractions split, punctuation runs and
    digit runs are single segments, whitespace excluded by default."""
    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.textstats import bpe_token_count

    cases = {
        # don | ' t  + it | ' s : contraction suffixes are own segments
        "I don't think it's fine.": 8,
        # x | SP= | SPf | ( | 3 | . | 14 | ) : mixed code text
        "x = f(3.14)": 8,
        # digit run + letter run split at the boundary
        "123abc": 2,
        "": 0,
    }
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i long, s string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", bpe_token_count(F.col("s")).alias("n")
        ).collect()
    }
    for i, (s, want) in enumerate(cases.items()):
        assert got[i] == want, (s, got[i], want)

    # single spaces attach to the following token ("  a" = ws + " a"),
    # so only runs beyond one space produce whitespace segments
    df2 = spark.createDataFrame([("a  b",)], "s string")
    n, nws = df2.select(
        bpe_token_count(F.col("s")).alias("n"),
        bpe_token_count(F.col("s"), count_whitespace=True).alias("nws"),
    ).collect()[0]
    assert (n, nws) == (2, 3)


def test_scrub_pii_redacts_and_counts(spark):
    from slurm2sql_spark.operators.textstats import pii_counts, scrub_pii

    rows = [
        (1, "mail bob.smith+x@example.co.uk now"),
        (2, "server at 192.168.1.250 port"),
        (3, "call +1(555)123-4567 or 0123456789 today"),
        (4, "years 1995 2000 2010 are fine"),
        (5, "no pii here"),
        (6, "iban DE89370400440532013000 paid"),
        (7, "host 2001:0db8:85a3:0000:0000:8a2e:0370:7334 or fe80::1 up"),
        (8, "card 4111 1111 1111 1111 charged"),
        # Luhn-INVALID candidates survive (space form can't be a phone;
        # the dashed form falls through to the greedy phone pattern)
        (9, "bad 4111 1111 1111 1112 fails"),
        (10, "card 5500-0000-0000-0004 ok"),
        (11, "bad 5500-0000-0000-0005 here"),
        # r11 review: the same digits EMBEDDED in a longer run (no word
        # boundary -> not a candidate) must survive the fold untouched
        # while the standalone occurrence is redacted
        (12, "ref 94111111111111111 card 4111111111111111 end"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r.id: (
            r.clean, r.n_email, r.n_iban, r.n_ipv6, r.n_ipv4,
            r.n_credit_card, r.n_phone,
        )
        for r in df.select(
            "id", scrub_pii(F.col("text")).alias("clean"),
            *pii_counts(F.col("text")),
        ).collect()
    }
    assert out[1] == ("mail [EMAIL] now", 1, 0, 0, 0, 0, 0)
    assert out[2] == ("server at [IPV4] port", 0, 0, 0, 1, 0, 0)
    assert out[3] == ("call [PHONE] or [PHONE] today", 0, 0, 0, 0, 0, 2)
    # number lists in prose are NOT phones
    assert out[4] == ("years 1995 2000 2010 are fine", 0, 0, 0, 0, 0, 0)
    assert out[5] == ("no pii here", 0, 0, 0, 0, 0, 0)
    # n_phone=1: the greedy (unanchored) phone shape also counts the
    # IBAN's digit run on the ORIGINAL text; the chain redacts the
    # IBAN first, so the scrub output never shows a phone
    assert out[6] == ("iban [IBAN] paid", 0, 1, 0, 0, 0, 1)
    assert out[7] == ("host [IPV6] or [IPV6] up", 0, 0, 2, 0, 0, 0)
    assert out[8] == ("card [CREDIT_CARD] charged", 0, 0, 0, 0, 1, 0)
    assert out[9] == ("bad 4111 1111 1111 1112 fails", 0, 0, 0, 0, 0, 0)
    # audit counts are independent: the dashed card ALSO matches the
    # phone shape, but the scrub chain redacts it as a card first
    assert out[10] == ("card [CREDIT_CARD] ok", 0, 0, 0, 0, 1, 1)
    assert out[11] == ("bad [PHONE] here", 0, 0, 0, 0, 0, 1)
    # the 17-digit reference (n_phone counts it) is NOT mangled by the
    # redaction of its embedded-lookalike standalone card
    assert out[12] == (
        "ref [PHONE] card [CREDIT_CARD] end", 0, 0, 0, 0, 1, 2
    )


def test_chunk_spans_windows(spark):
    from slurm2sql_spark.operators.textstats import chunk_spans

    text250 = " ".join(f"t{i}" for i in range(250))
    df = spark.createDataFrame(
        [(1, text250), (2, "a b c")], "doc_id long, text string"
    )
    out = {}
    for r in chunk_spans(df, "doc_id", "text", window=100, stride=80).collect():
        out.setdefault(r.id, []).append(r)
    c1 = sorted(out[1], key=lambda r: r.chunk_idx)
    assert [(r.tok_start, r.tok_end) for r in c1] == [(0, 100), (80, 180), (160, 250)]
    assert c1[0].chunk_text.startswith("t0 t1 ") and c1[0].chunk_text.endswith("t99")
    assert c1[2].chunk_text.endswith("t249")
    # short doc: one partial chunk
    c2 = out[2]
    assert len(c2) == 1 and (c2[0].tok_start, c2[0].tok_end) == (0, 3)
    assert c2[0].chunk_text == "a b c"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_spans(df, "doc_id", "text", window=0)


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """Winnowing guarantee: two docs sharing a substring of length
    >= w+k-1 (here 11) share at least one fingerprint, wherever the
    substring sits; plus the short-doc degradations."""
    from slurm2sql_spark.operators.textstats import winnow_fingerprints

    shared = "zqxjkvbwpmy"  # 11 chars = w+k-1 for k=8, w=4
    df = spark.createDataFrame(
        [
            (1, "aaaa " + shared + " bbbb cccc dddd"),
            (2, "eeee ffff gggg " + shared + " hhhh"),
            (3, "totally unrelated content here okay"),
            (4, "tiny"),          # shorter than one gram -> []
            (5, "ninechars"),     # 9 chars: grams but < one window
            (6, None),            # NULL text -> NULL fingerprints
        ],
        "id int, text string",
    )
    out = {
        r["id"]: r["fps"]
        for r in winnow_fingerprints(df, "text", out_col="fps").collect()
    }
    assert set(out[1]) & set(out[2]), "shared 11-char substring must collide"
    assert not set(out[1]) & set(out[3])
    assert out[4] == []
    assert len(out[5]) == 1  # global-min degradation
    assert out[6] is None
    for fps in (out[1], out[2]):
        assert fps == sorted(set(fps))  # sorted distinct contract


def test_winnow_kernels_pair_equality(spark):
    """winnow_overlap_pairs must recover exactly the planted near-dup
    pairs (an appended edit, a one-word swap) and no pair between
    unrelated docs."""
    from slurm2sql_spark.operators.dedup import winnow_overlap_pairs

    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "played on and the crowd cheered loudly into the night air"
    )
    other = (
        "completely different subject matter entirely: glaciers carve "
        "valleys over millennia depositing moraines along their flanks"
    )
    rows = [
        (1, base),
        (2, base + " with a small appended edit"),      # near-dup of 1
        (3, other),
        (4, other.replace("glaciers", "rivers")),        # near-dup of 3
        (5, "short unrelated filler text about cooking pasta at home"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = winnow_overlap_pairs(
        df, "doc_id", "text", k=8, w=4, threshold=0.35
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2), (3, 4)}


def test_winnow_md5_kernel_matches_duckdb_on_vertical_tab(spark):
    r"""RE2's \s is [\t\n\f\r ] — it does NOT match \x0b (vertical
    tab), while Python's re.ASCII \s does. The md5 kernel must use the
    explicit RE2 class so texts containing \x0b fingerprint identically
    to the DuckDB oracle (ADVICE r6)."""
    import duckdb

    text = "alpha\x0bbeta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    from slurm2sql_spark.operators.textstats import winnow_fingerprints

    got = winnow_fingerprints(df, "text", out_col="fps").collect()[0]["fps"]

    want = duckdb.sql(
        r"""
        WITH t AS (
          SELECT regexp_replace(lower(?), '\s+', ' ', 'g') AS s
        ), h AS (
          SELECT length(s) - 8 + 1 AS ng,
                 list_transform(range(1, length(s) - 8 + 2),
                   i -> ('0x' || substr(md5(substr(s, i::INT, 8)), 1, 8))::BIGINT
                 ) AS hashes
          FROM t
        )
        SELECT CASE WHEN ng < 1 THEN []::BIGINT[]
                    WHEN ng < 4 THEN [list_aggregate(hashes, 'min')]
                    ELSE list_sort(list_distinct(list_transform(
                           range(1, ng - 4 + 2),
                           j -> list_aggregate(
                                  list_slice(hashes, j::INT, (j + 3)::INT),
                                  'min')
                         ))) END AS fps
        FROM h
        """,
        params=[text],
    ).fetchone()[0]
    assert got == want


def test_doc_frequency_topk_tiebreak_and_distinct_per_doc(spark):
    """A term repeated inside one doc counts once (document frequency,
    not term frequency); ties cut deterministically by term."""
    from slurm2sql_spark.operators.textstats import doc_frequency_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry cherry"),
            (3, "banana cherry"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    got = [(r["term"], r["n_docs"]) for r in doc_frequency_topk(df, "text", k=2).collect()]
    # apple/banana/cherry all df=2 -> ties break alphabetically
    assert got == [("apple", 2), ("banana", 2)]


def test_tfidf_top_terms_formula_and_plan(spark):
    """Pinned smoothed-TF-IDF semantics on a tiny corpus plus the plan
    contract: the document-frequency and corpus-count joins must be
    broadcasts (no shuffle join on the corpus side)."""
    import math

    from slurm2sql_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        "doc_id int, text string",
    )
    out = tfidf_top_terms(df, "doc_id", "text", k=2)
    rows = {(r["id"], r["term"]): (r["tfidf"], r["rk"]) for r in out.collect()}

    def want(tf, dft, n=3, q=1e6):
        return math.floor(tf * (math.log((n + 1) / (dft + 1)) + 1) * q + 1e-3) / q

    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert rows[(1, "apple")] == (want(2, 1), 1)
    assert rows[(1, "banana")] == (want(1, 2), 2)
    # doc 3: cherry tf=3 df=2 beats durian tf=1 df=1
    assert rows[(3, "cherry")] == (want(3, 2), 1)
    assert rows[(3, "durian")] == (want(1, 1), 2)
    assert all(rk <= 2 for _, rk in rows.values())

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_textstats_persisted_frames_warn_past_bound(spark, monkeypatch):
    """tfidf_top_terms pins its tf frame per call; direct library use
    without release_caches() must warn once the registry grows past the
    bound (same contract as dedup._persist)."""
    import warnings

    from slurm2sql_spark.operators import textstats

    monkeypatch.setattr(textstats, "_PERSISTED", [])
    monkeypatch.setattr(textstats, "_PERSISTED_WARN", 3)
    df = spark.createDataFrame([(1, "a b c")], "id int, text string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for _ in range(3):
            textstats.tfidf_top_terms(df, "id", "text", k=1)
    assert any(issubclass(x.category, ResourceWarning) for x in w)
    assert len(textstats._PERSISTED) == 3
    textstats.release_caches()
    assert not textstats._PERSISTED


def test_lang_oracle_null_text_parity(spark):
    """ADVICE r7: with NULL text every stopword hit count is NULL, so the
    oracle's greatest() CASE must fall to 'und' (matching engine
    lang_id), not through to the ELSE branch."""
    import duckdb

    from slurm2sql_spark import catalog
    from slurm2sql_spark.operators.textstats import lang_id

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, CAST(NULL AS VARCHAR), 'web'), (2, 'the of and to', 'web')"
        ") t(doc_id, text, source)"
    )
    prof = con.execute(catalog.QUERIES["text_profile"].oracle).df()
    by_id = dict(zip(prof["doc_id"], prof["lang_pred"]))
    assert by_id[1] == "und" and by_id[2] == "en"
    mix = con.execute(catalog.QUERIES["source_lang_mix"].oracle).df()
    assert set(zip(mix["source"], mix["lang_pred"])) == {
        ("web", "und"),
        ("web", "en"),
    }
    # engine side agrees on NULL
    eng = (
        spark.createDataFrame([(None,)], "text string")
        .select(lang_id(F.col("text")).alias("lang"))
        .first()["lang"]
    )
    assert eng == "und"


def test_doc_repetition_metrics(spark):
    """Within-doc repetition semantics: dup fractions count occurrences
    beyond each distinct paragraph's first; char share weighs by
    paragraph length; top_word_share is the max-word frequency."""
    from slurm2sql_spark.operators.textstats import doc_repetition

    docs = spark.createDataFrame(
        [
            # 3 paras: "aa bb" x2 (5 chars each) + "cc" (2 chars)
            (1, "aa bb\n\nAA  BB\n\ncc"),
            # all distinct
            (2, "xx\n\nyy"),
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in
            doc_repetition(docs, "doc_id", "text").collect()}
    r1 = rows[1]
    assert r1["n_paras"] == 3
    assert abs(r1["dup_para_frac"] - 1 / 3) < 1e-9
    assert abs(r1["dup_para_char_share"] - 5 / 12) < 1e-9
    # words: aa x2, bb x2, cc x1 -> top 2/5
    assert abs(r1["top_word_share"] - 2 / 5) < 1e-9
    r2 = rows[2]
    assert r2["dup_para_frac"] == 0.0 and r2["dup_para_char_share"] == 0.0
    assert abs(r2["top_word_share"] - 0.5) < 1e-9


def test_quality_filter_rules(spark):
    """Each Gopher rule fires on a doc built to fail exactly that rule
    (plus a clean doc that passes all of them); NULL text is treated as
    empty and fails the word-count rule instead of going NULL."""
    from slurm2sql_spark.operators.textstats import quality_filter

    good = "the quick brown fox jumps over that lazy dog and it has " * 5
    docs = spark.createDataFrame(
        [
            (0, good),  # passes everything (55 words, all rules ok)
            (1, "the of short"),  # n_words < 50
            (2, "ab " * 60 + "the of"),  # mean_word_len < 3
            (3, good + " " + "# " * 10),  # symbol ratio > 0.1 via '#'
            (4, "\n".join(["- " + w for w in good.split()])),  # bullets
            (5, "\n".join([w + "..." for w in good.split()])),  # ellipsis
            (6, good + " " + "123 456 789 " * 20),  # alpha frac < 0.8
            (7, "zzzz yyyy xxxx qqqq " * 15),  # no stopword hit
            (8, None),  # NULL text -> empty -> n_words
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in quality_filter(docs, "doc_id", "text").collect()
    }
    assert out[0]["keep"] is True and out[0]["fail_reasons"] == ""
    assert out[1]["fail_reasons"] == "n_words"
    assert "word_len" in out[2]["fail_reasons"]
    assert out[3]["fail_reasons"] == "symbol"
    # bullet doc also trips symbol? no '#'/'...' -> just bullet (words
    # per line keep counts/lengths legal: '-' tokens drag mean length
    # down, so accept word_len alongside bullet)
    assert "bullet" in out[4]["fail_reasons"]
    assert "ellipsis" in out[5]["fail_reasons"]
    assert "alpha" in out[6]["fail_reasons"]
    assert out[7]["fail_reasons"] == "stopword"
    assert out[8]["keep"] is False
    assert "n_words" in out[8]["fail_reasons"]
    # thresholds are overridable (the catalog entry corpus-tunes these)
    tuned = {
        r["doc_id"]: r
        for r in quality_filter(
            docs, "doc_id", "text", min_words=2, min_stop_hits=1
        ).collect()
    }
    assert tuned[1]["keep"] is True


def test_quality_filter_plan_is_scan_stage(spark):
    """The whole rule set folds into one scan projection: no shuffle
    (Exchange) and no Python (BatchEvalPython) anywhere in the plan."""
    from slurm2sql_spark.operators.textstats import quality_filter

    docs = spark.createDataFrame([(1, "the a b")], "doc_id int, text string")
    plan = quality_filter(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_quality_filter_rejects_unknown_threshold(spark):
    from slurm2sql_spark.operators.textstats import quality_filter
    import pytest

    docs = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    with pytest.raises(ValueError, match="min_word"):
        quality_filter(docs, "doc_id", "text", min_word=5)


def test_quality_filter_keep_cols_passthrough(spark):
    """keep_cols carries extra columns (e.g. source, text) through the
    projection so compositions like corpus_report stay single-scan."""
    from slurm2sql_spark.operators.textstats import quality_filter

    docs = spark.createDataFrame(
        [(1, "the a b", "s1")], "doc_id int, text string, source string"
    )
    out = quality_filter(docs, "doc_id", "text", keep_cols=("source", "text"))
    assert "source" in out.columns and "text" in out.columns
    row = out.collect()[0]
    assert row["source"] == "s1" and row["text"] == "the a b"
    # default: no passthrough columns
    assert "source" not in quality_filter(docs, "doc_id", "text").columns


def test_c4_filter_line_and_page_rules(spark):
    """C4 rules (Raffel et al. 2020): line keeps need terminal
    punctuation + 3 words + no javascript; page drops on brace, lorem
    ipsum, bad words, and too few surviving lines — original bytes
    kept, reasons ordered."""
    from slurm2sql_spark.operators.textstats import c4_filter

    docs = spark.createDataFrame(
        [
            (1, "Good Sentence ONE stands here.\nno punct line\n"
                "Good sentence two stands here!\nGood sentence three?\n"
                "Please enable JavaScript now."),
            (2, "code { x }\nOne good sentence here now.\n"
                "Two good sentence here now.\nThree good sentence here now."),
            (3, "One good sentence here now.\nshort."),
            (4, "Has a damnword in text.\nTwo good sentence here now.\n"
                "Three good sentence here now."),
            (5, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in c4_filter(
            docs, "doc_id", "text", bad_words=("damnword",)
        ).collect()
    }
    assert out[1]["keep"] is True and out[1]["n_kept_lines"] == 3
    assert out[1]["text"].startswith("Good Sentence ONE")  # bytes kept
    assert "javascript" not in out[1]["text"].lower()
    assert out[2]["keep"] is False and out[2]["fail_reasons"] == "brace"
    assert out[3]["fail_reasons"] == "lines"
    assert out[4]["fail_reasons"] == "word:damnword"
    assert out[5]["keep"] is False and out[5]["text"] == ""
    plan = c4_filter(docs, "doc_id", "text")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan  # one scan-stage projection


def test_ngram_heavy_hitters_counts_total_occurrences(spark):
    """Heavy hitters count raw TOTALS (vocab_top_terms counts doc
    frequency): a bigram repeated within one doc outranks one spread
    across docs; tie-break is (count DESC, bigram ASC)."""
    from slurm2sql_spark.catalog import QUERIES
    import duckdb

    rows = [
        (1, "x y x y x y"),       # "x y" x3 (+ "y x" x2) in ONE doc
        (2, "a b"), (3, "a b"),   # "a b" x2 across docs
        (4, ""), (5, None),
    ]
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id int, text string"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = QUERIES["ngram_heavy_hitters"].spark(spark, d).collect()
    got = [(r["bigram"], r["n"]) for r in out]
    assert got[:3] == [("x y", 3), ("a b", 2), ("y x", 2)]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    oracle = con.sql(QUERIES["ngram_heavy_hitters"].oracle).fetchall()
    assert [(r[0], r[1]) for r in oracle] == got
    con.close()


def test_gram_hashes_batch_matches_per_gram_reference():
    r"""The r16 batch-deduplicated md5 gram hashing must be bit-equal
    to the one-md5-call-per-gram reference on every edge the kernels
    see: NULL text, shorter-than-one-gram, exactly-one-gram, repeated
    grams, \x00 bytes inside/ending a gram (the S-dtype trailing-NUL
    trap the uint64 view avoids), non-ASCII docs (fallback path), and
    a k != 8 call (generic fallback). No Spark needed — the helper is
    a plain function over a text batch."""
    import re

    import numpy as np

    from slurm2sql_spark.operators.textstats import (
        _gram_hashes_batch,
        _md5_ctor,
    )

    ws = re.compile(r"[ \t\n\r\f]+")
    md5 = _md5_ctor()
    _fb = int.from_bytes

    def ref(text, k):
        if text is None:
            return None
        t = ws.sub(" ", text.lower())
        ng = len(t) - k + 1
        if ng < 1:
            return []
        return [
            _fb(md5(t[i : i + k].encode()).digest()[:4], "big")
            for i in range(ng)
        ]

    texts = [
        None,
        "",
        "tiny",                       # < one gram
        "12345678",                   # exactly one gram
        "aaaaaaaaaaaaaaaaaa",         # maximal gram repetition
        "the quick brown fox jumps over the lazy dog",
        "embedded\x00null\x00bytes here",   # \x00 inside grams
        "ends with nul\x00\x00\x00\x00",     # \x00 at gram tails
        "ünïcode tëxt thät is nöt ascii at all",  # fallback path
        "white\tspace\ncollapse\fcheck\rhere",
        "the quick brown fox jumps over the lazy dog",  # dup doc
    ]
    for k in (8, 5):
        got = _gram_hashes_batch(list(texts), k, ws)
        want = [ref(t, k) for t in texts]
        assert len(got) == len(want)
        for g, w_ in zip(got, want):
            if w_ is None:
                assert g is None
            else:
                assert isinstance(g, np.ndarray) or len(w_) == 0
                assert list(g) == w_


def test_gram_hashes_batch_bounds_grams_per_round(monkeypatch):
    """Each np.unique round of the batch gram hashing holds at most
    _GRAMS_PER_ROUND grams, so memory per Arrow batch is bounded. With
    the cap cut to a few grams, a batch splits into many rounds (docs
    and single long docs span round edges) and every doc's hashes still
    equal the unsplit call's, NULL and short docs included."""
    import re

    import numpy as np

    from slurm2sql_spark.operators import textstats

    ws = re.compile(r"[ \t\n\r\f]+")
    texts = [
        "the quick brown fox jumps over the lazy dog",
        None,
        "tiny",
        "12345678",
        "aaaaaaaaaaaaaaaaaa",
        "ünïcode tëxt thät is nöt ascii",
        "the quick brown fox jumps over the lazy dog",
        "ends with nul\x00\x00\x00\x00",
    ]
    want = textstats._gram_hashes_batch(list(texts), 8, ws)

    rounds = []
    real_unique = np.unique

    def counting_unique(*a, **kw):
        rounds.append(len(a[0]))
        return real_unique(*a, **kw)

    monkeypatch.setattr(textstats, "_GRAMS_PER_ROUND", 5)
    monkeypatch.setattr(np, "unique", counting_unique)
    got = textstats._gram_hashes_batch(list(texts), 8, ws)
    monkeypatch.undo()

    assert len(rounds) > 1 and max(rounds) <= 5
    assert len(got) == len(want)
    for g, w_ in zip(got, want):
        if w_ is None:
            assert g is None
        else:
            assert list(g) == list(w_)
