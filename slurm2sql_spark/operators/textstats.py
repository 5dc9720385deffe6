"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting. Built-in-function expressions (JVM-side) with
one deliberate exception — winnowing (``winnow_fingerprints`` and its
positional variant) runs one md5 gram-hash kernel in Arrow-batched
pandas UDFs (see ``winnow_fingerprints`` for the measured
expression-form blowup) — and everything runs in the scan stage with
zero shuffles.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_stats",
    "bpe_token_count",
    "quality_score",
    "lang_id",
    "fingerprint",
    "winnow_fingerprints",
    "winnow_fingerprint_positions",
    "doc_frequency_topk",
    "tfidf_top_terms",
    "text_profile",
    "quality_filter",
    "c4_filter",
    "GOPHER_STOPWORDS",
    "QUALITY_DEFAULTS",
    "scrub_pii",
    "pii_counts",
    "chunk_spans",
    "doc_repetition",
    "PII_PATTERNS",
]

#: GPT-2-style pre-tokenizer pattern, restricted to the syntax shared by
#: Java regex (Spark) and RE2 (DuckDB/Go): no lookahead, unicode
#: category classes only. Splits contractions, letter runs, digit runs,
#: punctuation runs (each optionally space-prefixed), and whitespace
#: runs — the segmentation BPE vocabularies are trained over, so the
#: match count approximates "LLM tokens before merges" far better than
#: whitespace splitting does on code/punctuation-heavy text.
BPE_SPLIT_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^ \t\n\r\f\p{L}\p{N}]+"
    r"|[ \t\n\r\f]+"
)

# Tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Real deployments would swap in larger lists or a fastText-style model
# via a pandas UDF; the operator shape (score-per-language, argmax) is
# the same.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "y", "que", "en", "los", "se"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den"],
    "fr": ["le", "la", "les", "et", "de", "un", "est", "que"],
}

#: frames persisted by the operator modules (tfidf_top_terms here;
#: dedup, sampling, bpe and classifier reach the same registry through
#: ``dedup._persist``); released by release_caches(). Grows until the
#: caller releases — a long-lived library session calling the
#: persisting operators in a loop without release_caches() pins
#: executor/storage memory without bound, so _persist() warns past
#: _PERSISTED_WARN entries. Appends/pops are not synchronized; call
#: release_caches() from the thread that ran the jobs, not concurrently
#: with them.
_PERSISTED: list[DataFrame] = []
_PERSISTED_WARN = 32


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    if len(_PERSISTED) == _PERSISTED_WARN:
        import warnings

        warnings.warn(
            f"{_PERSISTED_WARN} frames pinned by operators without a "
            "release_caches() call — storage memory grows unboundedly "
            "in long-lived sessions; call "
            "slurm2sql_spark.operators.dedup.release_caches() (the same "
            "function as textstats.release_caches) between batches",
            ResourceWarning,
            stacklevel=3,
        )
    return df


def release_caches() -> None:
    """Unpersist every frame an operator persisted through ``_persist``."""
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:  # session may be gone
            pass


#: RE2-parity whitespace class: DuckDB/RE2 ``\s`` is exactly
#: [\t\n\f\r ], Java's \s adds \x0b — every tokenizer that faces a
#: DuckDB oracle uses the explicit class so texts containing \x0b
#: cannot tokenize differently across engines (same class the winnow
#: kernel and dedup._re2_tokens pin).
WS_RE2 = r"[ \t\n\r\f]+"


def tokens(c: Column) -> Column:
    """Whitespace tokenization (matching the oracle's string_split)."""
    return F.split(F.trim(c), WS_RE2)


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token counts and length statistics."""
    t = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def bpe_token_count(c: Column, count_whitespace: bool = False) -> Column:
    """Number of BPE-style pre-tokenizer segments in ``c`` (token-count
    estimation for LLM-pipeline budgeting).

    By default pure-whitespace segments are excluded (BPE merges them
    into adjacent tokens' space prefixes), so the count tracks
    vocabulary tokens. One JVM-side regexp pass, no UDF, no shuffle.
    """
    segs = F.regexp_extract_all(c, F.lit(f"({BPE_SPLIT_PATTERN})"), 1)
    if not count_whitespace:
        segs = F.filter(segs, lambda s: ~s.rlike(r"^[ \t\n\r\f]+$"))
    return F.size(segs)


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: rewards moderate doc length, token
    diversity, and low punctuation/digit noise. Deterministic and
    SQL-expressible (oracle twin in the catalog)."""
    t = tokens(text)
    n = F.size(t).cast("double")
    diversity = F.size(F.array_distinct(t)).cast("double") / F.nullif(n, F.lit(0.0))
    alpha_chars = F.length(F.regexp_replace(text, r"[^a-zA-Z ]", ""))
    alpha_ratio = alpha_chars.cast("double") / F.nullif(
        F.length(text).cast("double"), F.lit(0.0)
    )
    length_term = F.least(n / F.lit(64.0), F.lit(1.0))
    return length_term * diversity * alpha_ratio


def lang_id(text: Column) -> Column:
    """Stopword-hit language classifier: count distinct-token hits per
    language list, argmax with 'und' (undetermined) on zero hits.
    Ties break to the lexicographically last code (deterministic; the
    oracle mirrors ORDER BY hits DESC, code DESC)."""
    toks = F.array_distinct(tokens(F.lower(text)))
    scores = [
        F.struct(
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias("hits"),
            F.lit(code).alias("code"),
        )
        for code, words in sorted(STOPWORDS.items())
    ]
    # struct ordering compares (hits, code) field-by-field; sort asc +
    # reverse -> (hits DESC, code DESC), element 1 is the winner.
    arr = F.reverse(F.array_sort(F.array(*scores)))
    best = F.element_at(arr, 1)
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct
    token set — robust to token order and repetition (the
    rolling-hash-class dedup key)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.lower(text))))))


def _md5_ctor():
    """The md5 constructor for the winnow kernel: CPython's built-in
    ``_md5`` module when available — its constructor is ~3x cheaper
    than ``hashlib``'s OpenSSL-backed one (measured 82 vs 248 ns for a
    24-byte gram; the kernel calls it once per hashed gram, so
    constructor overhead IS the hash cost) — falling back to
    ``hashlib.md5``. Identical digests by definition."""
    try:
        from _md5 import md5
    except ImportError:  # pragma: no cover - non-CPython fallback
        from hashlib import md5
    return md5


#: Most grams one ``np.unique`` round of ``_gram_hashes_batch`` holds.
#: A round's transient arrays (gram matrix, sort copy, unique keys,
#: inverse index) cost ~32 B per gram, ~64 MB at this cap, whatever the
#: Arrow batch size; only the 8 B/gram output hashes outlive a round.
#: Above the 1.26M grams of the whole 3000-doc benchmark corpus, so a
#: batch of that size still deduplicates in one round.
_GRAMS_PER_ROUND = 1 << 21


def _gram_hashes_batch(texts, k: int, ws) -> list:
    """Per-gram md5 hash arrays for a whole Arrow batch of texts, with
    the md5 calls DEDUPLICATED batch-wide (optimization r16, guide
    §4.2 — hand whole batches to vectorized native code; VERDICT r15
    #3 named the per-gram Python md5 loop as the winnow families'
    residual wall).

    The md5-per-gram value CONTRACT is untouched — every gram still
    hashes as ``int(md5(gram_bytes).hexdigest()[:8], 16)``, the
    engine-portable idiom the DuckDB oracle recomputes — only the CALL
    COUNT drops: the k=8 ASCII docs' grams are cut into rounds of at
    most ``_GRAMS_PER_ROUND`` grams (a long doc may span rounds); each
    round concatenates into one (N, 8) uint8 matrix, ``np.unique`` over
    its uint64 view finds the distinct grams (bit-exact: the view is
    pure reinterpretation, no S8 trailing-NUL collapsing), md5 runs
    once per DISTINCT gram, and the inverse index scatters hashes back
    into per-doc arrays. Measured on the sf0.1 documents corpus: 18% of
    grams are distinct within a 156-doc kernel batch (the local fan-out
    grain), kernel wall 1.09 -> 0.63 s (tools/bench_winnow_kernel.py,
    bit-identical output asserted).

    Returns a list aligned with ``texts``: None for NULL text, an
    empty array for shorter-than-one-gram docs, else the int64 hash
    array in gram order. Non-ASCII or k != 8 docs take the original
    per-gram loop (same values; all catalog call sites use k=8).
    """
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    md5 = _md5_ctor()
    _fb = int.from_bytes
    empty = np.empty(0, np.int64)
    out = [None] * len(texts)
    views = []  # (j, (ng, 8) gram view) per k=8 ASCII doc
    for j, text in enumerate(texts):
        if text is None:
            continue
        t = ws.sub(" ", text.lower())
        ng = len(t) - k + 1
        if ng < 1:
            out[j] = empty
            continue
        if k == 8 and t.isascii():
            views.append(
                (j, sliding_window_view(np.frombuffer(t.encode(), np.uint8), 8))
            )
        elif t.isascii():
            tb = t.encode()
            out[j] = np.asarray(
                [_fb(md5(tb[i : i + k]).digest()[:4], "big") for i in range(ng)],
                np.int64,
            )
        else:
            out[j] = np.asarray(
                [
                    _fb(md5(t[i : i + k].encode()).digest()[:4], "big")
                    for i in range(ng)
                ],
                np.int64,
            )

    def hash_round(pieces) -> None:
        grams = np.concatenate([g for _, g in pieces], axis=0)
        uniq, inv = np.unique(grams.view(np.uint64).ravel(), return_inverse=True)
        # tobytes, not S8 tolist: S-dtype strips trailing NUL bytes,
        # which would truncate grams containing \x00 before hashing
        mv = memoryview(uniq.tobytes())
        uh = np.fromiter(
            (
                _fb(md5(mv[i : i + 8]).digest()[:4], "big")
                for i in range(0, 8 * len(uniq), 8)
            ),
            np.int64,
            len(uniq),
        )
        all_h = uh[inv]
        off = 0
        for parts, g in pieces:
            parts.append(all_h[off : off + len(g)])
            off += len(g)

    pieces, room = [], _GRAMS_PER_ROUND
    per_doc = []
    for j, g in views:
        parts = []
        per_doc.append((j, parts))
        while len(g):
            take, g = g[:room], g[room:]
            pieces.append((parts, take))
            room -= len(take)
            if room == 0:
                hash_round(pieces)
                pieces, room = [], _GRAMS_PER_ROUND
    if pieces:
        hash_round(pieces)
    for j, parts in per_doc:
        out[j] = parts[0] if len(parts) == 1 else np.concatenate(parts)
    return out


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    out_col: str = "fingerprints",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-fingerprinting scheme,
    Schleimer/Wilkerson/Aiken SIGMOD'03): hash every character k-gram,
    slide a window of ``w`` consecutive gram hashes, keep each window's
    minimum — the selected hashes are position-robust local
    fingerprints, guaranteed to share values for any match of length
    >= w+k-1 even across insertions/reorderings that break whole-doc
    digests like ``fingerprint``.

    Adds ``out_col`` (sorted distinct fingerprint set, array<bigint>).
    Engine-portable hashing (md5 hex-prefix over the UTF-8 k-gram, the
    ``hash_bucket`` idiom — the DuckDB oracle recomputes it exactly);
    this gram hash (``_gram_hashes_batch``) is the one winnowing kernel,
    shared with :func:`winnow_fingerprint_positions`.
    Shorter-than-one-window docs degrade to a single global-min
    fingerprint; docs shorter than one gram to an empty array; NULL
    text stays NULL.

    Shape notes: this is an Arrow-batched pandas kernel, NOT built-in
    expressions — the module-wide "no UDFs" rule stops here for the
    same reason ``dedup.shingles`` is an Arrow kernel: the expression
    form of winnowing (per-gram HOF lambdas + window slices over the
    hash array) gets re-inlined by CollapseProject into every consumer,
    and an ``explode`` downstream re-evaluated the whole O(len·w)
    pipeline PER FINGERPRINT — measured 158 s for 300 docs vs ~0.5 s
    for this kernel. One narrow Arrow pass per batch, zero shuffle.
    Feed the exploded (doc, fingerprint) pairs to an inverted-index
    join (the ``dedup.py`` shingle pattern) for corpus-level overlap
    detection — ``dedup.winnow_overlap_pairs`` does exactly that.
    """
    import re as _re

    @F.pandas_udf("array<bigint>")
    def _kernel(texts: pd.Series) -> pd.Series:
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        # Explicit class, not \s: RE2's \s (the DuckDB oracle) is
        # exactly [\t\n\f\r ], while Python's ASCII \s also matches
        # \x0b (vertical tab) and its Unicode \s adds U+00A0 etc. —
        # either would collapse characters the oracle keeps
        ws = _re.compile(r"[ \t\n\r\f]+")
        # int(hexdigest()[:8], 16) == first 4 digest bytes big-endian;
        # the per-gram md5 calls are deduplicated batch-wide (r16)
        out = []
        for arr in _gram_hashes_batch(texts, k, ws):
            if arr is None:
                out.append(None)
            elif len(arr) == 0:
                out.append([])
            elif len(arr) < w:
                out.append([int(arr.min())])
            else:
                out.append(
                    np.unique(
                        sliding_window_view(arr, w).min(axis=1)
                    ).tolist()
                )
        return pd.Series(out, index=texts.index)

    # asNondeterministic: the kernel IS deterministic; the mark stops
    # the optimizer cloning it below inferred Generate/Filter nodes and
    # the fan-out exchange, which ran the whole hash pass twice — once
    # nearly serial (guide §4.4; r15 plan audit: 2x ArrowEvalPython in
    # every downstream-explode consumer plan).
    return df.withColumn(
        out_col, _kernel.asNondeterministic()(F.col(text_col))
    )


def winnow_fingerprint_positions(
    df: DataFrame,
    text_col: str,
    out_col: str = "fingerprints",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Positional variant of :func:`winnow_fingerprints`: per window of
    ``w`` consecutive k-gram hashes, select the LEFTMOST minimal gram
    and keep its (position, hash) — the winnowing guarantee (any match
    of length >= w+k-1 shares a selected hash) holds exactly as for the
    value-set variant, but positions let a consumer locate and merge the
    matching SPANS (the ExactSubstr half of Lee et al. 2022, "Dedup-
    licating Training Data Makes Language Models Better" — public
    paper; ``dedup.exact_substring_spans`` is the consumer).

    Adds ``out_col``: sorted array<struct<pos:int, fp:bigint>> of
    distinct selected positions; ``pos`` is the 1-based gram start in
    the whitespace-collapsed lowercased text (1-based so the DuckDB
    oracle's ``list_position``/``substr`` arithmetic mirrors it
    directly). Leftmost-argmin (not classic winnowing's rightmost) for
    the same reason: DuckDB's ``list_position`` returns the FIRST
    occurrence, so both engines pick identical positions on ties.
    Same NULL/short-doc degradation and same Arrow-kernel-not-
    expressions rationale as :func:`winnow_fingerprints`.
    """
    import re as _re

    @F.pandas_udf("array<struct<pos:int,fp:bigint>>")
    def _kernel(texts: pd.Series) -> pd.Series:
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        ws = _re.compile(r"[ \t\n\r\f]+")
        # same md5 value contract as winnow_fingerprints: first 4
        # digest bytes big-endian == int(hexdigest()[:8], 16); the
        # per-gram md5 calls are deduplicated batch-wide (r16)
        out = []
        for arr in _gram_hashes_batch(texts, k, ws):
            if arr is None:
                out.append(None)
                continue
            ng = len(arr)
            if ng == 0:
                out.append([])
                continue
            if ng < w:
                i = int(arr.argmin())  # first-min == leftmost tie-break
                out.append([(i + 1, int(arr[i]))])
                continue
            # np.argmin returns the FIRST index of the window minimum —
            # exactly the leftmost tie-break window.index(min(window))
            # computed; unique(+offset) is the same selected-pos set
            picked = np.unique(
                sliding_window_view(arr, w).argmin(axis=1)
                + np.arange(ng - w + 1)
            )
            out.append([(int(i) + 1, int(arr[i])) for i in picked])
        return pd.Series(out, index=texts.index)

    # asNondeterministic: the kernel IS deterministic; the mark stops
    # the optimizer cloning it below inferred Generate/Filter nodes and
    # the fan-out exchange, which ran the whole hash pass twice — once
    # nearly serial (guide §4.4; r15 plan audit: 2x ArrowEvalPython in
    # every downstream-explode consumer plan).
    return df.withColumn(
        out_col, _kernel.asNondeterministic()(F.col(text_col))
    )


def doc_frequency_topk(
    df: DataFrame, text_col: str, k: int = 100
) -> DataFrame:
    """Top-``k`` vocabulary terms by DOCUMENT frequency (``term``,
    ``n_docs``) — the vocabulary-building / stopword-discovery pass of
    a training-data pipeline.

    Per-doc distinct tokens (so a term counts once per document), one
    map-side-combined count shuffle on the term key, and the top-k is
    a ``TakeOrdered`` (per-partition heaps + driver merge of k rows),
    not a global sort. Ties break by term so the cut is deterministic.
    """
    terms = df.select(
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "term")
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    quantize: int = 1_000_000,
) -> DataFrame:
    """Top-``k`` terms per document by smoothed TF-IDF
    (``tf * (ln((N+1)/(df+1)) + 1)`` — the sklearn ``smooth_idf``
    formula): the per-document keyword/relevance profile a filtering or
    retrieval pipeline reads. Returns ``(id, term, tfidf, rk)``.

    Scale shape: term frequencies are one map-side-combined groupBy on
    (doc, term); the document-frequency table derives from it (tiny —
    vocabulary-sized) and comes back as a BROADCAST join, as does the
    1-row corpus count, so the only per-corpus shuffles are the tf
    aggregation and the per-doc top-k window (bounded by document
    length, no skew beyond the longest doc). ``quantize`` floors the
    score to 1/q steps BEFORE ranking so cross-engine libm ULP noise
    in ``ln`` can never flip a rank (ties break by term) — the ANN
    ``rank_quantize`` idiom.

    Resource contract: each call persists its term-frequency frame (the
    broadcast doc-frequency plan embeds the tf plan, and Spark does not
    share subplans across join sides — unpersisted, the corpus-wide
    tokenize+aggregate runs twice). Library callers outside the
    catalog/bench lifecycle (which releases via
    ``catalog.drop_caches()``) must call
    ``textstats.release_caches()`` between batches, or storage memory
    grows unboundedly; a ResourceWarning fires past
    ``_PERSISTED_WARN`` pinned frames.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    # persist tf: the broadcast dfreq plan EMBEDS the tf plan, and
    # Spark does not share subplans across join sides — unpersisted,
    # the corpus-wide tokenize+aggregate would run twice (once to
    # build the broadcast, once on the probe side). Same registry
    # contract as dedup's posting persists; released by
    # catalog.drop_caches() -> release_caches().
    tf = _persist(toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    n_docs = df.select(F.count(F.lit(1)).alias("nd"))
    q = F.lit(float(quantize))
    score = F.floor(
        F.col("tf")
        * (F.log((F.col("nd") + 1.0) / (F.col("dft") + 1.0)) + 1.0)
        * q
        + F.lit(1e-3)
    ) / q
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), "term")
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("id", "term", "tfidf", "rk")
    )


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Full per-document profile: stats + quality + language + fingerprint."""
    text = F.col(text_col)
    t = tokens(text)
    return df.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        bpe_token_count(text).alias("n_bpe_tokens"),
        F.length(text).alias("n_chars"),
        quality_score(text).alias("quality"),
        lang_id(text).alias("lang_pred"),
        fingerprint(text).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Chunking and PII scrubbing (training-data preprocessing)
# ---------------------------------------------------------------------------

#: PII patterns restricted to the regex syntax shared by Java (Spark)
#: and RE2 (DuckDB) — no lookarounds/backrefs, so the oracle replicates
#: the scrub bit-for-bit. ORDER IS THE SCRUB CHAIN: emails first (their
#: digits must not half-match as cards/phones), shapes with letters or
#: colons next (IBAN, IPv6 — disjoint from the digit-run families),
#: then dotted quads, then Luhn-gated card numbers, then the greedy
#: phone fallback (which would otherwise swallow card digits).
#:
#: IPv6 covers a DEFINED SUBSET (full 8-group form, or '::' compression
#: with >= 1 group on each side — no dotted-quad tails, no bare
#: leading/trailing '::', whose endings a word-boundary anchor cannot
#: delimit portably). IBAN is the SHAPE check only (country code + 2
#: check digits + 11-30 alphanumerics); credit_card candidates (13-19
#: digits, optional single space/dash separators) must additionally
#: pass the Luhn checksum — see ``luhn_valid`` — before redaction.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("iban", r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"),
    (
        "ipv6",
        r"\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b"
        r"|\b(?:[0-9A-Fa-f]{1,4}:){1,6}:"
        r"(?:[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4}){0,5})\b",
    ),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("credit_card", r"\b(?:[0-9][ -]?){12,18}[0-9]\b"),
    # no spaces in the class: "1995 2000 2010"-style number lists in
    # prose must not be swallowed as one phone
    ("phone", r"\+?[0-9][0-9()-]{7,}[0-9]"),
]

#: Types whose regex only nominates CANDIDATES; a checksum decides.
LUHN_GATED = frozenset(["credit_card"])


def luhn_valid(s: Column) -> Column:
    """Luhn checksum over a candidate card number (separators ``[ -]``
    stripped): from the RIGHT, double every second digit (subtracting
    9 past 9) and require the total to divide by 10, with 13-19
    digits. Pure integer expression arithmetic — no UDF, and the
    DuckDB oracle mirrors it term for term."""
    d = F.regexp_replace(s, r"[ -]", "")
    n = F.length(d)

    def term(acc, i):
        digit = F.substring(d, i, F.lit(1)).cast("int")
        doubled = digit * 2
        dval = F.when(doubled > 9, doubled - 9).otherwise(doubled)
        return acc + F.when(((n - i) % 2) == 1, dval).otherwise(digit)

    total = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), term)
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def scrub_pii(c: Column) -> Column:
    """Redact emails, IBANs, IPv6/IPv4 addresses, Luhn-valid card
    numbers, and phone-like digit runs with ``[TYPE]`` placeholders.
    Regex types are one chained ``regexp_replace``; the Luhn-gated
    card stage extracts candidates from the partially-scrubbed text,
    keeps the checksum survivors, and replaces each via an aggregate
    fold — all JVM-side expressions, zero shuffles, RE2-portable so
    any engine reproduces the output exactly."""
    out = c
    for name, pat in PII_PATTERNS:
        tag = f"[{name.upper()}]"
        if name in LUHN_GATED:
            valid = F.filter(
                F.regexp_extract_all(out, F.lit(pat), F.lit(0)), luhn_valid
            )
            # boundary-guarded regexp replace, NOT literal replace: a
            # candidate like '4111...1111' must not rewrite its
            # occurrence EMBEDDED in a longer digit run the anchored
            # extraction never matched (r11 review). Candidates match
            # [0-9 -]+ only — no regex metacharacters, so the dynamic
            # pattern needs no escaping.
            out = F.aggregate(
                valid,
                out,
                lambda acc, s: F.regexp_replace(
                    acc,
                    F.concat(F.lit(r"\b"), s, F.lit(r"\b")),
                    F.lit(tag),
                ),
            )
        else:
            out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(c: Column) -> list[Column]:
    """Per-type match counts (aliased ``n_<type>``) for audit columns.
    Each count is INDEPENDENT over the original text (Luhn-gated types
    count checksum survivors only) — an audit inventory, not a replay
    of the scrub chain, so e.g. a card number also counts toward
    ``n_phone`` even though the chain redacts it as a card first."""
    cols = []
    for name, pat in PII_PATTERNS:
        matches = F.regexp_extract_all(c, F.lit(pat), F.lit(0))
        if name in LUHN_GATED:
            matches = F.filter(matches, luhn_valid)
        cols.append(F.size(matches).alias(f"n_{name}"))
    return cols


def chunk_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    stride: int | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Overlapping token-window chunk spans per document: one row per
    chunk with (id, chunk_idx, tok_start, tok_end, chunk_text).

    ``window`` tokens per chunk, advancing ``stride`` tokens (default
    ``window``, i.e. non-overlapping). The final partial window is kept
    (a document shorter than ``window`` yields one chunk). All
    arithmetic + ``slice``/``sequence`` expressions — narrow, zero
    shuffles, chunk explosion happens in the scan stage.

    ``keep_cols`` are per-document columns carried onto every chunk row
    (e.g. PII audit counts computed on the same pass) — still narrow,
    so attaching them here costs nothing versus a join-back.
    """
    stride = stride or window
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # number of chunks: 1 + ceil(max(0, n - window) / stride)
    extra = F.greatest(n - F.lit(window), F.lit(0))
    n_chunks = F.lit(1) + F.ceil(extra.cast("double") / F.lit(stride)).cast("int")
    return (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
            *keep_cols,
        )
        .select(
            "id",
            "chunk_idx",
            (F.col("chunk_idx") * stride).alias("tok_start"),
            F.least(
                F.col("chunk_idx") * stride + window, F.size("_toks")
            ).alias("tok_end"),
            F.concat_ws(
                " ",
                F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, window),
            ).alias("chunk_text"),
            *keep_cols,
        )
    )


def doc_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str | None = None,
) -> DataFrame:
    """WITHIN-document repetition metrics — the Gopher-rule family
    (Rae et al. 2021, "repetitious documents are low quality"):
    machine-generated or scraped-chrome text repeats its own
    paragraphs and words, and curation pipelines threshold on exactly
    these shares. Complements the CROSS-document boilerplate pass
    (``dedup.paragraph_stats``): a paragraph repeated 50 times inside
    one doc never flags there (one distinct doc) but dominates here.

    Per input document:

    - ``n_paras`` — non-empty normalized paragraphs (split on ``sep``,
      default blank lines)
    - ``dup_para_frac`` — occurrences beyond each distinct paragraph's
      first, over all occurrences (0 = all distinct)
    - ``dup_para_char_share`` — same numerator in characters, over all
      paragraph characters (long repeated paragraphs weigh more)
    - ``top_word_share`` — most frequent (lowercased) word's count over
      all words — the degenerate-repetition tail (``aaa aaa aaa ...``)

    Scale shape: two explode → map-side-combined groupBy passes (one at
    (doc, paragraph-hash) grain, one at (doc, word) grain) each rolled
    up to doc grain, then one doc-keyed join of two n_docs-sized
    frames. All expressions JVM-side; paragraph grouping keys are md5
    hashes so the wide shuffle moves 16-byte keys; per-key skew bounded
    by the longest single document.
    """
    from slurm2sql_spark.operators.dedup import PARAGRAPH_SEP, normalize_text

    sep = PARAGRAPH_SEP if sep is None else sep
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))

    paras = (
        base.select(
            "_id", F.explode(F.split(F.col("_t"), sep)).alias("_p")
        )
        .select("_id", normalize_text(F.col("_p")).alias("_pn"))
        .filter(F.length("_pn") > 0)
        .groupBy("_id", F.md5("_pn").alias("_h"))
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.first(F.length("_pn")).alias("_chars"),
        )
        .groupBy("_id")
        .agg(
            F.sum("_cnt").alias("n_paras"),
            (
                (F.sum("_cnt") - F.count(F.lit(1))) / F.sum("_cnt")
            ).alias("dup_para_frac"),
            (
                F.sum((F.col("_cnt") - 1) * F.col("_chars"))
                / F.sum(F.col("_cnt") * F.col("_chars"))
            ).alias("dup_para_char_share"),
        )
    )
    words = (
        base.select(
            "_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("_t"))), WS_RE2)
            ).alias("_w"),
        )
        .filter(F.col("_w") != "")
        .groupBy("_id", "_w")
        .agg(F.count(F.lit(1)).alias("_wc"))
        .groupBy("_id")
        .agg((F.max("_wc") / F.sum("_wc")).alias("top_word_share"))
    )
    return paras.join(words, "_id").select(
        F.col("_id").alias(id_col),
        "n_paras",
        "dup_para_frac",
        "dup_para_char_share",
        "top_word_share",
    )


# ---------------------------------------------------------------------------
# Quality filtering (Gopher rules -> keep/drop decision)
# ---------------------------------------------------------------------------

#: Gopher's "must contain >= 2 of these common English words" list
#: (Rae et al. 2021, appendix A1.1 — the stop-word presence rule).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: (rule name, default threshold) — the Gopher curation thresholds.
#: Order is the published rule order and is the order rule names appear
#: in ``fail_reasons``, so the output is deterministic.
QUALITY_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_frac": 0.9,
    "max_ellipsis_frac": 0.3,
    "min_alpha_frac": 0.8,
    "min_stop_hits": 2,
}


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep_cols: tuple[str, ...] = (),
    **thresholds: float,
) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021, A1.1):
    per-document curation signals, the keep/drop decision, and the
    names of the rules a dropped document failed.

    Signals (one scan-stage projection, zero shuffles, no UDF):

    - ``n_words`` / ``mean_word_len`` — whitespace words and their mean
      character length (rules: 50..100k words, mean length 3..10);
    - ``symbol_ratio`` — ``#`` and ``...`` occurrences per word (<=0.1);
    - ``bullet_frac`` / ``ellipsis_frac`` — share of lines starting
      with a bullet (<=90%) / ending with an ellipsis (<=30%);
    - ``alpha_frac`` — share of words containing at least one
      alphabetic character (>=80%);
    - ``stop_hits`` — distinct hits on the 8-word Gopher stop list
      (>=2).

    All arithmetic is integer counts and exact IEEE division — no libm,
    so the keep decision is bit-identical across engines and the DuckDB
    oracle can replicate it without quantization (output ratios are
    still quantized by the catalog entry for hash compare). NULL text
    is treated as empty (fails the word-count rule) rather than
    propagating NULL into the decision.

    Every comparison is a plain Column expression, so Catalyst folds
    the whole rule set into the scan projection: at 100 TB this is a
    single pass over the text column with predicate-free parallelism —
    the decision column can then drive partition-pruned writes of the
    kept corpus.
    """
    unknown = set(thresholds) - set(QUALITY_DEFAULTS)
    if unknown:
        raise ValueError(
            f"unknown quality_filter threshold(s) {sorted(unknown)}; "
            f"valid: {sorted(QUALITY_DEFAULTS)}"
        )
    # keep_cols: pass-through columns (e.g. source) so compositions
    # like corpus_report stay single-scan instead of joining back.
    p = {**QUALITY_DEFAULTS, **thresholds}
    text = F.coalesce(F.col(text_col), F.lit(""))
    t = F.split(F.trim(text), WS_RE2)
    n_words = F.size(t)
    word_chars = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_wl = word_chars / n_words.cast("double")
    n_symbols = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
        + F.regexp_count(text, F.lit(r"\.\.\."))
    )
    symbol_ratio = n_symbols / n_words.cast("double")
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"^[ \t]*[-*•]")))
        / n_lines.cast("double")
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.[ \t]*$")))
        / n_lines.cast("double")
    )
    alpha_frac = (
        F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
        / n_words.cast("double")
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.split(F.trim(F.lower(text)), WS_RE2)),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    rules = [
        ((n_words < p["min_words"]) | (n_words > p["max_words"]), "n_words"),
        (
            (mean_wl < p["min_mean_word_len"])
            | (mean_wl > p["max_mean_word_len"]),
            "word_len",
        ),
        (symbol_ratio > p["max_symbol_ratio"], "symbol"),
        (bullet_frac > p["max_bullet_frac"], "bullet"),
        (ellipsis_frac > p["max_ellipsis_frac"], "ellipsis"),
        (alpha_frac < p["min_alpha_frac"], "alpha"),
        (stop_hits < p["min_stop_hits"], "stopword"),
    ]
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for cond, name in rules]),
        lambda x: x.isNotNull(),
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        (F.size(reasons) == 0).alias("keep"),
        F.concat_ws(",", reasons).alias("fail_reasons"),
    )


#: C4 defaults (Raffel et al. 2020, §2.2 "Colossal Clean Crawled
#: Corpus"): line keep rules + page drop rules, verbatim where the
#: paper is concrete (terminal punctuation, 3-word lines, the
#: javascript line rule, lorem ipsum / curly brace page rules).
C4_TERMINAL_RE = r'[.!?"][ \t]*$'
C4_MIN_LINE_WORDS = 3
C4_MIN_KEPT_LINES = 3


def c4_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bad_words: tuple[str, ...] = (),
    min_line_words: int = C4_MIN_LINE_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """C4-style cleaning (Raffel et al. 2020): LINE-level keep rules
    followed by PAGE-level drop rules — the other canonical filter
    family next to the Gopher rules (:func:`quality_filter`), and the
    one that REWRITES the text rather than only scoring it.

    Line rules (a line survives iff ALL hold):
    - ends in terminal punctuation (. ! ? or a closing quote),
    - has >= ``min_line_words`` whitespace words,
    - does not mention javascript (the enable-javascript boilerplate).

    Page rules (over the ORIGINAL text, matching the paper's order —
    a page is judged before its lines are cleaned):
    - no curly brace (code), no 'lorem ipsum' (placeholder),
    - none of ``bad_words`` as a whole word (case-insensitive),
    - >= ``min_kept_lines`` lines survive the line stage.

    Returns ``(id, text, n_lines, n_kept_lines, keep, fail_reasons)``
    with ``text`` rebuilt from the surviving lines (original bytes,
    newline-joined; '' when nothing survives).

    Scale: one scan-stage projection — array filter + regexps, no
    explode, no join, no shuffle (plan-asserted Exchange-free like the
    inline scrub). Engine-portable: every regex is RE2-compatible and
    the word class is the pinned ``WS_RE2``.
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")

    def line_ok(l: Column) -> Column:
        words = F.size(
            F.filter(
                F.split(F.trim(l), WS_RE2), lambda w: F.length(w) > 0
            )
        )
        return (
            l.rlike(C4_TERMINAL_RE)
            & (words >= F.lit(int(min_line_words)))
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, line_ok)
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    checks = [
        ("brace", low.contains("{")),
        ("lorem", low.contains("lorem ipsum")),
    ]
    for w in bad_words:
        # escape regex metacharacters so a word like "c++" stays a
        # literal match instead of silently changing the pattern
        checks.append(
            (f"word:{w}", low.rlike(r"\b" + _re.escape(w.lower()) + r"\b"))
        )
    checks.append(
        ("lines", F.size(kept) < F.lit(int(min_kept_lines)))
    )
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)) for name, cond in checks]
        ),
        lambda x: x.isNotNull(),
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias(text_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        (F.size(reasons) == 0).alias("keep"),
        F.array_join(reasons, ",").alias("fail_reasons"),
    )
