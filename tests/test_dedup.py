"""Dedup operator tests on constructed corpora."""

from __future__ import annotations

import pytest

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup of 1
    (4, "completely different words about spark and distributed query engines"),
    (5, "THE  QUICK   brown fox jumps over the lazy dog near the river bank"),  # normalized dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from slurm2sql_spark.operators.dedup import exact_dedup

    out = {r["keep_id"]: r["n_dups"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    # 1,2,5 collapse (5 via lower+whitespace normalization); 3,4 unique
    assert out[1] == 3
    assert out[3] == 1
    assert out[4] == 1


def test_ngram_jaccard(spark, docs):
    from slurm2sql_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical
    assert 0.5 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs


def test_minhash_lsh(spark, docs):
    from slurm2sql_spark.operators.dedup import minhash_lsh_pairs

    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert (1, 2) in got  # identical docs always collide
    assert (1, 3) in got  # high-jaccard pair collides at 16x4 banding
    assert (1, 4) not in got


def test_simhash(spark, docs):
    from slurm2sql_spark.operators.dedup import simhash_near_dup_pairs, simhash_signatures

    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]  # identical token multisets
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=10).collect()
    }
    assert got[(1, 2)] == 0
    if (1, 3) in got:
        assert got[(1, 3)] <= 10
    assert (1, 4) not in got


def test_shingles_short_doc(spark):
    from slurm2sql_spark.operators.dedup import shingles

    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    assert shingles(df, "doc_id", "text", n=3).count() == 0


def test_minhash_near_dup_pairs_equals_exact(spark, docs):
    from slurm2sql_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    # verified LSH pipeline reproduces the exact all-pairs result
    assert got == want and (1, 2) in got


def test_md5_token_hash60_portable(spark):
    """The md5-derived 60-bit hash must equal what any md5-capable SQL
    engine computes — pinned against hashlib (same algorithm DuckDB
    uses for the simhash oracle)."""
    import hashlib

    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.dedup import md5_token_hash60

    toks = ["fox", "héllo", ""]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {
        r["tok"]: r["h"]
        for r in df.select("tok", md5_token_hash60(F.col("tok")).alias("h")).collect()
    }
    for t in toks:
        want = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        assert got[t] == want


def test_simhash_fast_matches_md5_on_planted_pairs(spark):
    """The xxhash64 production path and the md5 oracle-portable path must
    recover the identical pair set on a corpus of planted exact dups and
    clearly-distinct documents (borderline pairs can legitimately differ
    between hashes; unambiguous ones must not)."""
    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.dedup import (
        md5_token_hash60,
        simhash_near_dup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for i in range(10):
        text = " ".join(f"{w}{i}" for w in base.split())
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text))  # exact dup -> hamming 0 under ANY hash
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {(2 * i, 2 * i + 1) for i in range(10)}

    fast = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    md5 = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=3,
            bits=60, token_hash=md5_token_hash60,
        ).collect()
    }
    assert fast == md5 == want


def test_simhash_md5_variant_bands(spark, docs):
    from slurm2sql_spark.operators.dedup import (
        md5_token_hash60,
        simhash_near_dup_pairs,
    )

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=3,
            bits=60, token_hash=md5_token_hash60,
        ).collect()
    }
    assert got[(1, 2)] == 0  # identical token multisets -> same signature
    assert all(h <= 3 for h in got.values())


def test_connected_components_clusters_and_singletons(spark):
    from slurm2sql_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3 (diameter 2), pair 10-11, triangle 20-21-22
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 99]], "id long")
    got = {r.id: r.component for r in connected_components(edges, nodes=nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 99: 99}


def test_connected_components_long_chain_converges(spark):
    from slurm2sql_spark.operators.dedup import connected_components

    # a 12-node path: worst-case diameter for propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert set(got.values()) == {0} and len(got) == 12


def test_minhash_incremental_matches_full_run(spark):
    from slurm2sql_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_near_dup_pairs,
    )

    base = "copies differ only slightly here with shared phrasing across documents "
    rows = []
    for i in range(40):
        rows.append((i, base * 3 + f"corpus tail {i} unique words {i * 7}"))
    # batch: 45 near-dups a corpus doc, 46/47 near-dup each other, 48 novel
    rows += [
        (45, base * 3 + "corpus tail 3 unique words 21 x"),
        (46, base * 3 + "batch twin alpha"),
        (47, base * 3 + "batch twin alpha y"),
        (48, "completely different content with nothing shared at all " * 5),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id < 40")
    batch = docs.filter("doc_id >= 40")

    inc = {
        (r.id_a, r.id_b)
        for r in minhash_incremental_pairs(
            batch, corpus, "doc_id", "text", threshold=0.8
        ).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
        if r.id_a >= 40 or r.id_b >= 40
    }
    assert inc == full and (46, 47) in inc
    # no corpus-x-corpus pair ever reported
    assert all(b >= 40 for _, b in inc)

    # without within-batch pairs, only batch-vs-corpus survives
    only_cross = {
        (r.id_a, r.id_b)
        for r in minhash_incremental_pairs(
            batch, corpus, "doc_id", "text",
            threshold=0.8, include_batch_pairs=False,
        ).collect()
    }
    assert (46, 47) not in only_cross
    assert only_cross == {p for p in full if p[0] < 40}


def test_connected_components_random_graphs_vs_union_find(spark):
    """Seeded random graphs: the distributed propagation must agree with
    a reference union-find on every one."""
    import random

    from slurm2sql_spark.operators.dedup import connected_components

    def uf_components(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min node in component
        comp = {}
        for x in range(n):
            r = find(x)
            comp.setdefault(r, []).append(x)
        return {x: min(members) for r, members in comp.items() for x in members}

    rng = random.Random(1234)
    for trial in range(3):
        n = 60
        m = rng.randrange(20, 80)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        want = uf_components(n, edges)
        edf = spark.createDataFrame(edges or [(0, 1)], "id_a long, id_b long")
        if not edges:
            want = uf_components(n, [(0, 1)])
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        got = {
            r.id: r.component
            for r in connected_components(edf, nodes=nodes).collect()
        }
        assert got == want, f"trial {trial}: mismatch"


@pytest.mark.slow
def test_connected_components_local_path_matches_distributed(
    spark, monkeypatch
):
    """The r15 driver-local union-find path (edge count <=
    _LOCAL_CC_MAX_EDGES) must label bit-identically to the iterative
    distributed propagation — same seeded graphs, threshold forced to
    0 for the distributed run; also pins the nodes=None universe
    (edge endpoints only) on both paths."""
    import random

    from slurm2sql_spark.operators import dedup

    rng = random.Random(99)
    for trial in range(3):
        n = 50
        m = rng.randrange(10, 70)
        edges = [
            (a, b)
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            )
            if a != b
        ] or [(0, 1)]
        edf = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        for node_frame in (nodes, None):
            local = {
                (r.id, r.component)
                for r in dedup.connected_components(
                    edf, nodes=node_frame
                ).collect()
            }
            monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 0)
            dist = {
                (r.id, r.component)
                for r in dedup.connected_components(
                    edf, nodes=node_frame
                ).collect()
            }
            monkeypatch.undo()
            assert local == dist, f"trial {trial}: local != distributed"


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc embedding a benchmark 5-gram is flagged with the
    distinct-shingle hit count; clean docs are absent; bad hint raises."""
    import pytest

    from slurm2sql_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains 2 distinct benchmark 5-grams
            (10, "x alpha beta gamma delta epsilon zeta y"),
            (11, "totally clean document with different words entirely"),
        ],
        "doc_id int, text string",
    )
    for hint in ("auto", "broadcast", "shuffle"):
        got = {r["id"]: r["n_hits"] for r in decontaminate(
            corpus, bench, "doc_id", "text", n=5, hint=hint
        ).collect()}
        assert got == {10: 2}
    with pytest.raises(ValueError, match="hint"):
        decontaminate(corpus, bench, "doc_id", "text", hint="bogus")


def test_decontaminate_broadcast_plan_has_no_corpus_shuffle(spark):
    """With hint='broadcast' the corpus posting stream must reach the
    join without an Exchange — the only shuffle is the final per-doc
    count (the 100 TB-side contract)."""
    from slurm2sql_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [(10, "x alpha beta gamma delta epsilon zeta y")],
        "doc_id int, text string",
    )
    out = decontaminate(corpus, bench, "doc_id", "text", n=5, hint="broadcast")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # exchanges: broadcast exchange (bench), bench's distinct, and the
    # final count agg — none hash-partitioning the corpus postings
    import re
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all("shingle" in g or "id" in g for g in hash_exchanges), plan
    assert sum("shingle" in g for g in hash_exchanges) <= 1, plan


def test_keep_best_selects_highest_score_with_id_tiebreak(spark):
    from slurm2sql_spark.operators.dedup import keep_best

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)], "id int, component int"
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, None)],
        "id int, quality double",
    )
    got = {
        r["component"]: (r["keep_id"], r["quality"], r["n_members"])
        for r in keep_best(labels, scores).collect()
    }
    # component 1: 2 and 3 tie at 0.9 -> smaller id wins; singleton
    # components keep themselves (NULL score still selected when alone)
    assert got == {1: (2, 0.9, 3), 4: (4, 0.1, 1), 5: (5, None, 1)}


def test_shingles_re2_whitespace_parity(spark):
    r"""RE2's \s is [\t\n\f\r ] — \x0b and U+00A0 are NOT separators
    for the DuckDB oracles, so the shingle kernel must not split on
    them either (Python str.split() would)."""
    from slurm2sql_spark.operators.dedup import shingles

    df = spark.createDataFrame(
        [(1, "aa\x0bbb cc dd ee"), (2, "aa\u00a0bb cc dd ee")],
        "doc_id int, text string",
    )
    got = {}
    for r in shingles(df, "doc_id", "text", n=3).collect():
        got.setdefault(r["id"], set()).add(r["shingle"])
    # \x0b and U+00A0 stay INSIDE the first token
    assert "aa\x0bbb cc dd" in got[1] and "bb cc dd" not in got[1]
    assert "aa\u00a0bb cc dd" in got[2] and "bb cc dd" not in got[2]


def test_paragraph_stats_flags_cross_doc_boilerplate(spark):
    """Repeated-span semantics: a paragraph is boilerplate only when it
    appears in >= min_docs DISTINCT documents — within-doc repetition
    alone never flags; normalization (case/whitespace) unifies variants."""
    from slurm2sql_spark.operators.dedup import paragraph_stats

    docs = spark.createDataFrame(
        [
            (1, "Subscribe  now\n\nunique alpha text\n\nsubscribe now"),
            (2, "SUBSCRIBE NOW\n \nunique beta text"),
            (3, "totally distinct\n\n\nalso distinct"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in paragraph_stats(docs, "doc_id", "text", min_docs=2).collect()
    }
    # doc 1: 3 paras, 2 flagged ("subscribe now" x2 — in docs 1 and 2)
    assert rows[1]["n_paras"] == 3 and rows[1]["n_repeated"] == 2
    # doc 2: blank line with a stray space still separates; 1 of 2 flagged
    assert rows[2]["n_paras"] == 2 and rows[2]["n_repeated"] == 1
    # doc 3: \n\n\n is ONE boundary, nothing repeated
    assert rows[3]["n_paras"] == 2 and rows[3]["n_repeated"] == 0
    assert rows[3]["repeated_char_share"] == 0.0
    share1 = rows[1]["repeated_char_share"]
    assert abs(share1 - (2 * len("subscribe now")) /
               (2 * len("subscribe now") + len("unique alpha text"))) < 1e-9


def test_paragraph_stats_within_doc_repeats_not_boilerplate(spark):
    from slurm2sql_spark.operators.dedup import paragraph_stats

    docs = spark.createDataFrame(
        [(1, "same para\n\nsame para\n\nsame para"), (2, "other")],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in paragraph_stats(docs, "doc_id", "text", min_docs=2).collect()
    }
    assert rows[1]["n_repeated"] == 0  # one distinct doc only


def test_repeated_paragraphs_corpus_view(spark):
    from slurm2sql_spark.operators.dedup import repeated_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "footer text\n\nbody one"),
            (2, "footer  TEXT\n\nbody two"),
            (3, "footer text\n\nfooter text"),
        ],
        "doc_id int, text string",
    )
    out = repeated_paragraphs(docs, "doc_id", "text", min_docs=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["paragraph"] == "footer text"
    assert r["n_docs"] == 3 and r["n_occurrences"] == 4


def test_paragraph_stats_hot_paragraph_no_window_skew(spark):
    """Scale contract (VERDICT r8 #1): a boilerplate paragraph present
    in most of the corpus must NOT funnel its full distinct-doc reach
    onto one task. The reach count must be a partial-aggregable
    groupBy + join-back (AQE can skew-split a shuffled join), never a
    Window.partitionBy(para_hash) count (window partitions are
    single-task and unsplittable). Plant one paragraph in >50% of docs
    and assert both the plan shape and the values."""
    from slurm2sql_spark.operators.dedup import paragraph_stats, release_caches

    hot = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            (i, f"unique body {i}\n\n{hot}" if i % 10 < 6
             else f"unique body {i}")
            for i in range(200)
        ],
        "doc_id int, text string",
    )
    out = paragraph_stats(docs, "doc_id", "text", min_docs=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, "reach count regressed to a skewed window"
    assert "Join" in plan  # filtered flag set joined back on the hash key
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["n_repeated"] == 1 and rows[0]["n_paras"] == 2
    assert rows[6]["n_repeated"] == 0 and rows[6]["n_paras"] == 1
    assert rows[6]["repeated_char_share"] == 0.0
    share = rows[10]["repeated_char_share"]
    assert abs(share - len(hot) / (len(hot) + len("unique body 10"))) < 1e-9
    release_caches()


def test_paragraph_stats_plan_no_broadcast_of_hash_table(spark):
    """Scale contract: the paragraph-hash vocabulary is unbounded, so
    the flag join must be a shuffle join on the 16-byte hash key, never
    a broadcast of either corpus-sized side (local tiny frames may AQE
    to broadcast; assert the logical plan carries no broadcast HINT)."""
    from slurm2sql_spark.operators.dedup import paragraph_stats

    docs = spark.createDataFrame([(1, "a\n\nb")], "doc_id int, text string")
    plan = (
        paragraph_stats(docs, "doc_id", "text")
        ._jdf.queryExecution().logical().toString()
    )
    assert "hint" not in plan.lower()


def test_decontaminate_bloom_matches_exact_even_at_high_fpp(spark):
    """The Bloom path contracts to IDENTICAL output: no false
    negatives by construction, false positives killed by the exact
    verify join. Forcing a degenerate filter (expected_items=1 ->
    a handful of words, nearly every corpus shingle survives the
    prefilter) must still produce the exact result — the verify join
    carries correctness alone; sizing only tunes candidate volume."""
    from slurm2sql_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
        release_caches,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20")
    exact = {
        r["id"]: r["n_hits"]
        for r in decontaminate(corpus, bench, "doc_id", "text", n=5).collect()
    }
    for expected_items in (None, 1):
        got = {
            r["id"]: r["n_hits"]
            for r in decontaminate_bloom(
                corpus, bench, "doc_id", "text", n=5,
                expected_items=expected_items,
            ).collect()
        }
        assert got == exact, f"expected_items={expected_items}"
    release_caches()


def test_decontaminate_bloom_corpus_side_is_map_side(spark):
    """Scale contract: the corpus posting stream reaches the Bloom
    probe via ONE broadcast join (no Exchange hash-partitions corpus
    shingles before the prefilter); only candidates and the benchmark
    shingle set shuffle for the verify join, plus the final count."""
    import re

    from slurm2sql_spark.operators.dedup import (
        decontaminate_bloom,
        release_caches,
    )

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    corpus = spark.createDataFrame(
        [(10, "x alpha beta gamma delta epsilon zeta y")],
        "doc_id int, text string",
    )
    out = decontaminate_bloom(corpus, bench, "doc_id", "text", n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus probe joins the bitmap via broadcast hash on word_idx
    assert re.search(r"BroadcastHashJoin \[word_idx", plan), plan
    # no SHUFFLED join anywhere keys on word_idx (the only allowed
    # word_idx exchange is the benchmark-side bit_or aggregation,
    # bounded by nwords); corpus shingles reach the probe map-side
    for join_kind in ("SortMergeJoin", "ShuffledHashJoin"):
        assert not re.search(rf"{join_kind} \[word_idx", plan), plan
    # every word_idx hash exchange feeds the bitmap aggregate, i.e.
    # appears only above a bit_or HashAggregate — equivalently, the
    # count of word_idx exchanges never exceeds bit_or aggregates
    n_widx_ex = len(re.findall(r"Exchange hashpartitioning\(word_idx", plan))
    n_bitor = len(re.findall(r"partial_bit_or", plan))
    assert n_widx_ex <= n_bitor, plan
    release_caches()


def test_scrub_paragraphs_removes_blocklist_and_keeps_bytes(spark):
    """Matching is on the NORMALIZED hash (case/whitespace variants of
    a footer all match) but surviving paragraphs keep their original
    bytes; every input doc survives, including empty and
    all-boilerplate ones."""
    from slurm2sql_spark.operators.dedup import (
        repeated_paragraphs,
        scrub_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "FOOTER Text\n\nBody One Is UNIQUE"),
            (2, "footer   text\n\nbody two differs\n\nfooter text"),
            (3, "only unique content here"),
            (4, "footer text"),
            (5, ""),
        ],
        "doc_id int, text string",
    )
    bl = repeated_paragraphs(docs, "doc_id", "text", min_docs=2)
    out = {
        r["doc_id"]: r
        for r in scrub_paragraphs(docs, "doc_id", "text", bl).collect()
    }
    assert len(out) == 5
    assert out[1]["text"] == "Body One Is UNIQUE"  # original bytes kept
    assert out[1]["n_removed"] == 1 and out[1]["n_paras"] == 2
    assert out[2]["text"] == "body two differs" and out[2]["n_removed"] == 2
    assert out[3]["n_removed"] == 0
    assert out[4]["text"] == "" and out[4]["n_removed"] == 1  # all boiler
    assert out[5]["text"] == "" and out[5]["n_paras"] == 0  # empty input


def test_scrub_paragraphs_inline_twin_identical_and_zero_shuffle(spark):
    from slurm2sql_spark.operators.dedup import (
        repeated_paragraphs,
        scrub_paragraphs,
        scrub_paragraphs_inline,
    )

    docs = spark.createDataFrame(
        [(i, f"shared footer line\n\nunique body {i}" if i % 2 == 0
          else f"unique body {i}") for i in range(40)],
        "doc_id int, text string",
    )
    bl = repeated_paragraphs(docs, "doc_id", "text", min_docs=2)
    a = sorted(map(tuple, scrub_paragraphs(docs, "doc_id", "text", bl).collect()))
    hashes = [r["para_hash"] for r in bl.collect()]
    inline = scrub_paragraphs_inline(docs, "doc_id", "text", hashes)
    b = sorted(map(tuple, inline.collect()))
    assert a == b
    plan = inline._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure scan-stage projection
    # empty blocklist is a no-op scrub
    noop = scrub_paragraphs_inline(docs, "doc_id", "text", [])
    assert all(r["n_removed"] == 0 for r in noop.collect())


def test_scrub_paragraphs_blocklist_broadcasts(spark):
    """Scale contract: the match join must be a broadcast anti-join —
    the exploded corpus never shuffles to meet the blocklist."""
    from slurm2sql_spark.operators.dedup import (
        repeated_paragraphs,
        scrub_paragraphs,
    )

    docs = spark.createDataFrame(
        [(i, f"shared footer line\n\nunique body {i}") for i in range(30)],
        "doc_id int, text string",
    )
    bl = repeated_paragraphs(docs, "doc_id", "text", min_docs=2)
    plan = scrub_paragraphs(
        docs, "doc_id", "text", bl
    )._jdf.queryExecution().executedPlan().toString()
    import re

    anti = [seg for seg in plan.splitlines() if "LeftAnti" in seg]
    assert anti and all("Broadcast" in seg for seg in anti), anti


def test_exact_substring_spans_cross_boundary_planted(spark):
    """The ExactSubstr guarantee L39 cannot give: a repeated region
    whose paragraph breaks FALL DIFFERENTLY in the two documents is
    invisible to paragraph_stats (no complete blank-line paragraph is
    shared) but must be flagged by exact_substring_spans, whose grain
    is the whitespace-collapsed character stream."""
    from slurm2sql_spark.operators.dedup import (
        exact_substring_spans,
        paragraph_stats,
    )

    shared = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo"
    )  # 114 chars ws-collapsed
    # doc 1 carries the span intact inside one paragraph; doc 2 has a
    # paragraph break in the MIDDLE of it (ws-collapse unifies them);
    # doc 3 is unrelated.
    docs = spark.createDataFrame(
        [
            (1, f"intro one unique\n\n{shared}\n\ncoda one unique"),
            (
                2,
                "prefix two other\n\n"
                + shared.replace(" hotel ", " hotel\n\n", 1)
                + " tail two other",
            ),
            (3, "zulu yankee xray whiskey victor uniform tango sierra"),
        ],
        "doc_id int, text string",
    )
    # L39's paragraph grain sees NO cross-doc repeated paragraph
    pstats = {
        r["doc_id"]: r["n_repeated"]
        for r in paragraph_stats(docs, "doc_id", "text", min_docs=2).collect()
    }
    assert pstats == {1: 0, 2: 0, 3: 0}
    # the character-stream grain flags both carriers
    rows = {
        r["doc_id"]: r
        for r in exact_substring_spans(
            docs, "doc_id", "text", k=8, w=4, min_len=50, min_docs=2
        ).collect()
    }
    assert set(rows) == {1, 2}
    for doc_id, r in rows.items():
        assert r["n_spans"] == 1
        # the merged span lives inside the shared region: grams that
        # straddle the boundary hash differently in the two docs, so
        # coverage is the shared length minus at most one window+gram
        assert len(shared) - 12 - 8 <= r["span_chars"] <= len(shared) + 1
        assert 0.0 < r["span_share"] <= 1.0
        assert r["doc_chars"] > r["span_chars"]


def test_exact_substring_spans_gap_split_and_min_len(spark):
    """Two repeated regions separated by > gap unique chars form two
    spans; a short repeat below min_len never surfaces."""
    from slurm2sql_spark.operators.dedup import exact_substring_spans

    span_a = "first repeated block with plenty of characters inside it yes"
    span_b = "second repeated block also long enough to clear the bar too"
    docs = spark.createDataFrame(
        [
            (1, f"{span_a} uniquely-one filler middle part {span_b}"),
            (2, f"{span_a} other-two padding center words {span_b}"),
            (3, "tiny shared bit"),
            (4, "tiny shared bit plus unrelated trailing content here"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in exact_substring_spans(
            docs, "doc_id", "text", k=8, w=4, min_len=50, min_docs=2
        ).collect()
    }
    # docs 3/4 share only 15 chars < min_len -> absent
    assert set(rows) == {1, 2}
    assert rows[1]["n_spans"] == 2 and rows[2]["n_spans"] == 2


def test_scrub_exact_substrings_removes_spans_everywhere(spark):
    """The scrub twin excises each flagged span from EVERY carrier and
    passes clean docs through (normalized), with exact byte
    accounting: len(out) == len(normalized) - removed_chars."""
    from slurm2sql_spark.operators.dedup import scrub_exact_substrings

    shared = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo"
    )
    clean = "zulu yankee xray whiskey victor uniform tango sierra"
    docs = spark.createDataFrame(
        [
            (1, f"intro one unique\n\n{shared}\n\ncoda one unique"),
            (
                2,
                "prefix two other\n\n"
                + shared.replace(" hotel ", " hotel\n\n", 1)
                + " tail two other",
            ),
            (3, clean),
            (4, None),
        ],
        "doc_id int, text string",
    )
    import re as _re

    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    rows = {
        r["doc_id"]: r
        for r in scrub_exact_substrings(
            docs, "doc_id", "text", k=8, w=4, min_len=50, min_docs=2
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    for d in (1, 2):
        r = rows[d]
        assert r["n_spans_removed"] == 1
        assert shared not in r["text"]  # the repeated region is gone
        # conservative bounds: a few edge chars may survive, the core
        # cannot
        assert "charlie delta echo" not in r["text"]
        norm_len = len(_re.sub(r"[ \t\n\r\f]+", " ", raw[d].lower()))
        assert len(r["text"]) == norm_len - r["removed_chars"]
    # intact doc: normalized passthrough, zero accounting
    assert rows[3]["text"] == clean
    assert rows[3]["n_spans_removed"] == 0 and rows[3]["removed_chars"] == 0
    # NULL text stays NULL
    assert rows[4]["text"] is None and rows[4]["n_spans_removed"] == 0


def test_exact_substring_fast_kernel_recovers_planted_spans(spark):
    """The md5 positional winnowing kernel recovers the planted
    cross-boundary span as exactly one span per carrier, covering the
    whole shared region up to w+k edge chars; the clean doc has none."""
    from slurm2sql_spark.operators.dedup import exact_substring_spans

    shared = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo"
    )
    docs = spark.createDataFrame(
        [
            (1, f"intro one unique\n\n{shared}\n\ncoda one unique"),
            (
                2,
                "prefix two other\n\n"
                + shared.replace(" hotel ", " hotel\n\n", 1)
                + " tail two other",
            ),
            (3, "zulu yankee xray whiskey victor uniform tango sierra"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in exact_substring_spans(
            docs, "doc_id", "text", k=8, w=4, min_len=50, min_docs=2,
        ).collect()
    }
    assert set(rows) == {1, 2}
    for d in (1, 2):
        assert rows[d]["n_spans"] == 1
        # the span covers the shared region up to edge effects
        assert abs(rows[d]["span_chars"] - len(shared)) <= 12


def test_exact_substring_fast_kernel_char_positions_non_ascii(spark):
    """ADVICE r10 (medium): span positions are CHAR offsets into the
    whitespace-collapsed text, which every consumer indexes. On a
    corpus where every char is 2-3 UTF-8 bytes the report and the scrub
    must keep their char-space invariants: span_share in (0, 1],
    doc_chars counting chars, the shared region excised, and
    len(text) == norm_len - removed_chars."""
    import re as _re

    from slurm2sql_spark.operators.dedup import (
        exact_substring_spans,
        scrub_exact_substrings,
    )

    shared = (
        "émilie gréât çhàngé détails prüfung überall größe straße "
        "日本語 の 重複 テキスト ブロック désastre œuvre cœur naïve"
    )
    docs = spark.createDataFrame(
        [
            (1, f"début un ünique\n\n{shared}\n\nfin un ünique"),
            (2, f"präfix zwei anders\n\n{shared} schluß zwei anders"),
            (3, "ωμέγα ύψιλον ταυ σίγμα ρω πι όμικρον κσι"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    norm = {
        d: _re.sub(r"[ \t\n\r\f]+", " ", t.lower())
        for d, t in raw.items()
        if t is not None
    }
    spans = {
        r["doc_id"]: r
        for r in exact_substring_spans(
            docs, "doc_id", "text", k=8, w=4, min_len=40, min_docs=2,
        ).collect()
    }
    assert set(spans) == {1, 2}
    for d in (1, 2):
        m = spans[d]
        assert m["n_spans"] == 1
        assert abs(m["span_chars"] - len(shared)) <= 12
        # doc_chars counts CHARS, so a span can never run past it
        assert m["doc_chars"] == len(norm[d])
        assert 0.0 < m["span_share"] <= 1.0
    scrub = {
        r["doc_id"]: r
        for r in scrub_exact_substrings(
            docs, "doc_id", "text", k=8, w=4, min_len=40, min_docs=2,
        ).collect()
    }
    for d in (1, 2):
        r = scrub[d]
        assert "重複" not in r["text"] and "çhàngé" not in r["text"]
        assert len(r["text"]) == len(norm[d]) - r["removed_chars"]
    assert scrub[4]["text"] is None


def test_repeated_span_gap_clamp_keeps_spans_disjoint(spark):
    """ADVICE r10: a caller-supplied gap < k-1 could sessionize two
    spans whose extended ends overlap, so the scrub's gap stitching
    produced negative-length substrings (silently dropped text) and
    removed_chars double-counted the overlap. The effective gap is now
    clamped to k-1: spans stay disjoint and the char-accounting
    invariant holds even at gap=0."""
    import re as _re

    from slurm2sql_spark.operators.dedup import (
        exact_substring_spans,
        scrub_exact_substrings,
    )

    shared = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo"
    )
    docs = spark.createDataFrame(
        [
            (1, f"intro one unique {shared} coda one unique"),
            (2, f"prefix two other {shared} tail two other"),
        ],
        "doc_id int, text string",
    )
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    # gap=0 < k-1=7: without the clamp this overlaps adjacent sessions
    rows = {
        r["doc_id"]: r
        for r in scrub_exact_substrings(
            docs, "doc_id", "text",
            k=8, w=4, min_len=20, min_docs=2, gap=0,
        ).collect()
    }
    for d in (1, 2):
        r = rows[d]
        norm_len = len(_re.sub(r"[ \t\n\r\f]+", " ", raw[d].lower()))
        assert len(r["text"]) == norm_len - r["removed_chars"]
        assert r["removed_chars"] > 0
    report = exact_substring_spans(
        docs, "doc_id", "text",
        k=8, w=4, min_len=20, min_docs=2, gap=0,
    ).collect()
    for r in report:
        assert 0.0 < r["span_share"] <= 1.0


def test_normalize_aggressive_planted_edges(spark):
    """CCNet-style key normalization: accents fold, digits mask,
    punctuation drops, whitespace collapses — and the SQL twin the
    oracle generator uses produces byte-identical keys in DuckDB."""
    import duckdb

    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.dedup import (
        normalize_aggressive,
        normalize_aggressive_sql,
    )

    samples = [
        "«¡ HÉLLO, Wörld!! »  42 étés  ",
        "ŚŒÆß þorn — dash…x",
        "tabs\tand\nnewlines  7 8 9",
        "já vu Ñandú ĳ",  # NOTE: ĳ is NOT in the fold table — passes through
        "plain ascii stays put",
        "",
        None,
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i int, t string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", normalize_aggressive(F.col("t")).alias("n")
        ).collect()
    }
    assert got[0] == "hello world 00 etes"
    assert got[1] == "soas torn dashx"
    assert got[2] == "tabs and newlines 0 0 0"
    assert got[4] == "plain ascii stays put"
    assert got[5] == ""
    assert got[6] is None
    con = duckdb.connect()
    for i, s in enumerate(samples):
        o = con.execute(
            f"SELECT {normalize_aggressive_sql('?::VARCHAR')}", [s]
        ).fetchone()[0]
        assert o == got[i], f"engine divergence on {s!r}: {got[i]!r} vs {o!r}"
    con.close()


def test_exact_dedup_aggressive_collapses_noisy_twins(spark):
    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.dedup import (
        exact_dedup,
        normalize_aggressive,
    )

    rows = [
        (1, "the quick brown fox"),
        (2, "  The QUICK,, brown — fox!!"),   # punct/case/ws noise
        (3, "thé quîck brown fox"),           # accent noise
        (4, "call me at 555 1234"),
        (5, "call me at 999 0000"),           # digits mask to same key
        (6, "a genuinely different document"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["content_hash"]: r
        for r in exact_dedup(
            df, "doc_id", "text", normalizer=normalize_aggressive
        ).collect()
    }
    sizes = sorted(r["n_dups"] for r in out.values())
    assert sizes == [1, 2, 3]
    trio = next(r for r in out.values() if r["n_dups"] == 3)
    assert trio["keep_id"] == 1
    pair = next(r for r in out.values() if r["n_dups"] == 2)
    assert pair["keep_id"] == 4
    # default key does NOT collapse any of them
    naive = exact_dedup(df, "doc_id", "text")
    assert naive.count() == 6


def test_shingle_novelty_planted(spark):
    from slurm2sql_spark.operators.dedup import shingle_novelty

    rows = [
        (1, "a b c d e"),            # shares "a b c"/"b c d"/"c d e" w/ 2
        (2, "a b c d e"),            # exact twin: novelty 0 for both
        (3, "x y z w"),              # wholly unique: novelty 1
        (4, "q r a b c s t"),        # one shared shingle ("a b c")
        (5, "too short"),            # < 3 tokens: no shingles, absent
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in shingle_novelty(df, "doc_id", "text", n=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    r4 = out[4]
    assert (r4["n_shingles"], r4["n_shared"]) == (5, 1)
    assert abs(r4["novelty"] - 0.8) < 1e-6


def test_normalize_aggressive_idempotent_property(spark):
    """Property: the dedup key is a FIXED POINT — normalizing an
    already-normalized text changes nothing (hypothesis over a
    unicode-ish alphabet including fold-table members, digits,
    punctuation and whitespace), and the SQL twin agrees on every
    sample. Idempotence is what lets incremental pipelines re-key
    already-keyed corpora safely."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.dedup import (
        normalize_aggressive,
        normalize_aggressive_sql,
    )

    alphabet = "aàbçdéeĳ«»¡!.,—…09 \t\n\rXŸZß</w>"
    con = duckdb.connect()
    samples = []

    @settings(max_examples=30, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=40))
    def _collect(s):
        samples.append(s)

    _collect()
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i int, t string"
    )
    once = {
        r["i"]: r["n"]
        for r in df.select(
            "i", normalize_aggressive(F.col("t")).alias("n")
        ).collect()
    }
    df2 = spark.createDataFrame(
        [(i, s) for i, s in once.items()], "i int, t string"
    )
    twice = {
        r["i"]: r["n"]
        for r in df2.select(
            "i", normalize_aggressive(F.col("t")).alias("n")
        ).collect()
    }
    assert once == twice
    for i, s in enumerate(samples):
        o = con.execute(
            f"SELECT {normalize_aggressive_sql('?::VARCHAR')}", [s]
        ).fetchone()[0]
        assert o == once[i], f"engine divergence on {s!r}"
    con.close()
