"""SF-scaling experiment: measure how per-query wall time scales from
sf0.1 to a 10x synthetic corpus, for Spark AND the DuckDB oracle.

Rationale (VERDICT r2): at toy scale the Spark numbers are dominated by
a fixed ~0.3 s/query scheduler+codegen floor that vanishes at cluster
scale. Scaling the input 10x shows which engine's time grows with
compute and which was paying constant overhead — the per-query ratio
``t(10x)/t(1x)`` is the evidence.

The 10x corpus derives from sf0.1 WITHOUT creating cross-replica
duplicate structure (straight duplication would quadratically blow up
every dedup/ANN query's output and measure the wrong thing):

- ``lineitem``: replicas shift ``l_orderkey`` by ``i * (max+1)`` —
  distinct synthetic jobs, same per-job shape.
- ``documents``: replicas shift ``doc_id`` and apply a per-replica
  ROTATION of the letters a..j (an injective char map): shingle
  equality is exactly preserved WITHIN a replica (near-dup structure
  intact) while almost every shingle differs ACROSS replicas (no
  spurious cross-replica candidates).
- ``embeddings``: replicas shift ``vec_id`` and multiply by a
  per-replica random SIGN vector — an orthogonal reflection, so all
  intra-replica cosines are exactly preserved while cross-replica
  cosines collapse to noise. Replica 0 is the identity, so the
  ``vec_id < 10`` query set stays fixed while the corpus grows 10x.

Usage: python tools/bench_scaling.py [--rebuild]
Writes SCALING.json at the repo root and prints it.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from statistics import median as _median

sys.path.insert(0, ".")

SRC = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SCALE_DST", "/tmp/spark_graft_x10")
K = int(os.environ.get("SPARK_GRAFT_SCALE_K", "10"))

# queries with a linear-ish DuckDB oracle: timed on both engines
# (dedup_winnow qualifies: its oracle's pair join is the same
# capped inverted-index shape as the engine's, not all-pairs)
DUCK_QUERIES = [
    "q1_pricing_summary",
    "sacct_eff",
    "sacct_eff_typed",
    "sacct_user_rollup",
    "dedup_exact",
    "text_profile",
    "asof_join_events",
    "value_percentiles",
    "range_join_events",
    "range_count_events",
    "dedup_winnow",
    "decontaminate",
    "vocab_top_terms",
    "doc_tfidf_terms",
    # r8: paragraph-level dedup + within-doc repetition — both oracles
    # are the same linear explode+groupBy shape as the engine (no
    # all-pairs blowup)
    "dedup_paragraph",
    "doc_repetition",
    # r8: quality filter — one scan-stage projection, linear oracle
    "quality_filter",
    # r8: corpus datasheet — one scan + source-keyed agg, linear oracle
    "corpus_report",
    # r8: cross-source overlap — per-class fan-out bounded by |sources|,
    # oracle's h-equijoin has the same bound (no all-pairs)
    "source_overlap",
    # r9: Bloom decontamination — the oracle is L33's linear
    # shingle-join shape; DSIR — linear explode + m-bounded bin counts
    # in both engines
    "decontaminate_bloom",
    "dsir_selection",
    # r9: TPC-H join shapes, enabled by the orders replicas + static
    # dim links (_build_scaled_orders) — all linear oracles (q21's is
    # the correlated EXISTS form, which DuckDB decorrelates itself)
    "q12_late_priority",
    "q16_supplier_cnt",
    "q21_waiting_supplier",
    "q9_product_profit",
    "q8_market_share",
    # r9: the remaining multi-join classics (the q8 sweep caught a
    # join-order defect; these are the shapes where the same class
    # could hide)
    "q3_top_revenue",
    "q5_nation_revenue",
    "q7_nation_volume",
    "q10_returned_items",
    "q18_large_orders",
    # r10: exact-substring family (linear oracles — the positional
    # winnow + repeated-hash flag is the same no-pair-join shape in
    # both engines) and the CCNet perplexity bucketing (m-bounded,
    # the DSIR shape)
    "dedup_exact_substring",
    "scrub_exact_substrings",
    "lm_perplexity_buckets",
    # r11 (new operator families land with dual-measured scaling rows;
    # all linear oracles: template ground truth, chained-CTE epochs,
    # chained-CTE merge rounds, window arithmetic). text_transforms is
    # deliberately NOT here: its gate entry is a FIXED-SIZE workload
    # (doc_id < 200 on every corpus), so scale ratios don't apply.
    "html_extract",
    "html_clean",
    "classifier_score",
    "bpe_train",
    "bpe_token_counts",
    "shard_assign",
    "export_pipeline",
    "url_normalize",
    # r10: SemDeDup — pair cost bounded by the largest cell in both
    # engines (within-cell joins only), components close in
    # group-diameter rounds / one recursive CTE
    "dedup_semantic",
    # r12: the new operator families (PSL CASE projection, BPE artifact
    # round-trip, 4-epoch softmax chained-CTE replay, frontier off a
    # persisted urls scan) — all linear oracles; crawl_frontier rides
    # along for its missing 1x/10x rows (VERDICT r11 #8)
    "url_domain_psl",
    "bpe_frozen_counts",
    "lang_classifier",
    "lang_mix_trained",
    "crawl_frontier",
    # r13: the artifact round-trip (scores under the FROZEN model; the
    # oracle replays the full fit, so duck pays training while Spark
    # pays save+load+score) and the diff-gated refresh (Spark touches
    # only the changed set; the oracle recomputes everything — the
    # production asymmetry IS the thing measured). Listed after their
    # memo siblings so the sweep regime matches a full catalog run.
    "lang_classifier_frozen",
    # r14: frozen model scores a DIFFERENT corpus (the diff v2
    # universe) — same asymmetry class as _frozen (duck replays the
    # whole fit, Spark pays save+load+score-on-B)
    "lang_classifier_cross",
    "incremental_refresh",
    # r13 (second batch): the curation compositions — all linear
    # oracles (Gopher signals + CCNet normalize + paragraph explode
    # shapes already dual-measured piecewise via quality_filter /
    # dedup_paragraph); measured whole so the aggregate covers the
    # composition overhead, not just the pieces
    "curation_pipeline",
    "boilerplate_scrub",
    "c4_clean",
    # r12 (second batch): normalized dedup + positional phrase search
    # (both single-shuffle), snapshot diff (one full-outer join on
    # pre-hashed ids), MW reweighting (m-bounded rounds over the
    # shared LM loss table) — all linear oracles
    "dedup_normalized",
    "phrase_search",
    "corpus_diff",
    "domain_reweight",
    "doc_novelty",
    "classifier_calibration",
    "hot_key_rollup",
    "reweighted_sample",
    "funnel_conversion",
    "export_manifest",
    "ngram_heavy_hitters",
]
# banded/LSH family: Spark-only scaling (their DuckDB oracles are
# deliberately all-pairs-quadratic correctness checks, not a baseline)
SPARK_ONLY = [
    "dedup_minhash_lsh",
    "dedup_simhash_fast",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "sim_topk_cosine",
    "dedup_components",
    "dedup_incremental",
    "sim_quantized_recall",
    "pack_sequences",
    "dedup_keep_best",
]

# floor-bound micro-queries (VERDICT r6 #4): correct minimal plans that
# sit >=10x above DuckDB at 10x because Spark's ~0.3-0.5 s scheduler
# floor dwarfs DuckDB's ms-scale kernels at toy data. The 100x corpus
# (replica-shifted keys, constant per-key work) shows where the curves
# cross. q1 rides along as the control that already crossed.
X100_QUERIES = [
    "q1_pricing_summary",
    "value_percentiles",
    "range_join_events",
    "range_count_events",
    "dedup_exact",
    "text_profile",
    # r8 (VERDICT #2): the two remaining dual-measured families still
    # >2x at 10x with no 100x evidence — both linear oracles.
    # sacct_eff runs BEFORE sacct_user_rollup so the rollup's 100x row
    # is measured memo-warm, the same regime as its 1x/10x sweep rows
    # (memo-cold the rollup pays the whole synthesize+parse pipeline —
    # measured 51 s at 100x, which is sacct_eff's cost, not the
    # rollup's). sacct_eff itself is Spark-only at 100x: its oracle
    # SELECTs every per-job row and fetchall() of ~15M tuples measures
    # the Python client, not the engine.
    "asof_join_events",
    "sacct_eff",
    "sacct_user_rollup",
    # r8 follow-through: the remaining dual-measured documents-family
    # entries still >2x at 10x — all linear oracles; the rotation
    # corpus's 10-copies-per-doc structure is fine here (per-doc /
    # per-term work, no pair blowup). dedup_paragraph runs before
    # doc_repetition so the memoized paragraph corpus is warm for the
    # second consumer (the sweep regime of their 1x/10x rows).
    "decontaminate",
    "vocab_top_terms",
    "doc_tfidf_terms",
    "dedup_paragraph",
    "doc_repetition",
    "quality_filter",
    # r9 (VERDICT r8 #6): Spark flat 1x->10x while DuckDB grows
    # 2.81x/decade — the 100x row documents the expected cross.
    "source_overlap",
    # r9: the two new document-family entries, same falling-gap trend
    # (dsir 11.6x -> 3.6x, bloom 5.4x -> 3.9x across the first decade)
    "decontaminate_bloom",
    "dsir_selection",
    # r9: TPC-H join shapes, enabled by the orders replicas + static
    # dim links (_build_scaled_orders) — all linear oracles (q21's is
    # the correlated EXISTS form, which DuckDB decorrelates itself)
    "q12_late_priority",
    "q16_supplier_cnt",
    "q21_waiting_supplier",
    "q9_product_profit",
    "q8_market_share",
    "q3_top_revenue",
    "q5_nation_revenue",
    "q7_nation_volume",
    "q10_returned_items",
    "q18_large_orders",
    # r10: perplexity bucketing at 100x (m-bounded bin shuffles — the
    # dsir_selection scale shape)
    "lm_perplexity_buckets",
    # r11: the floor-bound new micros (sub-second walls, big toy-scale
    # letter gaps) get the standard 100x cross-documentation
    "shard_assign",
    "html_extract",
    "url_normalize",
    # r11 (VERDICT r10 #6): 100x rows for the r10 oracle entries that
    # lacked them. The exact-substring pair is dual-measured (linear
    # oracles — the in-SQL winnow recompute costs the same class as
    # the engine kernel); their oracles return per-doc rows/full text,
    # so both wrap in the engine-only aggregate. dedup_semantic is
    # dual-measured through the nlist-scaled spec (see main()).
    "dedup_exact_substring",
    "scrub_exact_substrings",
    "dedup_semantic",
    # r12 (VERDICT r11 #8): 100x rows for the r11 entries still missing
    # a decade, plus the r12 families. Per-doc-output oracles wrap in
    # the engine-only aggregate (X100_DUCK_AGG_WRAP).
    "html_clean",
    "classifier_score",
    "bpe_train",
    "bpe_token_counts",
    "export_pipeline",
    "crawl_frontier",
    "url_domain_psl",
    "bpe_frozen_counts",
    "lang_classifier",
    "lang_mix_trained",
    # r13 additions (same rationale as the 1x/10x list)
    "lang_classifier_frozen",
    "incremental_refresh",
    "curation_pipeline",
    "boilerplate_scrub",
    "c4_clean",
    # r12 (second batch): the round's new operator families get the
    # standard 100x cross-documentation
    "dedup_normalized",
    "phrase_search",
    "corpus_diff",
    "domain_reweight",
    "doc_novelty",
    "classifier_calibration",
    "hot_key_rollup",
    "reweighted_sample",
    "funnel_conversion",
    "export_manifest",
    "ngram_heavy_hitters",
    # r15 (VERDICT r14 #4): the cross-corpus frozen-model seam's pitch
    # is score-many-at-scale; 1x/10x rows existed, 100x didn't. The
    # oracle replays fit + B-side featurization (per-doc output ->
    # agg wrap).
    "lang_classifier_cross",
]
X100_DUCK_SKIP: set[str] = {
    # r11 measured DNF: at the production-scaled spec (nlist=1600,
    # constant cell size) the SemDeDup oracle's within-cell pair join
    # materializes ~78M normalized 64-double list pairs — DuckDB ran
    # 1223 s and then died exceeding a 55 GiB spill budget
    # (/tmp/duck probe, 2026-08-15), while Spark completes the same
    # spec (quantized JVM dot products, no list materialization).
    # Recorded on the SCALING row as duck_100x_dnf; the fixed-nlist
    # gate oracle would be N^2/nlist — strictly worse.
    "dedup_semantic",
}
# r9 (VERDICT r8 #5): sacct_eff's oracle SELECTs every per-job row, so
# fetchall() of ~15M tuples at 100x measures the Python client, not the
# engine. Wrap those oracles in a count+row-hash aggregate so the timed
# region is engine-only (forces full evaluation of every output column,
# returns one row). The Spark side is symmetric already: noop-sink
# writes materialize every row without driver transfer.
X100_DUCK_AGG_WRAP = {
    "sacct_eff",
    # r12: per-doc outputs (~500k rows at 100x) — fetchall would time
    # the Python client, not the engine
    "html_clean",
    "classifier_score",
    "bpe_token_counts",
    "bpe_frozen_counts",
    "url_domain_psl",
    "lang_classifier",
    # r11: per-doc span stats (~500k rows) and full scrubbed text
    # (~corpus-sized bytes) — both would measure fetchall, not the
    # engine, at 100x
    "dedup_exact_substring",
    "scrub_exact_substrings",
    "dedup_semantic",
    # r12 (second batch): cluster-per-distinct-text / match-per-doc /
    # score-per-doc outputs scale with the corpus;
    # corpus_diff/domain_reweight return |sources|-bounded rows and
    # need no wrap
    "dedup_normalized",
    "phrase_search",
    "doc_novelty",
    # r13: per-doc outputs (~500k rows at 100x)
    "lang_classifier_frozen",
    "incremental_refresh",
    "curation_pipeline",
    "boilerplate_scrub",
    "c4_clean",
    # r15: per-doc scores over the v2 universe (~470k rows/x1)
    "lang_classifier_cross",
}
_AGG_WRAP_SQL = "SELECT count(*) AS n, sum(hash(t)) AS h FROM ({sql}) t"
# r8 (VERDICT #4): prove subquadratic LSH growth at 100x. Spark-only —
# the minhash DuckDB oracle is a deliberately all-pairs-quadratic
# correctness check (50k docs -> 2.5e9 candidate pairs), not a baseline.
X100_SPARK_ONLY = [
    "dedup_minhash_lsh",
    # the positional-winnow kernel's 100x row is dedup_exact_substring,
    # dual-measured in X100_QUERIES (listing it here too would time it
    # twice)
]
DST100 = os.environ.get("SPARK_GRAFT_SCALE_DST100", "/tmp/spark_graft_x100")
K100 = int(os.environ.get("SPARK_GRAFT_SCALE_K100", "100"))

ALPHA = "abcdefghij"


def build_scaled_dir(spark) -> None:
    from pyspark.sql import DataFrame

    marker = os.path.join(DST, "_BUILT")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        # events/orders replicas shipped after the main marker: a dir
        # built by an older run has _BUILT but not them — backfill.
        _build_scaled_events(spark)
        _build_scaled_orders(spark)
        return
    import numpy as np
    from pyspark.sql import functions as F

    os.makedirs(DST, exist_ok=True)

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    shift = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    reps = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * shift))
        for i in range(K)
    ]
    functools.reduce(DataFrame.unionByName, reps).write.mode("overwrite").parquet(
        f"{DST}/lineitem.parquet"
    )

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    dshift = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * dshift))
        .withColumn("text", F.translate("text", ALPHA, ALPHA[i:] + ALPHA[:i]))
        for i in range(K)
    ]
    functools.reduce(DataFrame.unionByName, reps).write.mode("overwrite").parquet(
        f"{DST}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    vshift = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    vec_type = emb.schema["embedding"].dataType
    rng = np.random.default_rng(42)
    reps = []
    for i in range(K):
        signs = (
            [1.0] * dim if i == 0
            else (rng.integers(0, 2, dim) * 2.0 - 1.0).tolist()
        )
        sarr = F.array(*[F.lit(float(s)) for s in signs])
        reps.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * vshift))
            .withColumn(
                "embedding",
                F.zip_with("embedding", sarr, lambda x, s: x * s).cast(vec_type),
            )
        )
    functools.reduce(DataFrame.unionByName, reps).write.mode("overwrite").parquet(
        f"{DST}/embeddings.parquet"
    )
    with open(marker, "w") as fh:
        fh.write("ok\n")
    _build_scaled_events(spark)
    _build_scaled_orders(spark)


def _build_scaled_events(spark) -> None:
    """events replicas shift event_id AND user_id: 10x users with the
    same per-user event count/timeline, so windowed/as-of per-key work
    stays constant and the scaling is pure data volume. Guarded by its
    own marker (added after the main marker already shipped)."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    marker = os.path.join(DST, "_BUILT_EVENTS")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) generation
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    eshift = ev.agg(F.max("event_id")).collect()[0][0] + 1
    ushift = ev.agg(F.max("user_id")).collect()[0][0] + 1
    reps = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * eshift))
        .withColumn("user_id", F.col("user_id") + F.lit(i * ushift))
        for i in range(K)
    ]
    functools.reduce(DataFrame.unionByName, reps).write.mode("overwrite").parquet(
        f"{DST}/events.parquet"
    )
    with open(marker, "w") as fh:
        fh.write("ok\n")


def _build_scaled_orders(spark) -> None:
    """orders replicas shift o_orderkey by the SAME stride the lineitem
    replicas used (max l_orderkey + 1 — equal to max o_orderkey in this
    corpus, asserted), so order-line joins line up within each replica;
    o_custkey stays fixed (10x orders against a fixed customer dim —
    how facts actually outgrow dimensions). The static dims
    (customer/supplier/part/nation/region) symlink to the source —
    r9: enables SF-scaling evidence for the TPC-H join shapes.
    Own marker: backfills dirs built by older runs."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    marker = os.path.join(DST, "_BUILT_ORDERS")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        return
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    shift = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    omax = orders.agg(F.max("o_orderkey")).collect()[0][0]
    assert omax < shift, f"order keys {omax} exceed the lineitem stride {shift}"
    reps = [
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * shift))
        for i in range(K)
    ]
    functools.reduce(DataFrame.unionByName, reps).write.mode(
        "overwrite"
    ).parquet(f"{DST}/orders.parquet")
    for t in ("customer", "supplier", "part", "nation", "region"):
        dst = f"{DST}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    with open(marker, "w") as fh:
        fh.write("ok\n")


def build_x100_dir(spark) -> None:
    """100x events + lineitem via one explode(sequence) pass per table
    (not 100 unioned plans): replicas shift the grouping/join keys
    (user_id/event_id, l_orderkey) so per-key work stays constant and
    the scaling is pure data volume — the exact x10 methodology."""
    from pyspark.sql import functions as F

    marker = os.path.join(DST100, "_BUILT")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        # backfill: docs/orders shipped after _BUILT
        _build_x100_docs(spark)
        _build_x100_orders(spark)
        return
    os.makedirs(DST100, exist_ok=True)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) generation
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    eshift = ev.agg(F.max("event_id")).collect()[0][0] + 1
    ushift = ev.agg(F.max("user_id")).collect()[0][0] + 1
    (
        ev.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(K100 - 1))))
        .withColumn("event_id", F.col("event_id") + F.col("_r") * F.lit(eshift))
        .withColumn("user_id", F.col("user_id") + F.col("_r") * F.lit(ushift))
        .drop("_r")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{DST100}/events.parquet")
    )

    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    shift = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    (
        li.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(K100 - 1))))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_r") * F.lit(shift))
        .drop("_r")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{DST100}/lineitem.parquet")
    )

    with open(marker, "w") as fh:
        fh.write("ok\n")
    _build_x100_docs(spark)
    _build_x100_orders(spark)


def _build_x100_orders(spark) -> None:
    """orders at 100x, same stride as the lineitem replicas (r9 — see
    _build_scaled_orders); static dims symlink to the source. Own
    marker: backfills 100x dirs built by older rounds."""
    from pyspark.sql import functions as F

    marker = os.path.join(DST100, "_BUILT_ORDERS")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        return
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    shift = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    omax = orders.agg(F.max("o_orderkey")).collect()[0][0]
    assert omax < shift, f"order keys {omax} exceed the stride {shift}"
    (
        orders.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(K100 - 1)))
        )
        .withColumn(
            "o_orderkey", F.col("o_orderkey") + F.col("_r") * F.lit(shift)
        )
        .drop("_r")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(f"{DST100}/orders.parquet")
    )
    for t in ("customer", "supplier", "part", "nation", "region"):
        dst = f"{DST100}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    with open(marker, "w") as fh:
        fh.write("ok\n")


def _build_x100_docs(spark) -> None:
    """documents: doc_id shift + per-replica letter rotation keyed by
    replica index mod len(ALPHA) — same injective-char-map methodology
    as the x10 build (intra-replica dup structure preserved, almost no
    cross-replica shingle equality). 100 replicas reuse 10 rotations;
    a tenfold repeat of each rotation only multiplies exact-dup GROUP
    SIZES, which is exactly what a 100x corpus should do to
    dedup_exact / text_profile (pure per-row + per-group work). Own
    marker: shipped after the events/lineitem marker."""
    from pyspark.sql import functions as F

    marker = os.path.join(DST100, "_BUILT_DOCS")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        return
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    dshift = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    # translate() needs literal match/replace strings, so build all 10
    # rotated variants and select by replica index (build-time only).
    rotated = F.array(
        *[
            F.translate("text", ALPHA, ALPHA[i:] + ALPHA[:i])
            for i in range(len(ALPHA))
        ]
    )
    (
        docs.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(K100 - 1))))
        .withColumn("doc_id", F.col("doc_id") + F.col("_r") * F.lit(dshift))
        .withColumn(
            "text",
            F.element_at(rotated, (F.col("_r") % len(ALPHA) + 1).cast("int")),
        )
        .drop("_r")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{DST100}/documents.parquet")
    )
    with open(marker, "w") as fh:
        fh.write("ok\n")


def _build_x100_embeddings(spark) -> None:
    """embeddings at 100x: vec_id shift + per-replica random SIGN
    vector (orthogonal reflection — the exact x10 methodology:
    intra-replica cosines preserved, cross-replica cosines collapse
    to noise; replica 0 is the identity so the planted/query id
    ranges stay fixed). Own marker: shipped r11, backfills existing
    100x dirs."""
    import numpy as np
    from pyspark.sql import functions as F

    marker = os.path.join(DST100, "_BUILT_EMB")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        return
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    vshift = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dim = len(emb.select("embedding").first()[0])
    vec_type = emb.schema["embedding"].dataType
    rng = np.random.default_rng(42)
    sign_rows = []
    for i in range(K100):
        sign_rows.append(
            [1.0] * dim if i == 0
            else (rng.integers(0, 2, dim) * 2.0 - 1.0).tolist()
        )
    signs = F.array(
        *[F.array(*[F.lit(float(s)) for s in row]) for row in sign_rows]
    )
    (
        emb.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(K100 - 1)))
        )
        .withColumn("_s", F.element_at(signs, F.col("_r") + 1))
        .withColumn("vec_id", F.col("vec_id") + F.col("_r") * F.lit(vshift))
        .withColumn(
            "embedding",
            F.zip_with("embedding", "_s", lambda x, s: x * s).cast(vec_type),
        )
        .drop("_r", "_s")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{DST100}/embeddings.parquet")
    )
    with open(marker, "w") as fh:
        fh.write("ok\n")


DST100_LSH = os.environ.get(
    "SPARK_GRAFT_SCALE_DST100_LSH", "/tmp/spark_graft_x100_lshdocs"
)


def build_x100_lsh_docs(spark) -> None:
    """documents at 100x with CONSTANT duplicate density: 100 DISTINCT
    seeded alphabet permutations (injective char maps, replica 0 =
    identity), one per replica — vs the main x100 docs build, whose 100
    replicas cycle only 10 rotations and therefore plant 10 exact
    copies of every document (cross-replica LSH buckets grow 10x, true
    pair output grows ~quadratically in replicas-per-rotation). This
    corpus isolates INPUT scaling for the banded/LSH family: intra-
    replica near-dup structure preserved, essentially zero cross-replica
    shingle equality — the same property the x10 corpus has with its 10
    distinct rotations, extended to 100 replicas."""
    import numpy as np
    from pyspark.sql import DataFrame, functions as F

    marker = os.path.join(DST100_LSH, "_BUILT")
    if os.path.exists(marker) and "--rebuild" not in sys.argv:
        return
    os.makedirs(DST100_LSH, exist_ok=True)
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    dshift = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = []
    for i in range(K100):
        if i == 0:
            perm = ALPHA
        else:
            rng = np.random.default_rng(1000 + i)
            perm = "".join(rng.permutation(list(ALPHA)))
        reps.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * dshift))
            .withColumn("text", F.translate("text", ALPHA, perm))
        )
    functools.reduce(DataFrame.unionByName, reps).repartition(
        32
    ).write.mode("overwrite").parquet(f"{DST100_LSH}/documents.parquet")
    with open(marker, "w") as fh:
        fh.write("ok\n")


def _fold(samples: dict[str, list[float]]):
    """(min, median) per query — same policy as bench.py: min is the
    steady-state headline, median exposes page-cache variance."""
    return (
        {k: round(min(v), 3) for k, v in samples.items()},
        {k: round(_median(v), 3) for k, v in samples.items()},
    )


def time_spark(QUERIES, spark, names, sf_dir, passes=3):
    from slurm2sql_spark import catalog

    samples: dict[str, list[float]] = {}
    for _ in range(passes):
        catalog.drop_caches()
        for name in names:
            t0 = time.perf_counter()
            QUERIES[name].spark(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            samples.setdefault(name, []).append(time.perf_counter() - t0)
    catalog.drop_caches()
    return _fold(samples)


def time_duck(QUERIES, names, sf_dir, passes=3, agg_wrap=frozenset()):
    import duckdb

    samples: dict[str, list[float]] = {}
    for _ in range(passes):
        con = duckdb.connect()
        # spill-budget guard (r11): an unbounded spilling oracle once
        # filled the disk mid-sweep and killed unrelated jobs; a query
        # needing more than this is a DNF, not a wall.
        con.execute("SET max_temp_directory_size='55GiB'")
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings".split()
        ):
            p = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(p):
                p = f"{p}/*.parquet"
            if os.path.exists(f"{sf_dir}/{t}.parquet"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for name in names:
            if name in _DUCK_DNF:
                continue
            sql = QUERIES[name].oracle
            if name in agg_wrap:
                sql = _AGG_WRAP_SQL.format(sql=sql)
            t0 = time.perf_counter()
            try:
                con.execute(sql).fetchall()
            except Exception as exc:  # noqa: BLE001 — fault-isolate:
                # one spill-capped oracle must not discard the whole
                # sweep's (expensive) Spark measurements (r12: the
                # r11 semdedup DNF lesson, now enforced in the tool).
                # The connection is poisoned after an OOM — rebuild it.
                _DUCK_DNF[name] = (
                    f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]} "
                    f"(wall at failure: {time.perf_counter() - t0:.0f}s)"
                )
                samples.pop(name, None)
                con.close()
                con = duckdb.connect()
                con.execute("SET max_temp_directory_size='55GiB'")
                for t in (
                    "region nation customer supplier part orders lineitem "
                    "events documents embeddings".split()
                ):
                    p = f"{sf_dir}/{t}.parquet"
                    if os.path.isdir(p):
                        p = f"{p}/*.parquet"
                    if os.path.exists(f"{sf_dir}/{t}.parquet"):
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM '{p}'"
                        )
                continue
            samples.setdefault(name, []).append(time.perf_counter() - t0)
        con.close()
    return _fold(samples)


#: oracles that DNF'd in this process (spill cap / OOM), with reason —
#: recorded on the SCALING row as duck_dnf instead of a wall
_DUCK_DNF: dict[str, str] = {}


def main() -> None:
    from slurm2sql_spark.catalog import QUERIES
    from slurm2sql_spark.session import get_spark

    spark = get_spark(app_name="bench_scaling")
    spark.sparkContext.setLogLevel("ERROR")

    # --x100: measure only the floor-bound micro-queries (+control) on
    # the 100x corpus and merge spark_100x/duck_100x/gap_100x fields
    # into the existing SCALING.json rows.
    # --x100-lsh: input-scaling proof for the banded LSH family on the
    # constant-dup-density 100x docs corpus, plus output-pair counts on
    # every corpus so the rotation-corpus growth number can be
    # normalized by true result cardinality.
    if "--x100-lsh" in sys.argv:
        name = "dedup_minhash_lsh"
        build_x100_lsh_docs(spark)
        time_spark(QUERIES, spark, [name], "/root/testdata/sf0.01", passes=1)
        s_iso, s_iso_med = time_spark(QUERIES, spark, [name], DST100_LSH, passes=3)
        pairs = {}
        for label, d in (("pairs_10x", DST), ("pairs_100x", DST100),
                         ("pairs_100x_iso", DST100_LSH)):
            pairs[label] = QUERIES[name].spark(spark, d).count()
            from slurm2sql_spark import catalog as _cat
            _cat.drop_caches()
        out = {"queries": {}}
        if os.path.exists("SCALING.json"):
            with open("SCALING.json") as fh:
                out = json.load(fh)
        row = out.setdefault("queries", {}).setdefault(name, {})
        row.update(
            spark_100x_iso=s_iso[name],
            spark_100x_iso_med=s_iso_med[name],
            **pairs,
        )
        if row.get("spark_10x"):
            row["growth_10x_to_100x_iso"] = round(
                s_iso[name] / row["spark_10x"], 2
            )
        with open("SCALING.json", "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps(row))
        return

    # --refresh-lowchurn (VERDICT r14 #3): measure incremental_refresh
    # at its stated DESIGN POINT (~1% churn) instead of the gate's
    # deliberately brutal ~37%: Spark diff-gated incremental vs Spark
    # full recompute (the sublinearity claim) vs the DuckDB
    # full-recompute oracle (the baseline gap), at 10x and 100x.
    # Writes a "lowchurn" sub-object onto the incremental_refresh
    # SCALING row.
    if "--refresh-lowchurn" in sys.argv:
        from types import SimpleNamespace

        from slurm2sql_spark.catalog import (
            _refresh_verdicts,
            _t,
            refresh_newv,
            refresh_spec,
        )

        MODS = (200, 250, 500)  # ~0.5% edit + ~0.4% drop + ~0.2% add
        spec = refresh_spec(*MODS)

        def full_fn(s, sf_dir):
            docs = _t(s, sf_dir, "documents").select(
                "doc_id", "text", "source"
            )
            return _refresh_verdicts(refresh_newv(docs, *MODS))

        Q = {
            "inc": spec,
            "full": SimpleNamespace(spark=full_fn, oracle=None),
        }
        build_scaled_dir(spark)
        build_x100_dir(spark)

        # correctness first: the low-churn variant against its own
        # full-recompute DuckDB oracle at the driver's sf0.01 regime
        # (the gate only proves the 5/7/13 spec)
        import duckdb as _duckdb

        _sf001 = "/root/testdata/sf0.01"
        s_rows = spec.spark(spark, _sf001).collect()
        con = _duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings".split()
        ):
            if os.path.exists(f"{_sf001}/{t}.parquet"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{_sf001}/{t}.parquet'"
                )
        rel = con.sql(spec.oracle)
        o_rows = rel.fetchall()
        assert sorted(spec.spark(spark, _sf001).columns) == sorted(
            rel.columns
        )
        def _norm(v):
            import math as _m
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return str(int(v))
            if isinstance(v, float):
                if _m.isnan(v):
                    return "NaN"
                if v == int(v) and abs(v) < 1e15:
                    return str(int(v))
                return repr(v)
            return str(v)
        def _tbl(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(
                "\x1f".join(_norm(r[i]) for i in order) for r in rows
            )
        s_cols = spec.spark(spark, _sf001).columns
        assert _tbl([tuple(r) for r in s_rows], s_cols) == _tbl(
            o_rows, rel.columns
        ), "low-churn incremental != full-recompute oracle at sf0.01"
        con.close()
        print("lowchurn correctness: ok (sf0.01, hash match)")

        out = {"queries": {}}
        if os.path.exists("SCALING.json"):
            with open("SCALING.json") as fh:
                out = json.load(fh)
        row = out.setdefault("queries", {}).setdefault(
            "incremental_refresh", {}
        )
        lc = {"mods": list(MODS), "churn_pct": 1.1}
        # warmup (JIT + prior parquet materialization per dir)
        time_spark(Q, spark, ["inc", "full"], _sf001, passes=1)
        for label, d in (("10x", DST), ("100x", DST100)):
            s_min, s_med = time_spark(Q, spark, ["inc", "full"], d, passes=3)
            d_min, d_med = time_duck(
                {"inc": spec}, ["inc"], d, passes=3, agg_wrap={"inc"}
            )
            lc[f"spark_{label}"] = s_min["inc"]
            lc[f"spark_{label}_med"] = s_med["inc"]
            lc[f"spark_full_{label}"] = s_min["full"]
            lc[f"spark_full_{label}_med"] = s_med["full"]
            if "inc" in d_min:
                lc[f"duck_{label}"] = d_min["inc"]
                lc[f"duck_{label}_med"] = d_med["inc"]
                lc[f"gap_{label}"] = round(s_min["inc"] / d_min["inc"], 2)
                lc[f"gap_{label}_med"] = round(
                    s_med["inc"] / d_med["inc"], 2
                )
            elif "inc" in _DUCK_DNF:
                lc[f"duck_{label}_dnf"] = _DUCK_DNF.pop("inc")
            lc[f"carry_speedup_{label}"] = round(
                s_min["full"] / s_min["inc"], 2
            )
        lc["duck_engine_only"] = True
        row["lowchurn"] = lc
        with open("SCALING.json", "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps(lc))
        return

    if "--x100" in sys.argv:
        build_x100_dir(spark)
        _build_x100_embeddings(spark)
        x100_names = X100_QUERIES + X100_SPARK_ONLY
        if "--only" in sys.argv:
            only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
            unknown = only - set(x100_names)
            if unknown:
                raise SystemExit(
                    f"--x100 --only: not in the x100 set: {sorted(unknown)}"
                )
            x100_names = [n for n in x100_names if n in only]
        duck100_names = [
            n for n in X100_QUERIES
            if n in x100_names and n not in X100_DUCK_SKIP
        ]
        spark100_names = list(x100_names)
        # dedup_semantic's gate entry pins nlist=16 for oracle
        # determinism; at 100x that fixed nlist makes within-cell pair
        # cost quadratic in corpus size (N^2 / nlist) on BOTH engines
        # — hours, and not the paper's posture. Measure through the
        # production knob instead: nlist ~ N/cell_target (16 -> 1600,
        # constant cell size), planted ids shifted clear of the grown
        # vec_id range. Recorded as nlist_100x on the row.
        SEMDEDUP_NLIST_100X = 16 * K100
        Q100 = dict(QUERIES)
        if "dedup_semantic" in x100_names:
            from slurm2sql_spark.catalog import semdedup_spec

            Q100["dedup_semantic"] = semdedup_spec(
                nlist=SEMDEDUP_NLIST_100X, planted_shift=10_000_000
            )
        # warmup on the DEFAULT specs (nlist=1600 > sf0.01's corpus
        # would starve the seed LIMIT; JIT warmth carries either way)
        time_spark(QUERIES, spark, spark100_names, "/root/testdata/sf0.01", passes=1)
        s100, s100_med = time_spark(Q100, spark, spark100_names, DST100, passes=3)
        d100, d100_med = time_duck(
            Q100, duck100_names, DST100, passes=3,
            agg_wrap=X100_DUCK_AGG_WRAP,
        )
        # guarded merge: a missing/renamed row or absent SCALING.json
        # must not throw away the (expensive) measurements just taken
        out = {"queries": {}}
        if os.path.exists("SCALING.json"):
            with open("SCALING.json") as fh:
                out = json.load(fh)
        out.setdefault("queries", {})
        out["k100"] = K100
        for n in spark100_names:
            row = out["queries"].setdefault(n, {})
            row.update(spark_100x=s100[n], spark_100x_med=s100_med[n])
            if n == "dedup_semantic":
                # measured through the production-scaled spec, both
                # engines — NOT the gate's fixed nlist=16 (see above)
                row["nlist_100x"] = SEMDEDUP_NLIST_100X
            if n in d100:
                row.update(
                    duck_100x=d100[n],
                    duck_100x_med=d100_med[n],
                    gap_100x=round(s100[n] / d100[n], 2),
                    gap_100x_med=round(s100_med[n] / d100_med[n], 2),
                )
                if n in X100_DUCK_AGG_WRAP:
                    # oracle wrapped in count+row-hash so the timed
                    # region is engine-only, not 15M-row fetchall
                    row["duck_100x_engine_only"] = True
            elif n in _DUCK_DNF:
                row["duck_100x_dnf"] = _DUCK_DNF[n]
            if row.get("spark_10x"):
                # per-decade growth from 10x->100x: subquadratic banding
                # holds iff this stays near-linear (~<=3 per 10x data)
                row["growth_10x_to_100x"] = round(
                    s100[n] / row["spark_10x"], 2
                )
        with open("SCALING.json", "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps(out))
        return

    build_scaled_dir(spark)

    names = DUCK_QUERIES + SPARK_ONLY
    duck_names = list(DUCK_QUERIES)
    # --only a,b,c: re-measure just those queries and merge into the
    # existing SCALING.json (for refreshing changed operators without
    # paying the full ~15 min sweep).
    merge_into = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = only - set(names)
        if unknown:
            raise SystemExit(f"--only: not in the scaling set: {sorted(unknown)}")
        names = [n for n in names if n in only]
        duck_names = [n for n in duck_names if n in only]
        if os.path.exists("SCALING.json"):
            with open("SCALING.json") as fh:
                merge_into = json.load(fh)

    # warmup (JIT) outside the timed region, at 100x smaller scale
    time_spark(QUERIES, spark, names, "/root/testdata/sf0.01", passes=1)

    s1, s1_med = time_spark(QUERIES, spark, names, SRC, passes=3)
    s10, s10_med = time_spark(QUERIES, spark, names, DST, passes=3)
    d1, d1_med = time_duck(QUERIES, duck_names, SRC, passes=3)
    d10, d10_med = time_duck(QUERIES, duck_names, DST, passes=3)

    out = {
        "k": K,
        "src": SRC,
        # memo-sharing entries (sacct_eff/sacct_user_rollup via the eff
        # memo; dedup_components/dedup_keep_best via dup_labels) are
        # timed in catalog order with caches dropped per PASS — i.e.
        # they measure a session running the full catalog, so the
        # SECOND consumer of a memo reads it warm. An `--only` run of a
        # single consumer measures the same entry cold (full pipeline);
        # don't compare the two regimes row-to-row.
        "policy": "min+median of 3; per-pass cache drop (memo sharing in effect)",
        "queries": {},
    }
    # 100x fields are slow to produce (--x100 runs separately) — carry
    # them forward on any write. Whole rows carry forward ONLY in
    # --only mode (partial refresh); a full sweep rebuilds every row so
    # renamed/removed queries don't survive as ghost rows.
    prev: dict = {}
    if os.path.exists("SCALING.json"):
        with open("SCALING.json") as fh:
            prev = json.load(fh)
    if merge_into is not None:
        out["queries"].update(merge_into.get("queries", {}))
    if "k100" in prev:
        out["k100"] = prev["k100"]
    prev_queries = prev.get("queries", {})
    for n in names:
        q = {
            "spark_1x": s1[n],
            "spark_10x": s10[n],
            "spark_ratio": round(s10[n] / s1[n], 2),
            "spark_1x_med": s1_med[n],
            "spark_10x_med": s10_med[n],
        }
        if n in d1:
            q.update(
                duck_1x=d1[n],
                duck_10x=d10[n],
                duck_ratio=round(d10[n] / d1[n], 2),
                duck_1x_med=d1_med[n],
                duck_10x_med=d10_med[n],
                gap_1x=round(s1[n] / d1[n], 2),
                gap_10x=round(s10[n] / d10[n], 2),
                gap_1x_med=round(s1_med[n] / d1_med[n], 2),
                gap_10x_med=round(s10_med[n] / d10_med[n], 2),
            )
        old = prev_queries.get(n, {})
        q.update({k: v for k, v in old.items() if "100x" in k})
        out["queries"][n] = q
    with open("SCALING.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
