"""Similarity search operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_expression(spark):
    from slurm2sql_spark.operators.similarity import cosine

    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<double>, b array<double>",
    )
    got = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert got[0] == pytest.approx(1 / math.sqrt(2))
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.0)


def test_cosine_topk(spark, emb):
    from slurm2sql_spark.operators.similarity import cosine_topk

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    out = cosine_topk(qs, cs, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 4
        sims = [r["sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["c_id"] != q for r in rows)


def test_lsh_topk_recall(spark, emb):
    """LSH approximate top-k should recover a decent fraction of the
    exact top-5 on clustered embeddings."""
    from slurm2sql_spark.operators.similarity import cosine_topk, lsh_topk

    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    exact = {
        (r["q_id"], r["c_id"]) for r in cosine_topk(qs, cs, k=5).collect()
    }
    approx = {
        (r["q_id"], r["c_id"]) for r in lsh_topk(qs, cs, k=5, planes=16, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_embedding_near_dup_self(spark):
    from slurm2sql_spark.operators.similarity import embedding_near_dup_pairs

    base = [0.1 * i for i in range(8)]
    near = list(base)
    near[0] += 1e-4
    far = [1.0, -1.0, 0.5, -0.5, 0.2, -0.2, 0.1, -0.1]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, embedding array<double>"
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.99, dim=8
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_ivf_topk_recall_and_shape(spark):
    """IVF with nprobe=nlist degenerates to exact brute force; with a
    partial probe it still returns k ranked rows per query."""
    import math

    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.similarity import cosine_topk, ivf_topk

    # 3 well-separated clusters of 20 vectors each in 8-d; cluster =
    # id % 3, so the lowest-id centroid seeds span every cluster
    rows = []
    for i in range(60):
        c = i % 3
        base = [1.0 if d == c else 0.0 for d in range(8)]
        v = [x + 0.01 * ((i * 7 + d) % 5) for d, x in enumerate(base)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cs = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    # exhaustive probe == exact
    full = ivf_topk(qs, cs, k=5, nlist=4, nprobe=4, iters=1)
    exact = cosine_topk(qs, cs, k=5)
    got = {(r.q_id, r.c_id) for r in full.collect()}
    want = {(r.q_id, r.c_id) for r in exact.collect()}
    assert got == want
    # partial probe: a query's nearest cell holds only its own cluster
    # (clusters are well separated and the seeds span them), so every
    # returned neighbor is in-cluster
    part = ivf_topk(qs, cs, k=5, nlist=4, nprobe=1, iters=1).collect()
    per_q = {}
    for r in part:
        per_q.setdefault(r.q_id, []).append(r.c_id)
    assert set(per_q) == {0, 1, 2}
    for q, cands in per_q.items():
        assert 1 <= len(cands) <= 5
        assert all(c % 3 == q % 3 for c in cands)


def test_ivf_centroids_deterministic(spark):
    from pyspark.sql import functions as F

    from slurm2sql_spark.operators.similarity import ivf_centroids

    emb = spark.createDataFrame(
        [(i, [float((i * 13 + d) % 7) for d in range(4)]) for i in range(40)],
        "c_id long, c_vec array<double>",
    )
    a = ivf_centroids(emb, nlist=4, iters=1)
    b = ivf_centroids(emb, nlist=4, iters=1)
    assert a == b


def test_ivf_cell_balance_guard(spark):
    """A clustered corpus whose nlist lowest ids all sit in one tight
    cluster degenerates lowest-id seeding into one giant Voronoi cell;
    max_cell_share triggers the hash-spread re-seed and bounds the
    largest cell."""
    import numpy as np

    from slurm2sql_spark.operators.similarity import (
        ivf_cell_counts,
        ivf_centroids,
    )

    rng = np.random.default_rng(7)
    rows = []
    # ids 0..15: identical vectors (the degenerate seed set for
    # nlist=16 — every similarity ties, stable argsort sends all rows
    # to cell 0)
    for i in range(16):
        rows.append((i, [10.0, 0.0, 0.0, 0.0]))
    # ids 16..415: 8 well-separated clusters, 50 rows each
    basis = rng.normal(0, 1, (8, 4)) * 10
    for j in range(400):
        c = j % 8
        rows.append((16 + j, (basis[c] + rng.normal(0, 0.05, 4)).tolist()))
    emb = spark.createDataFrame(rows, "c_id long, c_vec array<double>")

    plain = ivf_centroids(emb, nlist=16, iters=1)
    plain_counts = ivf_cell_counts(emb, plain)
    # the degenerate seeding really is degenerate on this corpus
    assert max(plain_counts) > 0.5 * sum(plain_counts)

    guarded = ivf_centroids(emb, nlist=16, iters=1, max_cell_share=0.5)
    counts = ivf_cell_counts(emb, guarded)
    assert sum(counts) == 416
    assert max(counts) <= 0.5 * 416


def test_quantize_roundtrip_error_bounded(spark):
    import numpy as np

    from slurm2sql_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(0, 1, 32).tolist()) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(emb, "vec_id", "embedding")
    qs = {r.id: (r.q_scale, list(r.qvec)) for r in q.collect()}
    # int8 range respected, max component hits exactly +-127
    for i, (scale, qvec) in qs.items():
        assert all(-127 <= v <= 127 for v in qvec)
        assert max(abs(v) for v in qvec) == 127
    back = {r.vec_id: np.array(r.vec)
            for r in dequantize_embeddings(q).withColumnRenamed("id", "vec_id").collect()}
    for i, orig in rows:
        err = np.abs(back[i] - np.array(orig)).max()
        scale = qs[i][0]
        assert err <= 0.5 / scale + 1e-12  # half-step quantization bound


def test_quantized_topk_matches_exact_on_separated_data(spark):
    import numpy as np

    from slurm2sql_spark.operators.similarity import cosine_topk, quantized_topk

    rng = np.random.default_rng(11)
    basis = rng.normal(0, 1, (5, 16)) * 4
    rows = [(i, (basis[i % 5] + rng.normal(0, 0.05, 16)).tolist()) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter("vec_id < 5").selectExpr("vec_id as q_id", "embedding as q_vec")
    cs = emb.selectExpr("vec_id as c_id", "embedding as c_vec")
    exact = {(r.q_id, r.c_id) for r in cosine_topk(qs, cs, k=5).collect()}
    quant = {(r.q_id, r.c_id) for r in quantized_topk(qs, cs, k=5).collect()}
    # int8 flips ranks only among near-ties WITHIN a cluster; across the
    # well-separated clusters membership must hold, and overall recall
    # must stay high
    assert len(exact & quant) / len(exact) >= 0.8
    assert all(c % 5 == q for q, c in quant)  # never leaves the cluster


def test_tune_lsh_scales_buckets_and_keeps_recall():
    import math

    from slurm2sql_spark.operators.similarity import tune_lsh

    def recall(threshold, w, b):
        p = 1.0 - math.acos(threshold) / math.pi
        return 1.0 - (1.0 - p**w) ** b

    for n in (1_000, 100_000, 10_000_000):
        for threshold in (0.9, 0.95, 0.99):
            w, b = tune_lsh(n, threshold)
            assert recall(threshold, w, b) >= 0.95
            # bucket space scales with the corpus
            assert 2**w >= n / 128
    # more data -> wider bands
    assert tune_lsh(10_000_000, 0.95)[0] > tune_lsh(1_000, 0.95)[0]


def test_embedding_near_dup_auto_tune_recovers_planted(spark):
    import numpy as np

    from slurm2sql_spark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(0, 1, 16).tolist()) for i in range(2000)]
    planted = set()
    for i in range(20):
        base = np.array(rows[i][1])
        rows.append((5000 + i, (base + rng.normal(0, 1e-3, 16)).tolist()))
        planted.add((i, 5000 + i))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.99, dim=16, auto_tune=True
        ).collect()
    }
    assert planted <= got
    # random 16-d pairs essentially never hit cosine .99; nothing extra
    assert got == planted


def test_band_key_rows_rejects_indivisible_planes(spark):
    from slurm2sql_spark.operators.similarity import _band_key_rows

    emb = spark.createDataFrame(
        [(0, [0.1] * 8)], "id long, v array<double>"
    )
    with pytest.raises(AssertionError, match="divisible"):
        _band_key_rows(emb, "id", "v", planes=17, bands=4, dim=8)


def test_tune_lsh_warns_when_bands_cap_binds(caplog):
    import logging

    from slurm2sql_spark.operators.similarity import tune_lsh

    with caplog.at_level(logging.WARNING, "slurm2sql_spark.operators.similarity"):
        # a low threshold at huge n needs far more than max_bands bands
        w, b = tune_lsh(10_000_000, threshold=0.6, max_bands=8)
    assert b == 8
    assert any("bands capped" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, "slurm2sql_spark.operators.similarity"):
        tune_lsh(10_000, threshold=0.95)  # cap does not bind
    assert not caplog.records


def test_persisted_frames_warn_past_bound(spark, monkeypatch):
    import warnings

    from slurm2sql_spark.operators import dedup, textstats

    # one registry: dedup re-exports textstats' persist/release pair
    assert dedup._persist is textstats._persist
    assert dedup.release_caches is textstats.release_caches
    monkeypatch.setattr(textstats, "_PERSISTED", [])
    monkeypatch.setattr(textstats, "_PERSISTED_WARN", 3)
    df = spark.range(1)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for _ in range(3):
            dedup._persist(df)
    assert any(issubclass(x.category, ResourceWarning) for x in w)
    dedup.release_caches()
    assert not textstats._PERSISTED


def test_embedding_near_dup_default_is_auto_tuned(spark, monkeypatch):
    """The DEFAULT call path must size banding from the corpus count —
    the fixed legacy 16/4 config is measured quadratic at scale (13x
    wall at 10x data). Explicitly pinned (planes, bands) must still be
    honored verbatim (oracle-checked catalog entry relies on it)."""
    from slurm2sql_spark.operators import similarity as sim

    calls: list[tuple[int, float]] = []
    real_tune = sim.tune_lsh

    def spy(n, threshold=0.95, **kw):
        calls.append((n, threshold))
        return real_tune(n, threshold, **kw)

    monkeypatch.setattr(sim, "tune_lsh", spy)
    emb = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(seed=i) * 2 - 1) for i in range(8)]).alias("v"),
    )
    # default path: no banding args -> must consult tune_lsh with n=500
    sim.embedding_near_dup_pairs(emb, "vec_id", "v", dim=8).collect()
    assert calls and calls[-1][0] == 500
    # pinned path: explicit planes+bands -> tune_lsh NOT consulted
    n_calls = len(calls)
    sim.embedding_near_dup_pairs(
        emb, "vec_id", "v", dim=8, planes=32, bands=4
    ).collect()
    assert len(calls) == n_calls
    # one-sided pin: an explicit planes= (legacy bands default) must
    # also be honored, not silently replaced by tuned values
    sim.embedding_near_dup_pairs(
        emb, "vec_id", "v", dim=8, planes=32
    ).collect()
    assert len(calls) == n_calls
    # forced path: auto_tune=True overrides pinned banding
    sim.embedding_near_dup_pairs(
        emb, "vec_id", "v", dim=8, planes=32, bands=4, auto_tune=True
    ).collect()
    assert len(calls) == n_calls + 1


def test_train_centroids_match_numpy_lloyd(spark):
    """The executor-side per-cell mean aggregation (nlist array rows
    collected, never nlist*dim exploded triples) must compute exactly
    the Lloyd step: seed = nlist lowest-id vectors, assign by cosine,
    new centroid = plain mean of assigned vectors."""
    import numpy as np

    from slurm2sql_spark.operators.similarity import ivf_centroids

    rng = np.random.default_rng(11)
    vecs = rng.normal(0, 1, (50, 6))
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(50)],
        "c_id long, c_vec array<double>",
    )
    got = np.array(ivf_centroids(emb, nlist=4, iters=2))

    cents = vecs[:4].copy()
    for _ in range(2):
        cn = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
        )
        vn = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
        )
        cells = np.argmax(vn @ cn.T, axis=1)
        for c in range(4):
            if (cells == c).any():
                cents[c] = vecs[cells == c].mean(axis=0)
    assert np.allclose(got, cents, atol=1e-9)


def test_train_centroids_arrow_path_matches_expression_path(spark, monkeypatch):
    """At production dims (4k+) the per-position F.avg expression array
    is swapped for the Arrow partial-sum path (plan O(1) in dim,
    VERDICT r6 #8). Forcing the swap at a small dim must reproduce the
    expression path's centroids exactly — same Lloyd step, different
    aggregation machinery."""
    import numpy as np

    from slurm2sql_spark.operators import similarity as S

    rng = np.random.default_rng(12)
    vecs = rng.normal(0, 1, (60, 6))
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(60)],
        "c_id long, c_vec array<double>",
    ).repartition(5)  # multiple partitions: exercises the partial merge
    expr = np.array(S.ivf_centroids(emb, nlist=4, iters=2))
    monkeypatch.setattr(S, "_EXPR_MEANS_MAX_DIM", 0)
    arrow = np.array(S.ivf_centroids(emb, nlist=4, iters=2))
    assert np.allclose(expr, arrow, atol=1e-12)


def test_semdedup_keeps_one_per_semantic_group(spark):
    """SemDeDup contract: a group of near-identical vectors collapses
    to its min-id member; distinct vectors all survive; every input
    row comes back exactly once with its cell and component."""
    import numpy as np

    from slurm2sql_spark.operators.similarity import semdedup

    rng = np.random.default_rng(7)
    rows = []
    # 20 well-separated random vectors
    base = {}
    for i in range(20):
        v = rng.normal(size=16)
        v /= np.linalg.norm(v)
        base[i] = v
        rows.append((i, [float(x) for x in v]))
    # ids 100/101: near-copies of vector 3 (tiny nudge)
    for j, eps in ((100, 1e-3), (101, 2e-3)):
        v = base[3] + eps
        rows.append((j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semdedup(
            df, "vec_id", "embedding", nlist=4, threshold=0.99
        ).collect()
    }
    assert len(out) == 22  # every row exactly once
    # the group {3, 100, 101} collapses onto 3
    for j in (3, 100, 101):
        assert out[j]["component"] == 3
    assert out[3]["keep"] and not out[100]["keep"] and not out[101]["keep"]
    # all other vectors are their own component and kept
    for i in range(20):
        if i != 3:
            assert out[i]["component"] == i and out[i]["keep"]
