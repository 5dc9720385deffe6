"""Physical-plan regression tests: pin the scale-critical plan
properties (pushdown, pruning, broadcast, shuffle counts, no
row-at-a-time Python) so a refactor that silently degrades the plan
fails CI, not the cluster.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, df, mode: str = "simple") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def catalog():
    from slurm2sql_spark import catalog as C

    return C


def test_q1_filter_pushdown_and_pruning(spark, catalog):
    plan = _plan(
        spark,
        catalog.QUERIES["q1_pricing_summary"].spark(spark, SF_DIR),
        mode="formatted",
    )
    # date predicate reaches the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # column pruning: the scan schema carries only referenced columns
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_quantity" in read_schema and "l_comment" not in read_schema


def test_q3_broadcasts_both_dims(spark, catalog):
    plan = _plan(spark, catalog.QUERIES["q3_top_revenue"].spark(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_exact_dedup_single_shuffle(spark, catalog):
    plan = _plan(spark, catalog.QUERIES["dedup_exact"].spark(spark, SF_DIR))
    # one hash aggregate pair around one exchange; keys are the md5 hash
    assert plan.count("Exchange") == 1


def test_sacct_eff_no_collect_no_python(spark, catalog):
    catalog.drop_caches()
    df = catalog.QUERIES["sacct_eff"].spark(spark, SF_DIR)
    plan = _plan(spark, df)
    # fully JVM-side: no Python evaluation of any kind in the flagship
    assert "Python" not in plan
    # distributed end to end: nothing funnels through a single partition
    assert "CollectLimit" not in plan
    # shuffles: 2x fan-out repartition (AQE reuses the exchange at
    # runtime), allocation distinct, eff groupBy — bounded constant
    n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
    assert n_ex <= 4, plan[:2000]
    catalog.drop_caches()


def test_no_row_at_a_time_python_in_any_catalog_plan(spark, catalog):
    """Arrow-batched Python (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) is allowed where documented; row-at-a-time
    BatchEvalPython is never acceptable in an engine plan. Neither is
    an unbroadcast cartesian product — BroadcastNestedLoopJoin over a
    broadcast tiny side (1-row totals, 10-row query sets) is fine,
    CartesianProductExec (both sides shuffled all-to-all) never is."""
    catalog.drop_caches()
    for name, spec in catalog.QUERIES.items():
        plan = _plan(spark, spec.spark(spark, SF_DIR), mode="simple")
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    catalog.drop_caches()


def test_sim_topk_broadcasts_queries(spark, catalog):
    catalog.drop_caches()
    plan = _plan(spark, catalog.QUERIES["sim_topk_cosine"].spark(spark, SF_DIR))
    # corpus scan stays shuffle-free until the per-query window
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    catalog.drop_caches()


def test_fan_out_avoids_python_rdd_conversion(spark, monkeypatch):
    """fan_out must never build the Python RDD conversion (DataFrame.rdd);
    it reads the partition count from the JVM query plan instead."""
    from pyspark.sql import DataFrame

    from slurm2sql_spark.plans import fan_out

    def _boom(self):
        raise AssertionError("fan_out touched DataFrame.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(_boom))
    df = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id")
    out = fan_out(df, target=64)
    assert out.count() > 0


def test_fan_out_known_count_skips_planning(spark, monkeypatch):
    """With current_partitions supplied, fan_out plans nothing at all."""
    from slurm2sql_spark.plans import partitioning

    def _boom(df):
        raise AssertionError("fan_out planned the frame despite a known count")

    monkeypatch.setattr(partitioning, "_plan_partition_count", _boom)
    df = spark.range(10)
    # enough partitions already -> identity, no planning
    assert partitioning.fan_out(df, target=4, current_partitions=8) is df
    # too few -> repartition, still no planning
    out = partitioning.fan_out(df, target=16, current_partitions=2)
    assert out is not df and out.count() == 10


def test_ngram_jaccard_shingle_frame_is_cached(spark, catalog):
    """The post-filter shingle frame must go through the cache: its
    three consumers (sizes + both self-join sides) would otherwise each
    re-execute the Arrow shingle kernel (per-branch column pruning
    defeats exchange reuse). Asserts InMemoryTableScan feeds every
    consumer; the ArrowEvalPython count in the printed plan is not a
    reliable signal (the cached child plan is re-printed per scan)."""
    catalog.drop_caches()
    df = catalog.QUERIES["dedup_ngram_jaccard"].spark(spark, SF_DIR)
    plan = _plan(spark, df, mode="simple")
    assert plan.count("InMemoryTableScan") >= 3, plan[:1500]
    catalog.drop_caches()


def test_dump_scan_plan_is_jvm_side_single_scan(spark, tmp_path):
    """The default --sacct-dump path must stay whole-stage-codegen'd:
    one text scan, split/filter as JVM expressions, no Python eval and
    no shuffle (the parse is a pure map stage)."""
    from slurm2sql_spark.sources.csv_source import sacct_dump_scan

    p = tmp_path / "d.txt"
    p.write_text("JobID;|;User\n1;|;a\n2;|;b\n")
    ok, bad = sacct_dump_scan(spark, str(p))
    for df in (ok, bad):
        plan = _plan(spark, df)
        assert "Python" not in plan
        assert "Exchange" not in plan  # map-only: no shuffle anywhere


def test_q18_aqe_broadcasts_unhinted_aggregate(spark, catalog):
    """VERDICT r7 #5: q18's HAVING-filtered aggregate carries NO forced
    broadcast hint (no size guarantee on an unbounded fact table at
    100 TB) — AQE must still pick a broadcast join from the measured
    post-aggregation size at test scale."""
    df = catalog.QUERIES["q18_large_orders"].spark(spark, SF_DIR)
    logical = df._jdf.queryExecution().logical().toString()
    assert "hint" not in logical.lower()  # de-hinted
    df.write.mode("overwrite").format("noop").save()  # let AQE finalize
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final


def test_q6_all_predicates_pushed_to_scan(spark, catalog):
    """VERDICT r8 #7: q6 is the predicate-pushdown showcase — its
    conjunctive predicates (date window, discount band, quantity cap)
    must reach the parquet scan as PushedFilters, and the scan must
    read only the 4 referenced columns."""
    plan = _plan(
        spark,
        catalog.QUERIES["q6_forecast_revenue"].spark(spark, SF_DIR),
        mode="formatted",
    )
    pushed = plan.split("PushedFilters", 1)[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_q17_broadcasts_part_filter_no_window(spark, catalog):
    """q17's decorrelation contract: the brand/type part filter
    broadcasts onto the fact scan, the per-part threshold is a grouped
    aggregate joined back (never a Window over l_partkey — per-part
    row counts are unbounded for hot parts and window partitions can't
    skew-split)."""
    df = catalog.QUERIES["q17_small_qty_revenue"].spark(spark, SF_DIR)
    plan = _plan(spark, df)
    assert "BroadcastHashJoin" in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in optimized


def test_q13_left_join_keeps_zero_bucket(spark, catalog, tmp_path):
    """q13's LEFT join predicate lives INSIDE the join condition so
    customers whose every order is excluded (or who have none) survive
    into the ZERO bucket — the defining q13 subtlety a WHERE-clause
    filter would break. Planted data: every sf* customer has non-urgent
    orders, so the bucket only exists when the shape is right."""
    df = catalog.QUERIES["q13_customer_distribution"].spark(spark, SF_DIR)
    logical = df._jdf.queryExecution().logical().toString()
    assert "hint" not in logical.lower()  # orders side unbounded
    # all customers survive the left join: bucket counts sum to |customer|
    n_cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    assert sum(r["custdist"] for r in df.collect()) == n_cust

    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")],
        "c_custkey long, c_name string",
    ).write.parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        # cust 1: two countable; cust 2: only an excluded URGENT order
        # (the zero bucket a WHERE filter would drop); cust 3: no orders
        [(10, 1, "5-LOW"), (11, 1, "2-HIGH"), (12, 2, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    rows = {
        r["c_count"]: r["custdist"]
        for r in catalog.QUERIES["q13_customer_distribution"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert rows == {0: 2, 2: 1}


def test_q19_manual_or_factoring_pushes_both_scans(spark, catalog):
    """q19's cross-table disjunction cannot reach a scan as-is;
    the common implicates are factored manually and must show up as
    PushedFilters on BOTH sides (part: brand set + size cap; fact:
    quantity band) so neither scan reads the full table at 100 TB."""
    plan = _plan(
        spark,
        catalog.QUERIES["q19_disjunctive_revenue"].spark(spark, SF_DIR),
        mode="formatted",
    )
    scans = plan.split("PushedFilters")[1:]
    joined = " | ".join(s[:300] for s in scans)
    assert "l_quantity" in joined, f"fact side not pushed: {joined}"
    assert "p_size" in joined and "p_brand" in joined, (
        f"part side not pushed: {joined}"
    )


def test_q21_decorrelation_plan_and_only_late_semantics(spark, catalog, tmp_path):
    """q21's EXISTS + NOT EXISTS decorrelation: no cartesian product,
    the top-100 is a TakeOrdered (never a global sort), and the planted
    truth table pins the semantics — a supplier counts only when the
    order is finished, multi-supplier, and it is the SOLE late one
    (line-granular: two late lines in one qualifying order count 2)."""
    df = catalog.QUERIES["q21_waiting_supplier"].spark(spark, SF_DIR)
    plan = _plan(spark, df)
    assert "CartesianProduct" not in plan
    assert "TakeOrdered" in plan

    base = "2000-01-01 00:00:00"
    late = "2000-06-01 00:00:00"
    ontime = "2000-01-15 00:00:00"
    spark.createDataFrame(
        [
            (1, base, "F"), (2, base, "F"), (3, base, "F"), (4, base, "O"),
        ],
        "o_orderkey long, o_orderdate string, o_orderstatus string",
    ).selectExpr(
        "o_orderkey", "cast(o_orderdate as timestamp) o_orderdate",
        "o_orderstatus",
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [
            # order 1: supp 10 late twice, supp 11 on time -> 10 counts 2
            (1, 10, late), (1, 10, late), (1, 11, ontime),
            # order 2: both suppliers late -> NOT EXISTS fails, nobody
            (2, 10, late), (2, 12, late),
            # order 3: single-supplier late -> EXISTS fails, nobody
            (3, 13, late),
            # order 4: open status -> filtered before anything
            (4, 14, late), (4, 15, ontime),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_suppkey", "cast(l_shipdate as timestamp) l_shipdate",
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(i, f"S{i}") for i in (10, 11, 12, 13, 14, 15)],
        "s_suppkey long, s_name string",
    ).write.parquet(f"{tmp_path}/supplier.parquet")
    rows = {
        r["s_name"]: r["numwait"]
        for r in catalog.QUERIES["q21_waiting_supplier"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert rows == {"S10": 2}


def test_q16_blocklist_anti_join_and_pair_collapse(spark, catalog):
    """q16's NOT IN becomes a left_anti join (s_suppkey is non-null so
    the semantics agree), and the who-supplies-what relation collapses
    to DISTINCT pairs BEFORE the part join, so the count-distinct sees
    part x supplier cardinality, not fact cardinality."""
    df = catalog.QUERIES["q16_supplier_cnt"].spark(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in optimized
    # a blocked supplier never appears in any group's distinct count
    blocked = {
        r["s_suppkey"]
        for r in spark.read.parquet(f"{SF_DIR}/supplier.parquet")
        .filter("s_acctbal < 0")
        .collect()
    }
    if blocked:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        with_blocked = li.filter(
            li.l_suppkey.isin(*blocked)
        ).count()
        assert with_blocked > 0  # the exclusion actually bites


def test_q20_semi_join_no_dedup_shuffle(spark, catalog):
    """q20's outer IN is a left_semi against supplier — supplier rows
    emit at most once with no distinct-then-join dedup shuffle."""
    df = catalog.QUERIES["q20_heavy_shippers"].spark(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in optimized
    keys = [r["s_suppkey"] for r in df.collect()]
    assert len(keys) == len(set(keys))


def test_q11_grouped_frame_computed_once(spark, catalog):
    """q11's docstring contract: the per-part value frame feeds BOTH
    the scalar cutoff and the filter from ONE materialization — both
    consumers must read the memoized cache, not re-run the join+agg."""
    plan = (
        catalog.QUERIES["q11_important_stock"]
        .spark(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("InMemoryTableScan") >= 2


def test_classifier_score_plans_are_arrow_one_exchange(spark, catalog):
    """VERDICT r13 #2: the r13 Arrow rewrite's plan shape, pinned —
    the scoring half of the classifier family is ONE corpus exchange
    (the per-doc bin-array grouping) feeding an Arrow-batched kernel
    (MapInPandas), never the dead r12 broadcast-join chains (which
    planned 32-135 shuffles and BroadcastNestedLoopJoin stacks)."""
    catalog.drop_caches()
    for name in ("classifier_score", "lang_classifier"):
        df = catalog.QUERIES[name].spark(spark, SF_DIR)
        plan = _plan(spark, df)
        assert (
            "MapInPandas" in plan or "ArrowEvalPython" in plan
        ), (name, plan[:1500])
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BatchEvalPython" not in plan, name
        # corpus-side exchanges: the feature grouping (+ the final
        # label join's two sides at most) — the r12 join formulation
        # planned dozens
        n_ex = plan.count("Exchange") - plan.count("ReusedExchange")
        assert n_ex <= 5, (name, n_ex, plan[:2000])
    catalog.drop_caches()
