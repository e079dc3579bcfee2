"""Physical-plan assertions — the performance properties value-hashing
can't see (SURVEY §5.4):

1. the stacked window pipeline (rebase + delta over the same (id, date)
   spec) runs with a SINGLE Exchange hashpartitioning(id) — the shared
   window spec reuses one shuffle+sort;
2. parquet scans get column pruning (narrow ReadSchema) and predicate
   pushdown (PushedFilters);
3. the fact x dim join is a BroadcastHashJoin, not a shuffle join;
4. the flagship export and the graph loops stay inside job-count
   budgets at sf0.01.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_single_exchange_for_stacked_windows(spark, sf_dir):
    from clear_map_data_pipeline_spark.operators import stats
    from clear_map_data_pipeline_spark.operators.rebase import rebase_censored
    from clear_map_data_pipeline_spark.queries.common import moh_daily
    from clear_map_data_pipeline_spark.session import Tables

    daily = moh_daily(Tables(spark, sf_dir))
    stacked = stats.daily_delta(
        rebase_censored(daily, {"cases": "new_case", "vaccine": "new_vaccine"}),
        "cases",
    )
    plan = _formatted_plan(stacked)
    # the (id)-only hash exchange feeding the window stack must appear
    # exactly once: the rebase windows and the delta window share one
    # shuffle+sort (formatted mode puts partitioning on Arguments lines)
    id_exchanges = len(re.findall(r"hashpartitioning\(id#\d+L?, \d", plan))
    assert id_exchanges == 1, f"expected 1 id-exchange, got {id_exchanges}:\n{plan}"
    # both window operators stack over that single exchange + sort
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    from clear_map_data_pipeline_spark.queries.core import p2_project_rename

    q = p2_project_rename(spark, sf_dir)
    plan = _formatted_plan(q)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"
    }, read_cols


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.session import Tables

    df = (
        Tables(spark, sf_dir)
        .lineitem.filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
    )
    plan = _formatted_plan(df)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", plan), plan


def test_dim_join_is_broadcast(spark, sf_dir):
    from clear_map_data_pipeline_spark.registry import load_all

    q = load_all()["w1_rebase_censored"].builder(spark, sf_dir)
    plan = _formatted_plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Both join sides bucketed by the key with equal bucket counts ->
    the equi-join plans with ZERO Exchange nodes (co-located reads),
    the layout that amortizes the fact-table shuffle at 100 TB."""
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.sources.writers import (
        write_bucketed_table,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = Tables(spark, sf_dir)
        write_bucketed_table(
            t.lineitem.select("l_orderkey", "l_extendedprice"),
            "t_bkt_lineitem", "l_orderkey", n_buckets=8, sort_col="l_orderkey",
        )
        write_bucketed_table(
            t.orders.select("o_orderkey", "o_custkey"),
            "t_bkt_orders", "o_orderkey", n_buckets=8, sort_col="o_orderkey",
        )
        joined = spark.table("t_bkt_lineitem").join(
            spark.table("t_bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert not re.search(r"\(\d+\) Exchange", plan), plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS t_bkt_orders")


def test_keep_best_dedup_single_exchange(spark, sf_dir):
    # dd_keep_best is folded into suite_dedup_exact (registry cap);
    # plan-assert the standalone builder directly
    from clear_map_data_pipeline_spark.queries.dedup import dd_keep_best

    plan = _formatted_plan(dd_keep_best(spark, sf_dir))
    # count() and row_number() share one content_hash exchange + sort
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_stratified_sample_is_map_only(spark, sf_dir):
    from clear_map_data_pipeline_spark.registry import load_all

    plan = _formatted_plan(
        load_all()["tx_stratified_sample"].builder(spark, sf_dir)
    )
    assert "Exchange" not in plan, plan  # zero shuffles: scan+filter+project


def test_range_bucket_join_is_broadcast_hash(spark, sf_dir):
    from clear_map_data_pipeline_spark.registry import load_all

    plan = _formatted_plan(
        load_all()["j_range_bucket_join"].builder(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan  # the rewrite's whole point


def test_pii_and_repetition_are_map_only(spark, sf_dir):
    # corpus filters are per-row JVM expressions: zero shuffles, the
    # filter/project fuses into the scan stage
    from clear_map_data_pipeline_spark.queries.text import (
        tx2_redact_pii,
        tx2_repetition,
        tx2_url_stats,
    )

    for builder in (tx2_redact_pii, tx2_repetition, tx2_url_stats):
        plan = _formatted_plan(builder(spark, sf_dir))
        assert "Exchange" not in plan, (builder.__name__, plan)


def test_contamination_benchmark_side_is_broadcast(spark, sf_dir):
    # the benchmark shingle set broadcasts; corpus shingles never
    # shuffle — only the final distinct-ids aggregation exchanges
    from clear_map_data_pipeline_spark.queries.text import tx2_contamination

    plan = _formatted_plan(tx2_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"LeftSemi", plan), plan
    # exchanges: broadcast build side + the distinct agg — but no
    # hash-partition shuffle of the corpus shingle stream pre-join
    joins = re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert not joins, plan


def test_ivf_trained_centroids_are_broadcast(spark, sf_dir):
    from clear_map_data_pipeline_spark.queries.similarity import (
        sim_ivf_kmeans_topk,
    )

    plan = _formatted_plan(sim_ivf_kmeans_topk(spark, sf_dir))
    # both the assignment and probe cross-joins against the centroid
    # frame must be broadcast — never a shuffled join of vectors x cents
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan or "cid" not in plan.split("SortMergeJoin")[1][:200], plan


def test_q3_topk_is_heap_not_sort(spark, sf_dir):
    # the global top-10 must compile to TakeOrderedAndProject
    # (per-partition heaps, driver merges 10 rows) — a full global Sort
    # would shuffle every group at 100 TB
    from clear_map_data_pipeline_spark.queries.joins import (
        tpch_q3_shipping_priority,
    )

    plan = _formatted_plan(tpch_q3_shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    # filtered customer broadcasts; lineitem⋈orders may broadcast at
    # fixture scale, but nothing may fall back to nested-loop
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    # both date filters reach the parquet scans
    assert plan.count("PushedFilters: [IsNotNull") >= 2, plan


def test_connected_components_shuffles_only_pairs(spark):
    # each star round is groupBy-min + equi-join over (long, long)
    # pairs; ReadSchema on checkpointed edges stays 2-column and no
    # stage materializes document payloads
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.operators.graph import _large_star

    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(50)], ["src", "dst"]
    )
    plan = _formatted_plan(_large_star(edges))
    # one aggregate (the per-node min) and its exchange; the join side
    # reuses the same exchange output — no extra wide operators
    assert "HashAggregate" in plan, plan


def test_registry_wide_plan_lint(spark):
    """Fleet-wide plan lint: NO registered query may compile to a
    cartesian product or a row-at-a-time Python UDF (BatchEvalPython),
    and every BroadcastNestedLoopJoin must be the documented
    1-row/centroid/bounds crossJoin pattern — the audit the round-2
    review ran by hand, pinned as a test.  SinglePartition exchanges
    are NOT flagged: the canonical partial->final global aggregate
    requires one and only ever moves pre-aggregated rows."""
    from clear_map_data_pipeline_spark.registry import load_all

    # conditional (non-cross) BNLJs that are correct BY DESIGN:
    conditional_bnlj_ok = {
        # the guarded brute-force cosine baseline IS all-pairs — that's
        # what guard_baseline_rows exists for (similarity.py)
        "suite_cosine_exact",
        # range comparison against a broadcast ONE-ROW bounds aggregate
        # (o_orderdate >= scalar from a 1-row frame)
        "suite_semi_anti_join",
    }
    registry = load_all()
    offenders = {}
    for name, qd in registry.items():
        df = qd.builder(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("row-at-a-time PythonUDF")
        # BNLJ is allowed when its build side is a broadcast of a
        # bounded 1-row/centroid/bounds frame (the documented pattern);
        # any NEW conditional BNLJ must be adjudicated here — an
        # unreviewed one is a scale bug until proven otherwise.
        if name not in conditional_bnlj_ok:
            for line in plan.splitlines():
                if "BroadcastNestedLoopJoin" in line and "Cross" not in line:
                    flags.append(f"conditional BNLJ: {line.strip()[:80]}")
        if flags:
            offenders[name] = flags
    # print (not just assert-message) so pytest -q truncation can't
    # hide WHICH query flagged — r08 saw the offender cut to "{'s..."
    if offenders:
        print(f"\nplan-lint offenders: {offenders}")
    assert not offenders, offenders


def test_heavy_hitters_verify_join_is_broadcast_semi(spark, sf_dir):
    """The exact verify pass must be a BROADCAST left-semi join of the
    bounded candidate set onto the key stream — a shuffled semi-join
    here would move the whole token stream and defeat the
    Misra-Gries pass entirely."""
    from clear_map_data_pipeline_spark.operators.sketches import (
        heavy_hitters,
    )
    from clear_map_data_pipeline_spark.session import Tables
    from pyspark.sql import functions as F
    from clear_map_data_pipeline_spark.operators.text import tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(F.explode(tokens("text")).alias("token"))
    plan = _formatted_plan(heavy_hitters(toks, "token", phi_denom=30))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hll_overlap_summaries_join_broadcast(spark, sf_dir):
    """The three 1-row sketch summaries combine via broadcast joins —
    never a shuffled join of register tables."""
    from clear_map_data_pipeline_spark.operators.sketches import hll_overlap
    from clear_map_data_pipeline_spark.session import Tables
    from pyspark.sql import functions as F

    t = Tables(spark, sf_dir)
    left = t.orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    right = t.orders.where(F.col("o_orderpriority") == "5-LOW").select(
        "o_custkey"
    )
    plan = _formatted_plan(hll_overlap(left, right, "o_custkey"))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan
    )


def test_tpch_q9_partsupp_join_shape(spark, sf_dir):
    """q9's plan contract at scale: every dimension side broadcasts,
    the red-part filter reaches BOTH fact inputs (the explicit semi
    join shrinks the shuffled partsupp side ~8x), and the composite
    (partkey, suppkey) join stays a shuffle join — broadcastable at
    fixture scale but partsupp is fact-sized at 100 TB, so the lint
    only forbids the pathologies (cartesian/BNLJ), not the AQE
    broadcast promotion."""
    from clear_map_data_pipeline_spark.queries.tpch_missing import (
        tpch_q9_product_type_profit,
    )

    df = tpch_q9_product_type_profit(spark, sf_dir)
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # part / supplier / nation dims + the partsupp-shrinking semi join
    # all arrive via broadcast exchanges
    assert plan.count("BroadcastExchange") >= 4, plan
    assert "LeftSemi" in plan, plan


def test_tpch_q21_single_stats_aggregate(spark, sf_dir):
    """q21 must pay ONE per-order aggregate (the fused conditional
    countDistinct), not the two separate shuffles of the textbook
    EXISTS/NOT-EXISTS rewrite: exactly one aggregate keyed on
    l_orderkey with two count(distinct) outputs."""
    from clear_map_data_pipeline_spark.queries.tpch_missing import (
        tpch_q21_suppliers_who_kept_waiting,
    )

    df = tpch_q21_suppliers_who_kept_waiting(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # Catalyst rewrites the multi-distinct as ONE expand+gid aggregate
    # pair: both _ns and _nl must be produced by the SAME Aggregate
    # node (two separate stats aggregates would mean two fact shuffles)
    fused = [
        ln
        for ln in plan.splitlines()
        if "AS _ns#" in ln and "AS _nl#" in ln
    ]
    assert len(fused) == 1, plan
    # and no second aggregate computes either alone
    lone = [
        ln
        for ln in plan.splitlines()
        if ("AS _ns#" in ln) != ("AS _nl#" in ln)
    ]
    assert not lone, plan


# Upper bounds on the Spark jobs of ONE run (build + noop write, pins
# released first) at the sf0.01 gate scale, so a job-structure
# regression fails by count on a box whose walls swing with CPU steal.
# Each bound is the count measured on the test session (three runs,
# identical) plus 4 jobs: AQE broadcast choices have moved the flagship
# prefix by about 3 jobs between runs.
JOB_BUDGETS = {
    "pipeline_export_weeks_1": 28,  # measured 24
    "gr_scc": 63,  # measured 59
    "gr_kcore": 17,  # measured 13
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_job_budget_at_gate_scale(spark, gate_sf_dir, name):
    from perfbench import probe

    from clear_map_data_pipeline_spark.cachereg import release_all
    from clear_map_data_pipeline_spark.queries.suites import SUITES
    from clear_map_data_pipeline_spark.registry import load_all

    builders = {n: q.builder for n, q in load_all().items()}
    builders.update({s.name: s.builder for s in SUITES["suite_graph"]})
    tracer = probe.Tracer(spark.sparkContext)
    release_all()
    try:
        # a phase of its own: group names restart at /0 per Tracer
        with tracer.span(name, f"test_plan.{name}") as sp:
            df = builders[name](spark, gate_sf_dir)
            df.write.format("noop").mode("overwrite").save()
    finally:
        release_all()
    counts = probe.group_counts(tracer.sc, [sp["group"]])[sp["group"]]
    assert 0 < counts["jobs"] <= JOB_BUDGETS[name], counts
