"""Physical-plan shape assertions: pushdown reaches the scan, dims are
broadcast, hot paths stay in whole-stage codegen ("measure, don't
guess" — these lock in the 100 TB-relevant plan properties)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.plans.explain import (
    formatted_plan,
    scan_read_schema,
    uses_broadcast_join,
    whole_stage_codegen_spans,
)
from rusty_timeseries_db_spark.queries import (
    T,
    q_agg_pricing_summary,
    q_filter_range,
    q_join_inner_broadcast,
)
from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = q_filter_range(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "PushedFilters" in plan
    # the user_id equality must be pushed, not evaluated post-scan only
    assert "EqualTo(user_id,7)" in plan.replace(" ", "").replace("`", ""), plan


def test_column_pruning(spark):
    df = T(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    rs = scan_read_schema(df)
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_dim_join_is_broadcast(spark):
    df = q_join_inner_broadcast(spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_no_forced_broadcast_of_sf_scaling_tables(spark):
    """customer/supplier grow with sf (15M customer rows at sf100) — a
    forced broadcast hint on them OOMs executors at cluster scale. Only
    the fixed-size dims (nation=25, region=5 rows) may carry hints.
    Asserted on the *optimized logical* plan: ResolvedHint survives
    there for hinted relations, so its absence proves no forced hint
    (AQE may still choose broadcast at tiny sf — that is the point)."""
    from rusty_timeseries_db_spark.queries import (
        q_tpch_q3,
        q_tpch_q5,
        q_tpch_q10,
    )

    for qfn in (q_join_inner_broadcast, q_tpch_q3, q_tpch_q5, q_tpch_q10):
        df = qfn(spark, SF_DIR)
        lines = df._jdf.queryExecution().analyzed().toString().splitlines()
        hinted = 0
        for i, line in enumerate(lines):
            if "ResolvedHint" not in line:
                continue
            hinted += 1
            # the hint wraps the next Relation below it; customer carries
            # c_custkey, supplier carries s_suppkey — neither may appear
            rel = next(
                (l for l in lines[i + 1 : i + 6] if "Relation" in l), ""
            )
            assert "c_custkey" not in rel and "s_suppkey" not in rel, (
                f"{qfn.__name__} force-broadcasts an sf-scaling table: {rel}"
            )
        if qfn is not q_tpch_q3:  # q3 joins no fixed-size dim at all
            assert hinted >= 1, (
                f"{qfn.__name__}: expected a nation/region broadcast hint"
            )


def test_agg_uses_codegen_and_partial_agg(spark):
    df = q_agg_pricing_summary(spark, SF_DIR)
    plan = formatted_plan(df)
    assert whole_stage_codegen_spans(df) >= 1
    # partial (map-side) + final aggregate pair
    assert plan.count("HashAggregate") >= 2


def test_topk_is_take_ordered(spark):
    df = (
        T(spark, SF_DIR, "orders")
        .orderBy(F.col("o_totalprice").desc())
        .limit(5)
    )
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_bucket_pruning_on_query_by_id(spark, tmp_path):
    """query_by_id must hit only the probe series' bucket partition."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from tests.conftest import CANONICAL_ROWS, SERIES_ID

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    df = eng.query_by_id(SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z")
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "series_bucket" in plan


def test_q18_semi_join_prunes_before_fat_join(spark):
    """TPC-H Q18 shape: the HAVING-IN subquery must run as a semi join
    (orders pruned by the heavy-order list BEFORE the 3-way join), not
    as a full join + post-filter."""
    from rusty_timeseries_db_spark.queries import q_tpch_q18

    plan = formatted_plan(q_tpch_q18(spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_q21_semi_and_anti_joins(spark):
    """Q21 shape: EXISTS → LeftSemi, NOT EXISTS → LeftAnti — both as
    join operators, never a cartesian + filter."""
    from rusty_timeseries_db_spark.queries import q_tpch_q21

    plan = formatted_plan(q_tpch_q21(spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_deterministic_sample_is_map_side_only(spark):
    """The hash-bucket sample must add NO exchange: it's a filter in
    the scan stage (the whole point of content-deterministic sampling
    at 100 TB)."""
    from rusty_timeseries_db_spark.operators.sampling import (
        deterministic_sample,
    )

    e = T(spark, SF_DIR, "events")
    df = deterministic_sample(e, "event_id", 0.05).select("event_id")
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan


def test_hash_split_is_map_side_only(spark):
    from rusty_timeseries_db_spark.operators.sampling import hash_split

    d = T(spark, SF_DIR, "documents")
    plan = formatted_plan(hash_split(d, "doc_id").select("doc_id", "split"))
    assert "Exchange" not in plan, plan


def test_weighted_sample_is_map_side_only(spark):
    """The mixture sampler is a CASE + hash filter — same zero-exchange
    contract as the other samplers."""
    from rusty_timeseries_db_spark.operators.sampling import weighted_sample

    d = T(spark, SF_DIR, "documents")
    plan = formatted_plan(
        weighted_sample(d, "source", "doc_id", {"src0": 0.5}, 0.1)
        .select("doc_id", "source")
    )
    assert "Exchange" not in plan, plan


def test_sequence_packing_no_global_sort(spark):
    """Packing must sort per shard, never globally: exactly one
    hash-partitioned exchange on the shard key and NO range exchange
    (rangepartitioning = a global sort's signature)."""
    from rusty_timeseries_db_spark.operators.packing import pack_stats

    d = T(spark, SF_DIR, "documents").withColumn(
        "n_tok", F.length("text")
    )
    plan = formatted_plan(pack_stats(d, "doc_id", "n_tok", 512, shards=8))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning(shard" in plan.lower().replace("#", "(#").replace(
        "(shard(", "(shard"
    ) or "hashpartitioning" in plan.lower(), plan


def test_q6_filters_pushed_to_scan(spark):
    from rusty_timeseries_db_spark.queries import q_tpch_q6

    plan = formatted_plan(q_tpch_q6(spark, SF_DIR))
    squashed = plan.replace(" ", "")
    assert "PushedFilters" in plan
    assert "LessThan(l_quantity,24.0)" in squashed, plan


def test_tfidf_single_documents_scan(spark):
    """df-as-window-count must not re-scan documents: exactly ONE
    parquet scan of documents in the plan (plus the broadcast scalar's
    own scan)."""
    from rusty_timeseries_db_spark.queries import q_tfidf_top_terms

    import re

    plan = formatted_plan(q_tfidf_top_terms(spark, SF_DIR))
    # formatted mode names each scan once in the detail section as
    # "(<id>) Scan parquet" — count those, not tree-art repeats
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans <= 2, f"expected <=2 scans (tf + count scalar): {plan}"


def test_attach_scalar_plans_hash_join_not_nested_loop(spark):
    """attach_scalar (the 1-row-aggregate broadcast) must survive
    Catalyst as a BroadcastHashJoin: a foldable key would be
    constant-folded and the join re-planned as a nested-loop/cartesian
    node — the exact shape the helper exists to avoid."""
    from rusty_timeseries_db_spark.queries import (
        q_tfidf_top_terms,
        q_unigram_surprisal,
        q_tpch_q22,
    )

    for fn in (q_tfidf_top_terms, q_unigram_surprisal, q_tpch_q22):
        plan = formatted_plan(fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_q4_exists_is_semi_join(spark):
    """Q4's EXISTS must plan as a left-semi join (never a full join +
    distinct), with only (orderkey, shipdate) read from lineitem."""
    from rusty_timeseries_db_spark.queries import q_tpch_q4

    plan = formatted_plan(q_tpch_q4(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    import re

    m = re.search(r"ReadSchema:.*l_orderkey.*", plan)
    assert m and "l_extendedprice" not in m.group(0), plan


def test_q13_left_join_preserves_zero_count_customers(spark):
    """The ON-clause filter must stay in the JOIN (outer rows with zero
    qualifying orders survive as c_count=0) — pushing it to a WHERE
    would silently drop them."""
    from rusty_timeseries_db_spark.queries import q_tpch_q13

    # sf0.01: the smoke sf has no customer without qualifying orders
    rows = {
        r.c_count: r.custdist
        for r in q_tpch_q13(spark, "/root/testdata/sf0.01").collect()
    }
    assert 0 in rows and rows[0] > 0


def test_assign_nearest_argmin_is_aggregate_not_window(spark):
    """The nearest-centroid argmin must
    plan as a (partial-aggregating) min_by aggregate — a Window node
    here would mean the k-times-expanded scored stream is shuffled
    wholesale again."""
    from rusty_timeseries_db_spark.operators.clustering import (
        assign_nearest,
        label_centroids,
    )

    df = spark.createDataFrame(
        [(i, i % 3, [float(i), float(i % 5)]) for i in range(30)],
        "vec_id bigint, label int, embedding array<float>",
    )
    cent = label_centroids(df).select("label", "centroid")
    plan = formatted_plan(assign_nearest(df, cent))
    assert "Window" not in plan
    # map-side combine present: partial_min_by before the exchange
    assert "partial_min_by" in plan or "partial_minby" in plan.lower()


def test_registry_lists_queries_in_declaration_order():
    """``all_queries()`` is the registry in declaration order with one
    entry per name, and ``all_oracles()`` its oracle-bearing subset in
    the same order."""
    from rusty_timeseries_db_spark import queries as Q

    names = [s.name for s in Q._REGISTRY]
    assert list(Q.all_queries()) == names
    assert len(Q.all_queries()) == len(Q._REGISTRY)
    assert list(Q.all_oracles().items()) == [
        (s.name, s.oracle) for s in Q._REGISTRY if s.oracle is not None
    ]


def test_table_loader_sets_no_session_conf(spark, sf_dir):
    """``T()`` leaves the session's confs as it found them (the session
    factory owns them), and ``events.ts`` still reads as a timestamp."""
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        df = T(spark, sf_dir, "events")
        row = df.select("ts").where("ts IS NOT NULL").limit(1).collect()
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, orig)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert isinstance(row[0]["ts"], datetime.datetime)


def test_dsir_weights_plan_shape(spark):
    """The DSIR model side broadcasts (constant-key equi-join, never a
    nested loop) and nothing buffers a single-partition window — the
    1024-row log-ratio table is the ONLY thing that crosses to every
    task."""
    from rusty_timeseries_db_spark.queries import q_dsir_weights

    plan = formatted_plan(q_dsir_weights(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_dsir_select_is_take_ordered(spark):
    """Gumbel-top-k selection plans as TakeOrderedAndProject —
    per-partition heaps + a k-row driver merge, never a global sort."""
    from rusty_timeseries_db_spark.queries import q_dsir_select

    plan = formatted_plan(q_dsir_select(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_paragraph_dedup_no_window_no_nested_loop(spark):
    """The keep/drop decision is a map-side-combining groupBy + hash
    join, NOT a count-over-hash window (which would buffer a skewed
    paragraph hash's whole partition to count it)."""
    from rusty_timeseries_db_spark.queries import q_paragraph_dedup

    plan = formatted_plan(q_paragraph_dedup(spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_predict_linear_single_aggregate(spark):
    """predict_linear is ONE grouped aggregate: exactly one shuffle
    exchange (to the series key), no window, no join."""
    from rusty_timeseries_db_spark.queries import q_predict_linear

    import re

    plan = formatted_plan(q_predict_linear(spark, SF_DIR))
    assert "Window" not in plan and "Join" not in plan
    # the formatted plan names each node once in the tree and once in
    # the detail section — count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


# --------------------------------------- operator plan shapes

def test_merge_upsert_never_shuffles_target(spark):
    """merge_upsert's contract plan: two broadcast legs, ZERO
    exchanges, zero sort-merge joins — the target is only ever the
    streamed probe side."""
    import re

    from rusty_timeseries_db_spark.operators.scd2 import merge_upsert
    from rusty_timeseries_db_spark.queries import T

    target = T(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )
    source = target.filter(F.col("event_id") % 50 == 0).select(
        "event_id", (F.col("value") * 2).alias("value")
    )
    plan = formatted_plan(
        merge_upsert(target, source, keys=["event_id"],
                     update_cols=["value"])
    )
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
    assert plan.count("BroadcastHashJoin") >= 3


def test_bm25_plans_take_ordered_and_broadcasts(spark):
    """bm25_topk's contract plan: TakeOrderedAndProject selection (no
    global sort), broadcast joins only, no nested loop."""
    from rusty_timeseries_db_spark.operators.retrieval import bm25_topk
    from rusty_timeseries_db_spark.queries import T

    plan = formatted_plan(
        bm25_topk(
            T(spark, SF_DIR, "documents"),
            ["hash", "merge", "scan", "slow"],
        )
    )
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "SortMergeJoin" not in plan


def test_counter_irate_plans_window_group_limit_shape(spark):
    """counter_irate's rank window prunes each group to 2 rows before
    anything buffers."""
    from rusty_timeseries_db_spark.operators.resample import counter_irate
    from rusty_timeseries_db_spark.queries import T

    e = T(spark, SF_DIR, "events").filter(F.col("user_id") < 50)
    plan = formatted_plan(
        counter_irate(e, key="user_id", ts="ts", value="value",
                      order_tiebreak="event_id")
    )
    assert "WindowGroupLimit" in plan


def test_logrank_grid_and_grouped_spine_plan_hash_joins(spark):
    """The two new many×many dims grids — logrank's
    groups × churn-times at-risk grid and the grouped quality
    trainer's langs × bucket spine — must plan as BroadcastHashJoin
    on the derived constant key, never a nested-loop/cartesian node
    (the attach_scalar contract generalized to many-row sides)."""
    from rusty_timeseries_db_spark.queries import (
        q_logrank_cohorts,
        q_quality_classifier_by_lang,
    )

    for fn in (q_logrank_cohorts, q_quality_classifier_by_lang):
        plan = formatted_plan(fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_survival_and_multiclass_plans_hash_joins(spark):
    """The new dims grids — the omnibus' reuse of the
    logrank at-risk grid, multiclass training's classes × bucket
    spine, and classification's doc × class spine — must all plan as
    BroadcastHashJoin on the derived constant key, never a
    nested-loop/cartesian node; RMST adds only windows over the KM
    reduction (no join wider than the model)."""
    from rusty_timeseries_db_spark.queries import (
        q_logrank_omnibus,
        q_nelson_aalen,
        q_quality_multiclass,
        q_rmst,
    )

    for fn in (q_logrank_omnibus, q_quality_multiclass):
        plan = formatted_plan(fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__
    for fn in (q_nelson_aalen, q_rmst):
        plan = formatted_plan(fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
