"""Physical-plan audits: the scale-critical properties .explain() must
show. These encode the 100 TB requirements — filters/projections reach
the parquet scan, dimension joins broadcast, candidate joins are
equi-joins (never cartesian), top-k pushes its limit into the window
sort — so a regression that silently de-optimizes a plan fails CI, not
a cluster bill.
"""

from __future__ import annotations

import pytest

from async_event_streams_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "c_scan_parquet")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)" in plan
    # only the 4 selected columns reach the reader
    assert "l_extendedprice" in plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_returnflag" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "c_join_equi")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_joins_stay_broadcast_at_this_scale(spark, sf_dir):
    for name in ("c_join_semi", "c_join_anti"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_range_join_is_broadcast_nested_loop_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "c_join_range")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_pushes_group_limit_into_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "c_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_minhash_candidates_join_is_equi_join(spark, sf_dir):
    """The LSH property: candidate generation must be a hash join on
    band_key, never an all-pairs product."""
    plan = plan_of(spark, sf_dir, "x_dedup_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_asof_join_is_single_window_no_join_explosion(spark, sf_dir):
    """The as-of strategy: union + window, one shuffle on the key —
    no join operator at all in the plan."""
    plan = plan_of(spark, sf_dir, "c_join_asof")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one for the window, one AQE read


def test_agg_uses_partial_aggregation(spark, sf_dir):
    """Map-side combine: two HashAggregate levels around one Exchange."""
    plan = plan_of(spark, sf_dir, "c_agg_basic")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_ivf_assignment_has_no_exchange(spark, sf_dir):
    """IVF cell assignment must be computed in the scan stage (ivf_cell
    argmax over literal centroids): zero exchanges, zero joins — every
    vector's cell is a local expression. Both the earlier forms fail
    this bar: a window row_number shuffles the N*K cross-join output,
    and even max_by partial aggregation shuffles all N vectors (with
    embedding payloads) to finalize map-local groups.
    (Audited on the pre-materialize sub-plan: localCheckpoint truncates
    the lineage in the full query's explain.)"""
    from pyspark.sql import functions as F

    from async_event_streams_spark.queries.llm import _IVF_K, ivf_assign
    from async_event_streams_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").alias("e"))
    cents = [
        list(r.e)
        for r in v.filter(F.col("vec_id") < _IVF_K).orderBy("vec_id").collect()
    ]
    df = ivf_assign(v, cents)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_whole_stage_codegen_covers_hot_paths(spark, sf_dir):
    # codegen explain mode (formatted mode hides codegen spans under an
    # unexecuted AdaptiveSparkPlan wrapper)
    for name in ("c_agg_basic", "b4_classify_fizzbuzz", "c_window_rank"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
        assert "WholeStageCodegen subtree" in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "b4_classify_fizzbuzz",
        "c_agg_basic",
        "c_stream_tumbling",
        "c_agg_boolean",
        "c_agg_stats",
        "c_string_agg",
    ],
)
def test_single_shuffle_aggregations(spark, sf_dir, name):
    """These aggregations shuffle at most twice, and every exchange
    moves only grouped partials (c_agg_basic's scaled-long fast path is
    an explicit two-level aggregation — both its exchanges carry
    O(|groups| x partitions) rows, never row volume)."""
    plan = plan_of(spark, sf_dir, name)
    n_exchange = op_count(plan, "Exchange")
    assert n_exchange <= 2, f"{name}: {n_exchange} Exchanges"


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """At 100 TB a fact⋈filtered-dim shuffle join should seed a bloom
    filter from the dim keys and apply it at the fact scan (row-group
    skipping before the shuffle). The session enables the optimization;
    its size thresholds keep it dormant at test SF, so lower them here
    and prove the rewrite actually fires on our join shape."""
    from async_event_streams_spark.tables import table

    confs = {
        # force the shuffle join (bloom filters don't apply to broadcast)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        lineitem = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders")
        joined = lineitem.join(
            orders.filter("o_orderpriority = '1-URGENT'"),
            lineitem.l_orderkey == orders.o_orderkey,
        ).select("l_orderkey", "l_quantity", "o_orderpriority")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        # the injected filter shows up as might_contain(<bloom subquery>)
        # applied on the fact side before its Exchange
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def op_count(plan: str, op: str) -> int:
    """Count physical operators via their numbered detail headers —
    the tree art repeats each name, so a raw substring count doubles."""
    import re
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.M))


def test_tpch_q6_all_predicates_reach_scan(spark, sf_dir):
    """Q6 is scan-bandwidth-bound by construction: every predicate
    (date range, discount band, quantity cap) must appear in
    PushedFilters so parquet row-group min/max stats can skip IO; the
    aggregate is a scalar partial-agg (one row per task crosses the
    single exchange)."""
    plan = plan_of(spark, sf_dir, "c_tpch_q6")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount",
        "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert frag in pushed, f"missing {frag} in {pushed}"
    assert "partial_sum" in plan
    assert op_count(plan, "Exchange") == 1  # the single scalar-agg exchange


def test_tpch_q1_single_shuffle_partial_agg(spark, sf_dir):
    """Q1's 8 aggregates over a 6-value group key: the date filter is
    pushed to the scan and all per-row work is map-side. Since the r4
    scaled-long fast path the plan is a TWO-LEVEL aggregation — partial
    sums per (group, scan-partition) in exact int64, then the
    DECIMAL(38,0) final combine — so it shows two exchanges, both tiny:
    the first moves ≤6 rows per scan partition (the pid-grouped
    partials), the second ≤6 rows per shuffle partition. The row volume
    through every exchange is O(|groups| × partitions), never O(rows);
    per-row decimal arithmetic is gone from the hot scan stage."""
    plan = plan_of(spark, sf_dir, "c_tpch_q1")
    assert "LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan
    assert "SPARK_PARTITION_ID" in plan  # the explicit partial level
    assert op_count(plan, "Exchange") == 2
    # the no-wrap guard must survive optimization (it is what makes the
    # long path safe to run on data that could overflow a partial);
    # assert_true compiles to a conditional raise_error
    assert "raise_error" in plan.lower()


def test_tpch_q10_broadcasts_and_takeordered(spark, sf_dir):
    """Q10: the quarter-filtered orders, customer, and nation sides all
    broadcast (no shuffle join anywhere), the only wide exchange is the
    groupBy(custkey), and the top-20 is TakeOrderedAndProject — never a
    global sort."""
    plan = plan_of(spark, sf_dir, "c_tpch_q10")
    assert op_count(plan, "BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    # 3 broadcast exchanges + 1 agg exchange
    assert op_count(plan, "Exchange") == 1 and op_count(plan, "BroadcastExchange") == 3


def test_unpivot_is_local_expand(spark, sf_dir):
    """UNPIVOT must compile to a zero-shuffle Expand above the
    aggregation — melting wide→long is a per-row local expansion, and a
    plan that exchanges for it would shuffle k× the data at scale."""
    plan = plan_of(spark, sf_dir, "c_unpivot")
    assert "Expand" in plan
    assert op_count(plan, "Exchange") == 1  # only the upstream agg shuffle


def test_tpch_q18_aggregates_before_joining(spark, sf_dir):
    """Q18: lineitem collapses through ONE partial-agg shuffle before
    any join; the surviving big-order keys and customer broadcast; the
    top-100 is TakeOrderedAndProject (no global sort)."""
    plan = plan_of(spark, sf_dir, "c_tpch_q18")
    assert op_count(plan, "Exchange") == 1  # only the orderkey agg
    assert op_count(plan, "BroadcastHashJoin") == 2
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan


def test_q2_shape_min_table_broadcasts(spark, sf_dir):
    """Q2 shape: the decorrelated per-part MIN table broadcasts back to
    the fact — the fact side must not shuffle for the argmin match."""
    plan = plan_of(spark, sf_dir, "c_subquery_correlated")
    assert op_count(plan, "BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_ngram_counts_is_partial_agg_topk(spark, sf_dir):
    """Corpus n-gram stats: one partial-agg shuffle on gram, then
    TakeOrderedAndProject — the full gram distribution is never
    globally sorted."""
    plan = plan_of(spark, sf_dir, "x_ngram_counts")
    assert op_count(plan, "Exchange") == 1
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_length_percentiles_single_exchange_pruned_scan(spark, sf_dir):
    """Per-source percentiles: the scan reads only (text, source), the
    percentile buffers aggregate partially map-side (ObjectHashAggregate)
    and exactly one exchange moves the handful of source-keyed buffers."""
    plan = plan_of(spark, sf_dir, "x_length_percentiles")
    assert "ReadSchema: struct<text:string,source:string>" in plan
    assert "ObjectHashAggregate" in plan and "partial_" in plan
    assert op_count(plan, "Exchange") == 1


def test_dup_rate_two_phase_distinct(spark, sf_dir):
    """Corpus dup-rate: count(distinct md5) compiles to the two-phase
    distinct aggregation - first exchange keyed by the hash (distributed
    dedup), second a scalar final - never a single-task distinct."""
    plan = plan_of(spark, sf_dir, "x_dup_rate")
    assert op_count(plan, "Exchange") == 2
    assert "partial_" in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_q1_falls_back_to_decimal_on_disqualified_data(spark, tmp_path):
    """The scaled-long fast path is gated on the profiled preconditions
    (non-negative, <= 2 decimals, no nulls). Data that violates them —
    here a 3-decimal price — must take the all-decimal plan (no
    partition-id partial level) and still aggregate exactly."""
    import datetime

    from pyspark.sql import functions as F

    from async_event_streams_spark.queries import QUERIES
    from async_event_streams_spark.queries.relational import _money_profile

    ts = datetime.datetime(1995, 1, 1)
    rows = [
        ("A", "F", 10.0, 100.005, 0.05, 0.02, ts),  # 3dp price
        ("A", "F", 20.0, 200.00, 0.00, 0.04, ts),
    ]
    (
        spark.createDataFrame(
            rows,
            "l_returnflag string, l_linestatus string, l_quantity double, "
            "l_extendedprice double, l_discount double, l_tax double, "
            "l_shipdate timestamp",
        ).write.parquet(str(tmp_path / "lineitem.parquet"))
    )
    sf = str(tmp_path)
    assert _money_profile(spark, sf) is None
    df = QUERIES["c_tpch_q1"](spark, sf)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SPARK_PARTITION_ID" not in plan  # decimal path, not long
    got = {(r.l_returnflag, r.l_linestatus): r for r in df.collect()}
    r = got[("A", "F")]
    assert r.sum_qty == 30.0 and r.count_order == 2
    # decimal path quantizes the price at the DECIMAL(12,2) cast first:
    # 100.005 -> 100.01; 100.01*0.95 + 200.00*1.00 = 295.0095 -> 295.01
    assert r.sum_disc_price == 295.01


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """The io.write_bucketed_table promise, plan-asserted: both join
    sides pre-bucketed on the join key with the same bucket count read
    co-located, so the join runs with ZERO Exchange — at 100 TB this is
    the difference between re-shuffling two fact tables per join and
    reading them joined in place. (Broadcast is disabled to force the
    shuffle-join code path the bucketing must elide.)"""
    from pyspark.sql import functions as F

    from async_event_streams_spark.io import write_bucketed_table
    from async_event_streams_spark.tables import table

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/warehouse'"
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        write_bucketed_table(
            orders, "bkt.orders_b", ["o_orderkey"], n_buckets=8,
            sort_by=["o_orderkey"],
        )
        write_bucketed_table(
            li, "bkt.lineitem_b", ["l_orderkey"], n_buckets=8,
            sort_by=["l_orderkey"],
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a, b = spark.table("bkt.orders_b"), spark.table("bkt.lineitem_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey).select(
            "o_orderkey", "l_quantity", "o_totalprice"
        )
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert op_count(plan, "Exchange") == 0, plan[:1500]
        assert "SortMergeJoin" in plan
        # and it still computes the right thing
        want = (
            orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        )
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_pq_encoding_has_no_exchange(spark, sf_dir):
    """PQ encoding (M in-scan sub-argmaxes over literal codebooks) must
    add zero exchanges/joins/windows — the N-row side never shuffles to
    be compressed, exactly like ivf_assign. At 100 TB this plan IS the
    point of product quantization: a single scan turns vectors into
    codes."""
    from pyspark.sql import functions as F

    from async_event_streams_spark.queries.llm import (
        _PQ_CODEBOOKS,
        _PQ_K,
        _PQ_SUB,
        pq_encode,
    )
    from async_event_streams_spark.tables import table

    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    full = [
        list(r.e)
        for r in v.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
    ]
    cbs = [
        [c[_PQ_SUB * j : _PQ_SUB * (j + 1)] for c in full] for j in range(4)
    ]
    df = pq_encode(v, cbs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_ivfpq_encoding_has_no_exchange(spark, sf_dir):
    """The composed IVF x PQ index build (coarse cell + M sub-codes,
    all in-scan literal argmaxes) must add zero exchanges/joins/windows
    — one scan produces the whole index row. At 10^9 vectors this is
    the build path's entire scaling argument."""
    from pyspark.sql import functions as F

    from async_event_streams_spark.queries.llm import (
        _ivf_centroids_for,
        _pq_codebooks_for,
        ivfpq_encode,
    )
    from async_event_streams_spark.tables import table

    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cents = _ivf_centroids_for(v, sf_dir)
    cbs = _pq_codebooks_for(v, sf_dir)
    df = ivfpq_encode(v, cents, cbs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_tpch_q19_pushes_singleside_conjuncts_below_join(spark, sf_dir):
    """Q19's disjunction references both join sides so it can't be
    pushed in full — but Catalyst must derive the arm-union bounds
    onto each scan (p_size <= 15 on part, quantity band on lineitem).
    Losing this derivation turns a pruned scan into a full-table read
    at 100 TB."""
    plan = plan_of(spark, sf_dir, "c_tpch_q19")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # derived single-side bounds reach the parquet readers
    assert "LessThanOrEqual(p_size,15)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan


def test_tpch_q4_streams_lineitem_builds_filtered_orders(spark, sf_dir):
    """The EXISTS probe must never put LINEITEM on a broadcast build
    side (BroadcastHashJoin LeftSemi can only BuildRight, which is
    exactly that anti-pattern — r13 measured it at 2.8 s at sf1):
    the shipped shape streams lineitem once against a broadcast of
    the quarter-filtered orders and collapses late lines to distinct
    orders with a map-side-combined partial aggregate."""
    plan = plan_of(spark, sf_dir, "c_tpch_q4")
    assert "CartesianProduct" not in plan
    # the broadcast side must carry orders columns, never lineitem's
    import re

    for m in re.finditer(
        r"\(\d+\) BroadcastExchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan
    ):
        assert "l_shipdate" not in m.group(1), m.group(1)
        assert "o_orderkey" in m.group(1), m.group(1)
    # dedup to distinct orders happens BEFORE the 5-value priority
    # count: two aggregate levels over the matched stream
    assert plan.count("HashAggregate") >= 3, plan


def test_tpch_q21_single_fact_exchange_no_self_join(spark, sf_dir):
    """The decorrelated q21: the fact table must ride exactly ONE hash
    exchange (the explicit l_orderkey repartition, which the semi join,
    the (orderkey, suppkey) groupBy, AND the window all satisfy) plus
    the tiny final s_name aggregate — and no lineitem self-join (the
    naive per_os⋈per_o formulation computed the aggregation pyramid
    twice)."""
    import re

    plan = plan_of(spark, sf_dir, "c_tpch_q21")
    keys = re.findall(r"hashpartitioning\(([a-z_0-9#]+)", plan)
    fact = [k for k in keys if not k.startswith("s_name")]
    assert fact and all(k.startswith("l_orderkey") for k in fact), keys
    assert len(fact) == 1, keys  # one exchange serves semi+agg+window
    # lineitem read once: 3 table scans, each named twice in the
    # formatted output (tree + details section)
    assert plan.count("Scan parquet") <= 6, plan


def test_tpch_q11_threshold_is_broadcast_scalar(spark, sf_dir):
    """The group-vs-global-scalar threshold must be a 1-row broadcast
    cross join — never a re-shuffle of the per-part aggregate."""
    plan = plan_of(spark, sf_dir, "c_tpch_q11")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_graph_bucketed_equi_join_with_group_limit(spark, sf_dir):
    """The kNN graph's candidate join must be a bucket equi-join
    (never all-pairs) and the per-vector top-k must push a
    WindowGroupLimit — the two properties that keep an
    all-vectors-to-all graph build from going quadratic/global."""
    plan = plan_of(spark, sf_dir, "x_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_scd2_two_windows_one_exchange(spark, sf_dir):
    """Both SCD2 window passes are keyed on user_id: the LEAD window
    must reuse the LAG window's partitioning (one Exchange total —
    a second exchange would double the event log's shuffle cost)."""
    plan = plan_of(spark, sf_dir, "c_scd2_intervals")
    assert op_count(plan, "Exchange") <= 1, plan


def test_merge_upsert_source_preaggregates_before_join(spark, sf_dir):
    """The CDC source must collapse to one row per key BEFORE the full
    outer join (partial+final HashAggregate under the join, never raw
    order rows into it)."""
    plan = plan_of(spark, sf_dir, "c_merge_upsert")
    assert "FULL OUTER" in plan.upper() or "FullOuter" in plan
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = plan.find("ShuffledHashJoin")
    assert join_pos != -1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_date_spine_no_fact_sized_spine(spark, sf_dir):
    """The calendar spine must derive from a 1-row bounds aggregate
    (explode of a sequence), never a fact-table distinct — and the
    gap-fill join must not be a cartesian product."""
    plan = plan_of(spark, sf_dir, "c_date_spine")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the sequence explode
    # two aggregates (bounds + daily) and the spine-sized join
    assert plan.count("HashAggregate") >= 2


def test_histogram_single_exchange(spark, sf_dir):
    """20-bucket histogram: one partial-agg shuffle over the bucketed
    scan (plus the tiny ordered output), nothing else."""
    plan = plan_of(spark, sf_dir, "c_histogram")
    assert op_count(plan, "Exchange") <= 2, plan
    assert "Join" not in plan


def test_extract_text_zero_exchanges(spark, sf_dir):
    """Markup extraction is pure per-row regexp/HOF work: the plan must
    carry NO shuffle of any kind — synthesis, block split, heuristics
    and the md5 all ride the scan projection."""
    plan = plan_of(spark, sf_dir, "x_extract_text")
    assert "Exchange" not in plan


def test_bpe_word_cache_joins_broadcast(spark, sf_dir):
    """The BPE word cache (encode-distinct-once) must fan out by
    BROADCAST join — a corpus-sized shuffle join on `word` would mean
    the tokenizer table stopped being the small side."""
    plan = plan_of(spark, sf_dir, "x_bpe_tokens")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sessionize_bucketed_events_window_keyed_by_bucket(spark, sf_dir):
    """The skew contract: the events-sized window exchange must hash on
    (user_id, time-bucket) — a plain user_id partitioning of the event
    stream is exactly the hot-key shape this operator exists to avoid
    (the user-only exchange that remains carries the per-bucket summary,
    which is bounded by buckets-per-user)."""
    import re

    plan = plan_of(spark, sf_dir, "c_sessionize_bucketed")
    assert re.search(r"hashpartitioning\(user_id#\d+L?, __b#\d+L?", plan), plan


def test_scd2_bucketed_events_window_keyed_by_bucket(spark, sf_dir):
    """The skew contract, SCD2 edition: every events-sized window
    exchange must hash on (user_id, time-bucket) — a plain user_id
    partitioning of the event stream is exactly the 3.2x hot-key shape
    this operator exists to avoid. The user-only exchange that remains
    carries the per-bucket summary, bounded by buckets-per-user; and
    the summary rollup must NOT add an exchange of its own (it runs on
    the window's (user_id, bucket) partitioning)."""
    import re

    plan = plan_of(spark, sf_dir, "c_scd2_bucketed")
    assert re.search(r"hashpartitioning\(user_id#\d+L?, __b#\d+L?", plan), plan
    # exchanges: two (user_id, __b) corpus branches + one user-keyed
    # summary exchange — anything more means the rollup or the final
    # window stopped reusing the bucket partitioning
    assert op_count(plan, "Exchange") <= 3, plan


@pytest.mark.parametrize(
    "name,exchanges,windows",
    [
        ("c_join_asof_bucketed", 3, 2),
        ("c_window_lag_bucketed", 3, 2),
        ("c_sessionize_bucketed", 4, 6),
        ("c_scd2_bucketed", 3, 6),
        ("c_ewma_bucketed", 3, 2),
        ("c_rolling_median_bucketed", 3, 2),
    ],
)
def test_bucket_scan_twins_keep_exchange_and_window_counts(
    spark, sf_dir, name, exchanges, windows
):
    """The six bucket-and-stitch twins share one scan
    (functions/skew.bucket_scan); their Exchange and Window counts are
    pinned at the PLAN_CENSUS.json sf0.001 values so an edit to the
    shared scan cannot silently add a shuffle or a window pass."""
    plan = plan_of(spark, sf_dir, name)
    assert op_count(plan, "Exchange") == exchanges, plan
    assert op_count(plan, "Window") == windows, plan


def test_knn_communities_rounds_are_equi_joins(spark, sf_dir):
    """Label propagation must stay an edge-list equi-join per round —
    never all-pairs — and its per-vector argmax must push a
    WindowGroupLimit (rn = 1 over the weight ordering). The query's
    own plan hides the rounds behind pinned boundaries (RDD scans),
    so audit one round directly."""
    from pyspark.sql import functions as F

    from async_event_streams_spark.queries.llm import _lpa_round
    from async_event_streams_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        (F.col("vec_id") + 1).alias("neighbor_id"),
        F.lit(1).cast("long").alias("w"),
    )
    labels = emb.select("vec_id", F.col("vec_id").alias("label"))
    df = _lpa_round(e, labels)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_knn_pagerank_rounds_are_equi_joins(spark, sf_dir):
    """Each power-iteration round must be edge⋈rank equi-joins with a
    partial-agg inflow sum — never all-pairs, no global sort."""
    from pyspark.sql import functions as F

    from async_event_streams_spark.queries.llm import _pagerank_round
    from async_event_streams_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        (F.col("vec_id") + 1).alias("neighbor_id"),
        F.lit(1).cast("long").alias("d"),
    )
    pr = emb.select("vec_id", F.lit(1_000_000).cast("long").alias("pr"))
    df = _pagerank_round(e, pr, emb.select("vec_id"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert op_count(plan, "Sort") == 0 or "SortMergeJoin" in plan


def test_mv_incremental_delta_filter_reaches_scan(spark, sf_dir):
    """The MV refresh promise is 'touch only the delta': both date
    predicates must appear as PushedFilters on the orders scans, and
    the final merge must be a small-keyed join, never a fact shuffle
    of unfiltered rows."""
    plan = plan_of(spark, sf_dir, "c_mv_incremental")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("LessThan(o_orderdate" in ln for ln in pushed), pushed
    assert any(
        "GreaterThanOrEqual(o_orderdate" in ln for ln in pushed
    ), pushed
    assert "CartesianProduct" not in plan


def test_join_bloom_prefilter_is_mapside_broadcast(spark, sf_dir):
    """The Bloom prefilter must run as broadcast-hash word lookups on
    the event side BEFORE any shuffle: three broadcast joins (one per
    hash), the urgent-priority filter pushed to the orders scan, and
    no cartesian anywhere."""
    plan = plan_of(spark, sf_dir, "c_join_bloom")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderpriority" in ln for ln in pushed), pushed
    assert "CartesianProduct" not in plan


def test_table_profile_two_branch_split_stays_hashed(spark, sf_dir):
    """ANALYZE is two branches by design: ONE Expand-based
    multi-distinct pass for every fixed-width column (which must stay
    HashAggregate — a string min/max buffer inside it demotes the
    whole pass to a corpus-wide SortAggregate, measured 7.9 s vs 2 s
    at sf0.1) plus one pruned single-column scan per string column.
    formatted mode prints each node twice (tree + detail)."""
    plan = plan_of(spark, sf_dir, "c_table_profile")
    assert plan.count("Scan parquet") == 4, plan  # 2 physical scans
    assert "Expand" in plan
    assert "HashAggregate" in plan
    # the big expanded pass hash-aggregates; the only SortAggregates
    # are the string branch's empty-grouping folds, which plan no Sort
    # under them — so no Sort node may appear anywhere
    assert "\n   Sort " not in plan and "+- Sort " not in plan, plan
    assert "CartesianProduct" not in plan


def test_bitmap_filter_word_keyed_index_join(spark, sf_dir):
    """The bitmap consumer must answer from the index alone: two
    partial-agg index builds, a word-keyed equi-join (never
    cartesian), and a final popcount rollup."""
    plan = plan_of(spark, sf_dir, "c_bitmap_filter")
    assert "CartesianProduct" not in plan
    assert "word_idx" in plan
    assert "partial_bit_or" in plan or "bit_or" in plan, plan


def test_zonemap_scan_broadcasts_admitted_files(spark, sf_dir):
    """Prune-then-scan: the admitted-file list is metadata-sized and
    must arrive at the fact scan by BROADCAST; the residual predicate
    must still be applied to admitted rows."""
    plan = plan_of(spark, sf_dir, "c_zonemap_scan")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 4, plan  # zone build + data scan


def test_asset_neardup_banded_join_never_all_pairs(spark, sf_dir):
    """The perceptual-hash candidate join must be a (band, nib)
    equi-join over the capped band table — never a cartesian/all-pairs
    over the asset set — and the degree rollup must partial-agg."""
    plan = plan_of(spark, sf_dir, "x_asset_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "nib" in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_table_profile_sketch_single_scan_no_ndv_shuffle(spark, sf_dir):
    """The production ANALYZE lane must be ONE scan and ONE
    empty-grouping ObjectHashAggregate: no Expand (that's the exact
    lane's per-distinct-value shuffle carrier), no extra per-string
    branch scans, no Sort anywhere — the shuffle carries HLL registers
    per partition, never a row per distinct value."""
    plan = plan_of(spark, sf_dir, "c_table_profile_sketch")
    assert plan.count("Scan parquet") == 2, plan  # 1 physical scan
    assert "Expand" not in plan
    assert "ObjectHashAggregate" in plan
    assert "\n   Sort " not in plan and "+- Sort " not in plan, plan
    assert "CartesianProduct" not in plan


def test_compaction_plan_window_rides_metadata(spark, sf_dir):
    """The packing window and the scalar-target join must ride the
    pinned file inventory (metadata-sized): after the checkpoint the
    corpus scan is gone from the plan, the window partitions by
    event_type, and the 1-row target arrives by broadcast."""
    plan = plan_of(spark, sf_dir, "c_compaction_plan")
    assert plan.count("Scan parquet") == 0, plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_zonemap_prune_is_one_partial_agg_pass(spark, sf_dir):
    """Zone-map stats collection is one scan + one file_id-keyed
    partial aggregation: exactly one exchange, min/max/count combine
    map-side, output is metadata-sized."""
    plan = plan_of(spark, sf_dir, "c_zonemap_prune")
    assert plan.count("Scan parquet") == 2, plan  # tree + detail = 1 scan
    assert plan.count("Exchange") == 2, plan  # tree + detail = 1 exchange
    assert "CartesianProduct" not in plan


def test_tokenizer_fertility_rides_broadcast_word_cache(spark, sf_dir):
    """Fertility must reuse the broadcast BPE word-cache join (no
    corpus-keyed SortMergeJoin back to documents) and collapse to
    |langs| via partial aggregation."""
    plan = plan_of(spark, sf_dir, "x_tokenizer_fertility")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_span_mask_single_doc_keyed_exchange(spark, sf_dir):
    """Span corruption must ride ONE doc-keyed exchange: the sentinel-
    numbering window's shuffle also serves the reassembly aggregation
    (no second exchange), and membership tests are closed-form per row
    (no extra window). formatted mode prints nodes twice."""
    plan = plan_of(spark, sf_dir, "x_span_mask")
    assert plan.count("Exchange") == 2, plan  # tree + detail = 1 exchange
    assert plan.count("Window") == 2, plan  # tree + detail = 1 window
    assert "CartesianProduct" not in plan


def test_hard_negatives_is_one_agg_over_pinned_edges(spark, sf_dir):
    """Pair mining must be a single partial-agg pass over the pinned
    kNN edge artifact — struct min/max select both pair members in one
    aggregation: no window, no self-join, no cartesian."""
    plan = plan_of(spark, sf_dir, "x_hard_negatives")
    assert op_count(plan, "Window") == 0, plan
    assert "CartesianProduct" not in plan
    assert op_count(plan, "Exchange") <= 1, plan


def test_embedding_quantize_trains_once_encodes_in_scan(spark, sf_dir):
    """SQ8: the per-dim min/max training is the only shuffled work
    (dim groupBy + 1-row collapse); encoding and reconstruction error
    are higher-order array transforms on the vector rows behind a
    broadcast of the trained ranges — no corpus-keyed join, no UDF."""
    plan = plan_of(spark, sf_dir, "x_embedding_quantize")
    assert op_count(plan, "Exchange") <= 2, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dq_audit_fuses_per_table_checks(spark, sf_dir):
    """The audit's per-table checks must share scans: lineitem appears
    exactly twice (fused pk/null/range agg + the FK key join), never
    once per check; all joins are key equi-joins."""
    import re
    from collections import Counter

    plan = plan_of(spark, sf_dir, "c_dq_audit")
    tables = Counter(
        re.search(r"(lineitem|orders|customer|events)", loc).group(1)
        for loc in re.findall(r"Location: InMemoryFileIndex \[[^\]]*\]", plan)
    )
    assert tables["lineitem"] == 2, tables
    assert tables["events"] == 1, tables
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bitmap_index_is_one_partial_agg_pass(spark, sf_dir):
    """The bitmap build must be one scan + one partial-agg exchange
    (bit_or folds map-side); popcount is a post-agg projection."""
    plan = plan_of(spark, sf_dir, "c_bitmap_index")
    assert op_count(plan, "Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_quality_classifier_zero_exchanges(spark, sf_dir):
    """The classifier stage is a pure per-row projection: integer
    feature extraction + logit + sigmoid must all ride the scan —
    no shuffle, no window, no Python."""
    plan = plan_of(spark, sf_dir, "x_quality_classifier")
    assert op_count(plan, "Exchange") == 0, plan
    assert op_count(plan, "Window") == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_readability_zero_exchanges(spark, sf_dir):
    """Flesch banding is per-row: the syllable fold is a higher-order
    array aggregate inside the scan projection."""
    plan = plan_of(spark, sf_dir, "x_readability")
    assert op_count(plan, "Exchange") == 0, plan
    assert op_count(plan, "Window") == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_coverage_cumsum_only_over_topk(spark, sf_dir):
    """The coverage curve's single-partition window may only ever see
    the K output rows (the rank filter sits below it); the corpus-sized
    work is the TF artifact + one per-term rollup, and the total joins
    as a broadcast 1-row aggregate."""
    plan = plan_of(spark, sf_dir, "x_vocab_coverage")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    # the K-row cumsum window must sit above the rank<=K filter
    w = plan.find("Window")
    assert w != -1
    assert f"<= {50}" in plan or "<= 50" in plan, plan


def test_embedding_qc_single_moments_exchange(spark, sf_dir):
    """Embedding QC reads the vector column once: one 1-row moments
    aggregate (its exchange carries three numbers) broadcast back onto
    the per-row projection — no corpus-keyed shuffle, no sort, no
    Python."""
    plan = plan_of(spark, sf_dir, "x_embedding_qc")
    assert op_count(plan, "Exchange") <= 1, plan
    assert "SortMergeJoin" not in plan
    assert op_count(plan, "Window") == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mix_schedule_one_partial_agg_plus_broadcast_total(spark, sf_dir):
    """The mixing schedule collapses the corpus to |sources| rows in
    one map-side-combined exchange; the weight total joins back as a
    broadcast 1-row aggregate. No sort, no window, no corpus join."""
    plan = plan_of(spark, sf_dir, "x_mix_schedule")
    assert op_count(plan, "Exchange") <= 2, plan
    assert op_count(plan, "Window") == 0, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_shard_assign_rides_prefix_machinery(spark, sf_dir):
    """Balanced sharding must never sort the corpus on one task: at
    probe scale the rank comes from the range-partitioned prefix-sum
    (local windows per range partition + broadcast offsets); the shard
    id is per-row arithmetic above it."""
    plan = plan_of(spark, sf_dir, "x_shard_assign")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_recall_is_composition_not_cartesian(spark, sf_dir):
    """The recall dashboard joins two tiny top-k result sets: the
    expensive sides stay what the underlying queries are (bucketed
    equi-join / broadcast nested loop over the query sample) and the
    overlap join itself must be an equi-join."""
    plan = plan_of(spark, sf_dir, "x_ann_recall")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_join_estimate_stats_side_is_register_sized(spark, sf_dir):
    """The estimation lane: each fact table feeds a single-scan
    (count + HLL) 1-row aggregate; the only joins are broadcasts of
    1-row scalars plus the keys-sized anchor join. No fact-row join
    anywhere, no window, no Python."""
    plan = plan_of(spark, sf_dir, "c_join_estimate")
    assert op_count(plan, "Window") == 0, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # 2 scans per table: the stats aggregate + the anchor count table
    assert plan.count("Location: InMemoryFileIndex") <= 4, plan


def test_join_salted_stays_shuffle_join(spark, sf_dir):
    """The salted lane exists for the dim-too-big-to-broadcast regime:
    the hint must pin a ShuffledHashJoin (a broadcast would make the
    salt pointless), the salt replication itself rides a broadcast
    nested-loop over the 8-row salt range, and no SortMergeJoin or
    cartesian appears."""
    plan = plan_of(spark, sf_dir, "c_join_salted")
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ewma_and_rolling_median_single_user_exchange(spark, sf_dir):
    """Both frame folds are one user-keyed window exchange + codegen
    array work — no join, no second shuffle of the event rows."""
    for name in ("c_ewma", "c_window_rolling_median"):
        plan = plan_of(spark, sf_dir, name)
        assert "Join" not in plan, name
        assert op_count(plan, "Exchange") == 1, name


def test_equidepth_sketch_lane_has_no_rank_machinery(spark, sf_dir):
    """The r9 verdict's done-bar for the sketch lane: no prefix-rank
    checkpoint, no window, no NTILE — just the GK edge literals fused
    into the scan projection plus two partial-aggregating passes. The
    exact lane (c_histogram_equidepth) keeps the global_row_number
    machinery as the differential anchor; the production lane must
    never inherit it."""
    plan = plan_of(spark, sf_dir, "c_histogram_equidepth_sketch")
    assert "Window" not in plan
    assert "NTILE" not in plan.upper()
    assert "Join" in plan  # the B-row spine join only
    assert "CartesianProduct" not in plan
    # two aggregation passes, each map-side combined
    assert plan.count("HashAggregate") >= 2


def test_gini_rank_rides_prefix_at_scale(spark, sf_dir, monkeypatch):
    """The r10 verdict's weak: c_data_skew_gini ranked the per-key
    count table with a raw un-partitioned window — a single-task sort
    at billions of keys, exactly the whale-skew regime this monitor
    exists for. The lane now rides global_row_number(mode="auto"):
    force the size estimate over the threshold and the plan must show
    the __pid-partitioned prefix machinery (never one data task), and
    both dispatch shapes must produce the identical answer."""
    from async_event_streams_spark.functions import order
    from async_event_streams_spark.queries import QUERIES

    small = QUERIES["c_data_skew_gini"](spark, sf_dir).collect()

    monkeypatch.setattr(order, "plan_size_bytes", lambda df: 1 << 40)
    df = QUERIES["c_data_skew_gini"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(__pid" in plan
    assert [r.asDict() for r in df.collect()] == [r.asDict() for r in small]


def test_equidepth_sketch_survives_empty_corpus(spark, sf_dir, tmp_path):
    """percentile_approx over zero rows yields NULL edges; the sketch
    lane must return the zero-filled B-row spine (n_total=0, depth_ok
    true) instead of crashing while building the edge literals."""
    from async_event_streams_spark.queries import QUERIES
    from async_event_streams_spark.tables import table

    table(spark, sf_dir, "events").limit(0).write.parquet(
        str(tmp_path / "events.parquet")
    )
    rows = QUERIES["c_histogram_equidepth_sketch"](
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 8
    assert all(r.n_total == 0 and r.depth_ok for r in rows)


def test_ann_crossover_no_cartesian_and_broadcast_probes(spark, sf_dir):
    """r12 crossover lane: the only nested-loop shapes allowed are the
    K-row centroid broadcast and the broadcast query set; candidate
    retrieval is equi-joins (lbl/tenant/cid keyed) — never a corpus
    cross product."""
    plan = plan_of(spark, sf_dir, "x_ann_crossover")
    assert "CartesianProduct" not in plan
    # the dispatch histograms and the query set ride broadcasts
    assert "BroadcastHashJoin" in plan


def test_ann_crossover_cost_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "x_ann_crossover_cost")
    assert "CartesianProduct" not in plan


def test_dedup_near_band_join_is_slim(spark, sf_dir):
    """r12 rewrite: the band self-join must NOT carry the shingle
    arrays — `sh` re-attaches to the distinct pair set afterwards, so
    no exchange before the pair join ships an array column named sh."""
    plan = plan_of(spark, sf_dir, "x_pipeline_report")
    assert "CartesianProduct" not in plan
    # the band-bucket self-join section: between the first Exchange of
    # band rows and the pair distinct there must be no sh column. The
    # robust proxy: every SMJ/SHJ join on (bi, bk) keys appears with
    # slim projections — assert the join keys exist and that no
    # project line carries both bk and sh together.
    for line in plan.splitlines():
        if "bk" in line and "Project" in line:
            assert " sh#" not in line, line
