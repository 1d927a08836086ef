"""Plan-shape gates: the properties that make queries survive a 100×
scale-up, asserted on the actual Catalyst physical plans.

A query that is value-correct but reads all 11 lineitem columns for a
2-column projection, or shuffles a fact table against a 25-row dim,
would pass the oracle and still be wrong at 100 TB — these tests are
the scale contract.
"""

from __future__ import annotations

import pytest

from morphl_community_edition_spark.plans import (
    has_broadcast_join,
    has_partial_aggregate,
    pushed_filters,
    read_schema_columns,
)
from morphl_community_edition_spark.queries import QUERIES
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def no_cached_fragments(spark):
    # plan-shape assertions must see the raw plan, not one rewritten
    # around another test's cached subtree
    spark.catalog.clearCache()
    yield


def _serve_plan(df) -> str:
    """Executed-plan string carrying a serve's scan-level evidence.

    A ``plans/hints.pinned_order`` tail (round 14) hides the serve
    subtree behind a checkpoint-RDD scan, so the scan evidence lives
    on the pre-pin child the hint attaches as ``_morphl_pre_pin``.
    When present, assert the outer plan really is the pinned shape
    (an RDD scan, no parquet re-read) and return the child's plan;
    a plain tail returns its own plan unchanged. A checkpoint scan
    without the attribute means a transform after pinned_order
    dropped it."""
    child = getattr(df, "_morphl_pre_pin", None)
    outer = df._jdf.queryExecution().executedPlan().toString()
    if child is None:
        assert "ExistingRDD" not in outer, (
            "pre-pin child lost: pinned_order must be the outermost transform"
        )
        return outer
    assert "ExistingRDD" in outer, "pinned tail lost its checkpoint scan"
    assert "FileScan" not in outer, "pinned tail re-read a table"
    return child._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushdown_and_pruning(spark):
    df = QUERIES["q01_pricing_summary"](spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in f for f in pushed), f"shipdate filter not pushed: {pushed}"
    cols = read_schema_columns(df)
    assert "l_orderkey" not in cols and "l_partkey" not in cols, (
        f"column pruning failed — scan reads {cols}"
    )
    assert has_partial_aggregate(df), "no map-side partial aggregation"


def test_q02_multi_predicate_pushdown(spark):
    df = QUERIES["q02_predicates"](spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("p_size" in f for f in pushed)
    cols = read_schema_columns(df)
    assert cols <= {"p_partkey", "p_name", "p_brand", "p_size", "p_type"}


def test_q05_star_join_broadcasts_dims(spark):
    df = QUERIES["q05_six_table_join"](spark, SF_DIR)
    assert has_broadcast_join(df), "star join must broadcast dimension side"
    cols = read_schema_columns(df)
    # lineitem scan must not read the unused money columns
    assert "l_tax" not in cols and "l_quantity" not in cols


def test_q09_fact_fact_prunes_columns(spark):
    df = QUERIES["q09_fact_fact_join"](spark, SF_DIR)
    cols = read_schema_columns(df)
    assert "l_extendedprice" not in cols and "o_totalprice" not in cols


def test_q31_single_aggregation_no_join(spark):
    from morphl_community_edition_spark.plans import count_exchanges, formatted_plan

    df = QUERIES["q31_engagement_churn"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan, "engagement features must be a pure aggregation"
    # distinct-agg rewrite costs 2 shuffles + 1 for the presentation sort
    assert count_exchanges(df) <= 3, f"too many shuffles:\n{plan}"


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """A5/layout claim from SCALE.md: a date filter over the
    partitioned sink must prune directories at plan time (PartitionFilters),
    not scan-and-discard."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.plans import formatted_plan
    from morphl_community_edition_spark.sources.batch import write_parquet_partitioned
    from tests.conftest import SF_DIR_SMOKE

    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, SF_DIR_SMOKE, "events").withColumn("day", F.to_date("ts"))
    write_parquet_partitioned(ev, out, partition_by=["day"])
    one_day = ev.agg(F.min("day")).collect()[0][0]
    scan = spark.read.parquet(out).filter(F.col("day") == F.lit(one_day))
    plan = formatted_plan(scan)
    assert "PartitionFilters: [" in plan and "day" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert scan.count() == ev.filter(F.col("day") == F.lit(one_day)).count()


def test_salted_join_and_agg_match_plain(spark):
    """Skew operators are rewrites — same results, bounded tasks."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.skew import salted_agg, salted_join
    from tests.conftest import SF_DIR_SMOKE

    ev = load_table(spark, SF_DIR_SMOKE, "events")
    cust = load_table(spark, SF_DIR_SMOKE, "customer").withColumn(
        "user_id", F.col("c_custkey") % 150
    )
    plain = ev.join(cust, "user_id").groupBy("c_mktsegment").count()
    salted = salted_join(ev, cust, "user_id").groupBy("c_mktsegment").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}

    plain_agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("mx")
    )
    two_phase = salted_agg(ev, "user_id", [("value", "count", "n"), ("value", "max", "mx")])
    assert {tuple(r) for r in plain_agg.collect()} == {tuple(r) for r in two_phase.collect()}


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """SCALE.md's C3 claim made executable: pre-bucketing both fact
    tables on the join key removes the join shuffle entirely."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.plans import count_exchanges
    from tests.conftest import SF_DIR_SMOKE

    # warehouse dir is a static conf — session.py points it at /tmp
    orders = load_table(spark, SF_DIR_SMOKE, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, SF_DIR_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("orders_b")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("lineitem_b")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"), F.col("o_orderkey") == F.col("l_orderkey")
        )
        assert count_exchanges(joined) == 0, "bucketed join must not shuffle"
        plain = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        assert count_exchanges(plain) >= 2, "unbucketed SMJ shuffles both sides"
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_q22_topk_no_global_sort_before_filter(spark):
    # row_number windows sort within partitions; the only global sort
    # allowed is the final presentation ORDER BY (TakeOrdered or after rn<=3)
    from morphl_community_edition_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q22_topk_per_group"](spark, SF_DIR))
    assert "Window" in plan
    assert "Exchange rangepartitioning" not in plan.split("Filter")[0], (
        "global range sort before the rank filter would shuffle the full table twice"
    )


def test_q82_single_fact_scan(spark):
    """q82 computes per-part values AND their global total from ONE
    lineitem scan (window-total form). The naive t.agg + cross-join
    form referenced t twice and Spark planned TWO full fact scans
    (no exchange reuse) — this gate pins the single-scan shape."""
    from morphl_community_edition_spark.queries import QUERIES
    from tests.conftest import SF_DIR_SMOKE

    df = QUERIES["q82_tpch_q11"](spark, SF_DIR_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-AQE plan below
    assert final.count("Scan parquet") == 1


def test_c3_fact_fact_sort_merge_when_too_big_to_broadcast(spark):
    """C3: with broadcast off the table (threshold -1), a fact-fact
    equi join MUST plan as SortMergeJoin — the strategy the same query
    gets on a cluster where neither side fits an executor. Locally
    Catalyst auto-broadcasts these small fixtures, so this gate pins
    the at-scale plan, not the small-data shortcut."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from tests.conftest import SF_DIR_SMOKE

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, SF_DIR_SMOKE, "orders")
        li = load_table(spark, SF_DIR_SMOKE, "lineitem")
        df = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey")).groupBy(
            "o_orderstatus"
        ).count()
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in final
        assert "BroadcastHashJoin" not in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew handling (SURVEY.md §5.1): one hot key dominating a
    sort-merge join gets its partition SPLIT at runtime (the plan
    shows 'skew=true' on the join node) — with thresholds lowered so
    fixture-scale data exhibits what a 100 TB hot key would. Results
    must equal the non-AQE run exactly."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 50k rows, 90% on key 0 → one partition ~9x the median
        left = spark.range(50_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("payload").alias("s"), F.sum("v").alias("sv")
        )
        got = joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, f"AQE did not mark the skewed join:\n{final[:2000]}"
        # exact expected values: every row with id%10<9 maps to k=0 (matches right k=0, v=0);
        # rows with id%10==9 keep k=id and match right only when id<2000
        rows = [(0 if i % 10 < 9 else i, i) for i in range(50_000)]
        match = [(k, p, 2 * k) for k, p in rows if (k == 0) or (k < 2_000)]
        want = (len(match), sum(p for _, p, _ in match), sum(v for _, _, v in match))
        assert tuple(got[0]) == want
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_join_hash_plan_and_theta_equivalence(spark):
    """The bucketized range join must (a) return exactly the naive
    theta join's rows, (b) plan as a HASH equi join on the bucket id —
    never BroadcastNestedLoop (the O(n·m) plan it exists to avoid)."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.interval_join import range_join_bucketized
    from tests.conftest import SF_DIR_SMOKE

    # deterministic subsets via filters — a bare limit re-executed per
    # action may select different rows between the two join legs
    ev = (
        load_table(spark, SF_DIR_SMOKE, "events")
        .select("event_id", "ts")
        .filter(F.col("event_id") < 300)
    )
    iv = (
        load_table(spark, SF_DIR_SMOKE, "events")
        .filter(F.col("event_id") < 200)
        .select(
            F.col("event_id").alias("iv_id"),
            F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("hi"),
        )
    )
    fast = range_join_bucketized(ev, iv, "ts", "lo", "hi", bucket_width_s=600)
    naive = ev.crossJoin(iv).filter((F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
    a = sorted((r["event_id"], r["iv_id"]) for r in fast.collect())
    b = sorted((r["event_id"], r["iv_id"]) for r in naive.collect())
    assert a == b and len(a) > 0

    plan = fast._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "NestedLoop" not in final
    assert ("SortMergeJoin" in final) or ("HashJoin" in final)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP (SURVEY.md §5.1): a date-partitioned fact joined to a
    FILTERED dim must prune fact partitions at RUNTIME from the dim's
    filter (dynamicpruningexpression in the scan) — the mechanism that
    turns a 100 TB scan into a few partitions without a static
    predicate on the fact."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from tests.conftest import SF_DIR_SMOKE

    ev = load_table(spark, SF_DIR_SMOKE, "events").withColumn("day", F.to_date("ts"))
    fact_dir = str(tmp_path / "ev_by_day")
    ev.write.partitionBy("day").parquet(fact_dir)
    dim = ev.select("day").distinct().limit(3).withColumn("tag", F.lit("keep"))
    dim_dir = str(tmp_path / "dim_days")
    dim.write.parquet(dim_dir)

    old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    try:
        fact = spark.read.parquet(fact_dir)
        d = spark.read.parquet(dim_dir).filter(F.col("tag") == "keep")
        joined = fact.join(d, "day").groupBy("event_type").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), f"no DPP in plan:\n{plan[:1500]}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", old)


def test_q85_probe_filter_pushed_below_window(spark):
    """q85 TF-IDF (queries/llm.py): the probe predicate (doc_id < 200)
    must be pushed through the tf aggregation all the way to ONE
    parquet scan — the tf branch entering the join+window — while the
    document-frequency branch stays corpus-wide. Pushed-to-scan is
    strictly below the window exchange, so this also guards the
    window-input shrink claimed in the docstring."""
    import re

    from morphl_community_edition_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q85_tfidf_topterms"](spark, SF_DIR))
    scans = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    probe_scans = [s for s in scans if "doc_id" in s and "LessThan" in s]
    assert len(probe_scans) == 1, (
        f"expected exactly one doc_id-filtered scan (tf branch), got {probe_scans}"
    )
    # df/n branches must NOT carry the probe filter (document frequency
    # is corpus-wide by definition); with exchange reuse the plan may
    # fold them, but no second filtered scan may appear.
    assert "Window" in plan


def test_q03_broadcast_is_size_gated(spark):
    """Round-1 verdict q03 scale caveat: the filtered orders⋈customer
    product is fact-side, so its broadcast hint must be derived from
    source size, not unconditional. At fixture scale the gate applies
    the hint (plan broadcasts); with the gate's limit forced to 0 the
    same build side goes unhinted, leaving strategy choice to AQE."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table, table_path
    from morphl_community_edition_spark.plans import formatted_plan
    from morphl_community_edition_spark.plans.hints import (
        broadcast_if_small,
        dataset_file_bytes,
    )
    from morphl_community_edition_spark.queries.relational import _ts

    # fixture scale: q03 itself must broadcast the build side
    plan = formatted_plan(QUERIES["q03_star_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan

    # the same join with the gate slammed shut must NOT carry a
    # broadcast hint on the orders side (initial plan: sort-merge or
    # shuffled-hash; cust stays broadcast — it is a real dim)
    cust = load_table(spark, SF_DIR, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, SF_DIR, "orders").filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = load_table(spark, SF_DIR, "lineitem")
    build = orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    def n_hints(df):
        return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    gated = li.join(
        broadcast_if_small(build, dataset_file_bytes(table_path(SF_DIR, "orders")), limit_bytes=0),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    hinted = li.join(
        broadcast_if_small(build, dataset_file_bytes(table_path(SF_DIR, "orders"))),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    # closed gate: only the cust dim hint remains; open gate adds the
    # build-side hint. Strategy choice for the unhinted join is left
    # entirely to Catalyst/AQE (which may legitimately broadcast
    # EITHER side at this tiny scale — that freedom is the point).
    assert n_hints(gated) == 1, "gate closed: orders-side hint must be absent"
    assert n_hints(hinted) == 2, "gate open: build-side hint must be applied"

    assert dataset_file_bytes(table_path(SF_DIR, "orders")) > 0


def test_runtime_bloom_filter_prunes_fact_probe(spark):
    """Runtime bloom-filter join pruning (SURVEY.md §5.1 family): with
    a selective dim filter and a non-broadcast join, Catalyst injects
    might_contain(bloom_filter_agg(dim key)) onto the FACT scan side —
    at 100 TB this drops most probe rows before the shuffle, the same
    role DPP plays for partitioned layouts. Results must be identical
    with the filter on and off."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def build():
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        return (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        with_bloom = build()
        plan = with_bloom._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, f"no bloom pruning injected:\n{plan[:800]}"
        assert "bloom_filter_agg" in plan
        got = {(r["o_orderpriority"], r["cnt"]) for r in with_bloom.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = {(r["o_orderpriority"], r["cnt"]) for r in build().collect()}
    assert got == want and len(got) == 1


def test_q106_benchmark_side_broadcast(spark):
    """q106 contamination screen: the benchmark shingle set must enter
    the semi-join as the BROADCAST side (train shingles never shuffle
    on the join key), and the train side must not appear in a
    cartesian/nested-loop — the scale contract from the docstring."""
    plan = QUERIES["q106_contamination_screen"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:1500]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q103_window_partitioned_by_source(spark):
    """q103 sequence packing: the running-sum window must partition by
    source (shard-local packing) — a global (unpartitioned) window
    here would serialize the whole corpus through one task at scale."""
    plan = QUERIES["q103_pack_sequences"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    import re
    wins = re.findall(r"Window .*?partitionBy.*?$|RunningWindowFunction.*?$", plan, re.M)
    # physical plan prints 'Window [...], [source...], [doc_id...]' —
    # assert every Window node carries a partition spec mentioning source
    for line in (l for l in plan.splitlines() if l.strip().startswith("+- Window") or l.strip().startswith("Window")):
        assert "source" in line, f"unpartitioned window in q103 plan:\n{line}"


def test_q108_frequency_join_broadcast(spark):
    """q108 token rarity: both the vocabulary frequency table and the
    scalar total must broadcast — the token stream (the big side) must
    never shuffle on the join key."""
    plan = QUERIES["q108_token_rarity"](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") >= 2, plan[:1500]
    assert "SortMergeJoin" not in plan, "token stream shuffled for the frequency join"


def test_fan_out_narrow_scan_gate(spark):
    """fan_out_narrow_scan fires only below cluster parallelism: a
    single-row-group scan gets repartitioned to defaultParallelism; an
    input already at-or-above it passes through untouched (no extra
    exchange at scale)."""
    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.plans.hints import fan_out_narrow_scan

    target = spark.sparkContext.defaultParallelism
    narrow = load_table(spark, SF_DIR, "documents")
    assert narrow.rdd.getNumPartitions() < target
    fanned = fan_out_narrow_scan(narrow)
    assert fanned.rdd.getNumPartitions() == target

    wide = narrow.repartition(target + 4)
    assert fan_out_narrow_scan(wide) is wide


def test_fan_out_noop_on_multi_rowgroup_file(spark, tmp_path):
    """A production-layout table (many row groups on disk) arrives
    with enough scan splits that fan_out_narrow_scan must be a no-op —
    the gate reads physical splits, so a scale-like layout never pays
    the extra shuffle."""
    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.plans.hints import fan_out_narrow_scan

    out = str(tmp_path / "multi_rg")
    docs = load_table(spark, SF_DIR, "documents")
    target = spark.sparkContext.defaultParallelism
    # many files stand in for many row groups; shrink the split knobs
    # so the small fixture actually yields >= parallelism splits (the
    # default openCostInBytes packs tiny files into shared splits)
    docs.repartition(target + 4).write.mode("overwrite").parquet(out)
    old_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
        spark.conf.set("spark.sql.files.openCostInBytes", "16k")
        back = spark.read.parquet(out)
        assert back.rdd.getNumPartitions() >= target
        assert fan_out_narrow_scan(back) is back
        assert back.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)


def test_fanout_conf_probe_never_raises(spark):
    """Round-6 regression: the fan-out memo's conf probe must not pass
    a default to conf.get — Spark 4 VALIDATES a non-None default
    against the conf type, so a '' sentinel raised INVALID_CONF_VALUE
    on any session that never set the key (every bare driver session)
    and took down all 13 fan-out queries. The probe reads the
    effective value and degrades to '<unset>' on unreadable keys."""
    from morphl_community_edition_spark.plans.hints import _conf

    assert _conf(spark, "spark.sql.files.maxPartitionBytes")
    assert _conf(spark, "spark.sql.files.openCostInBytes")
    assert _conf(spark, "spark.sql.nonexistent.key.xyz") == "<unset>"


def test_q114_valve_joins_are_broadcast_and_anti(spark):
    """q114 incremental dedup, valved form (round-6): the df-valve's
    two devices must keep their scale shape — the batch-shingle probe
    and the stop-set cut enter as BROADCAST joins (both sets are
    batch-bounded by construction; the corpus postings stream never
    shuffles on the shingle key for them), the stop cut is a LeftAnti,
    and nothing degenerates to a cartesian/nested-loop."""
    plan = (
        QUERIES["q114_incremental_dedup"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan, "stop-shingle cut lost its anti-join"
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q117_superset_check_stays_semi_anti(spark):
    """q117 superset invariant: both screens must probe the broadcast
    bench side (LeftSemi), the violation set must come from a LeftAnti
    — the whole check stays train-side linear."""
    plan = (
        QUERIES["q117_fingerprint_superset_check"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:1500]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q86_broadcast_range_join_plan(spark):
    """q86's gated broadcast_points path: the bucketized range join
    must be a BroadcastHashJoin (points side broadcast — no
    hot-bucket shuffle skew) and never a cartesian/nested-loop."""
    from morphl_community_edition_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["q86_pure_range_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q118_redaction_is_scan_side_codegen(spark):
    """q118 PII scrub (round-6): the regexp chain must stay a narrow
    scan-side projection — no joins, no aggregates, no window; the
    only exchanges are the fan-out gate and the final output sort."""
    plan = (
        QUERIES["q118_pii_redaction"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for op in ("Join", "Aggregate", "Window"):
        assert op not in plan, f"unexpected {op} in q118 plan: {plan[:1200]}"


def test_q119_keeper_election_partial_aggs_no_window(spark):
    """q119 paragraph dedup (round-6): keeper election must be an
    aggregate with a map-side partial combine (a hot paragraph
    collapses per task before the exchange), never a rank window over
    the paragraph key (which would pin every copy of a hot paragraph
    to one task), and never a cartesian."""
    plan = (
        QUERIES["q119_paragraph_dedup"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, "paragraph-keyed window is a skew hazard"
    # partial+final pair: the min(packed-key) agg appears at least
    # twice (merge side + partial side) among the plan's aggregates
    import re as _re

    n_sortagg = len(_re.findall(r"SortAggregate", plan))
    assert n_sortagg >= 2, f"expected partial+final keeper aggs, got {n_sortagg}"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q120_epoch_mix_rank_stays_sharded(spark):
    """q120 training-order assignment (round-6): the position rank
    must run per md5-nibble shard — a global 'ORDER BY random()'
    substitute must never collapse the stream to one partition (no
    SinglePartition exchange anywhere except, possibly, nowhere: the
    final output sort is a range partitioning), and the epoch
    expansion must be a Generate, not a join."""
    plan = (
        QUERIES["q120_epoch_mix"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan, "training-order rank collapsed to one partition"
    assert "Generate" in plan and "Join" not in plan, plan[:1200]


def test_q121_simhash_banding_stays_equi_join(spark):
    """q121 SimHash Hamming pairs (round-6): the multi-index candidate
    join must remain a hash/sort-merge EQUI join on (band, block
    value) — the a.doc < b.doc predicate must ride along as a join
    filter, never degrade the plan to a cartesian/nested-loop n²
    comparison (which would defeat the whole banding design)."""
    plan = (
        QUERIES["q121_simhash_hamming_pairs"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan[:1500]
    )


def test_q122_pipeline_v2_stays_agg_join_shaped(spark):
    """q122 composed curation pipeline (round-6): the chain must keep
    its components' gated shapes — no window anywhere (keeper election
    is the packed-key partial agg), no cartesian/nested-loop, and the
    epoch expansion is a Generate."""
    plan = (
        QUERIES["q122_curation_pipeline_v2"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, "pipeline reintroduced a paragraph-keyed window"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan


def test_bpe_iteration_never_rereads_corpus(spark):
    """q127 BPE training (round-7): the per-iteration loop body must
    operate on the checkpointed VOCABULARY frame only — no FileScan
    (corpus re-read) in the pair-count plan, and the vocab-sized
    pair aggregation keeps map-side partial aggregation. This is the
    O(1)-input-per-iteration contract that makes k merges affordable
    at 100 TB (the corpus is scanned exactly once, by the initial
    word count)."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.bpe import (
        corpus_vocab,
        pair_counts,
    )

    docs = load_table(spark, SF_DIR, "documents")
    vocab = (
        corpus_vocab(docs)
        .withColumn("syms", F.split(F.col("word"), ""))
        .localCheckpoint(eager=True)
    )
    pc = pair_counts(vocab)
    plan = pc._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, f"iteration re-reads the corpus:\n{plan[:1500]}"
    assert has_partial_aggregate(pc), "pair count lost map-side combine"


def test_semdedup_pair_join_stays_cell_bounded(spark):
    """q129 SemDeDup (round-7): both pair tiers must stay cell-
    bounded. The fold tier is a hash/sort-merge EQUI join on cell id
    (a < b and sim >= t ride as join filters — never a cartesian
    corpus² comparison); the gemm tier is one grouped Arrow exchange
    (FlatMapGroupsInPandas over cell), with no join at all."""
    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.semdedup import (
        assign_cells,
        semantic_dup_edges,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    assigned = assign_cells(emb, 16)
    fold_plan = (
        semantic_dup_edges(assigned, 0.4, method="fold")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in fold_plan and "BroadcastNestedLoopJoin" not in fold_plan, (
        fold_plan[:1500]
    )
    gemm_plan = (
        semantic_dup_edges(assigned, 0.4, method="gemm")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in gemm_plan, gemm_plan[:1500]
    # round 8: the enforced memory valve joins the cell-count-sized
    # block-count frame back BROADCAST — that is the only join allowed;
    # a shuffled join here would mean the valve frame went corpus-sized
    assert "SortMergeJoin" not in gemm_plan and "ShuffledHashJoin" not in gemm_plan, (
        gemm_plan[:1500]
    )
    assert "CartesianProduct" not in gemm_plan, gemm_plan[:1500]


def test_q132_rate_sample_is_pure_scan_side_filter(spark):
    """q132 deterministic rate sampler (round-7): the sampling
    decision must be a pure scan-side filter — zero Exchanges, zero
    Windows, one FileScan. Sampling a 100 TB corpus must cost exactly
    one scan; any shuffle here means the sampler regressed into a
    rank/sort formulation."""
    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.sampling import hash_rate_sample
    from morphl_community_edition_spark.queries.curation import MIX_RATES

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    plan = (
        hash_rate_sample(docs, "doc_id", MIX_RATES, "source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]
    assert plan.count("FileScan") == 1, plan[:1500]


def test_q133_exact_sample_single_stratum_shuffle(spark):
    """q133 exact-quota sampler: one shuffle (the stratum-key
    exchange feeding the per-stratum rank window) and nothing else —
    no join, no second exchange before the presentation sort."""
    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.sampling import (
        stratified_exact_sample,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    plan = (
        stratified_exact_sample(docs, "doc_id", 7, "source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan[:1500]
    assert "Join" not in plan, plan[:1500]


def test_q135_vocab_cost_join_broadcasts(spark):
    """q135 corpus token accounting (round-7): the (word, token cost)
    side is dimension-sized by construction, so the corpus-word join
    must be a BroadcastHashJoin — a shuffled corpus-side join here
    would ship every exploded word over the network at 100 TB."""
    plan = (
        QUERIES["q135_bpe_token_accounting"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_q137_scd2_single_user_shuffle(spark):
    """q137 SCD-2 history (round-7): both windows share the (user_id)
    partitioning, so the plan carries ONE data shuffle plus the
    presentation sort — a second exchange between the windows would
    mean Catalyst stopped reusing the partitioning."""
    from morphl_community_edition_spark.plans import count_exchanges

    df = QUERIES["q137_scd2_history"](spark, SF_DIR)
    assert count_exchanges(df) <= 2, (
        df._jdf.queryExecution().executedPlan().toString()[:1500]
    )


def test_q138_model_join_broadcasts_no_window(spark):
    """q138 unigram NLL (round-7): the vocab-sized model must
    BROADCAST onto the exploded corpus (a shuffled corpus-words join
    is the 100 TB failure mode), and the whole score is agg-shaped —
    no window anywhere."""
    df = QUERIES["q138_unigram_nll_quality"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]


def test_q139_score_is_projection_thresholds_broadcast(spark):
    """q139 adaptive quality cut (round-7): the quality score must be
    a per-row projection — NO explode (Generate) anywhere, the
    fixture corpus is never row-multiplied — and the per-source
    threshold frame must come back via BROADCAST, not a shuffled
    join on the skewed source key. percentile is an agg, so no
    Window either."""
    df = QUERIES["q139_adaptive_quality_cut"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]


def test_q140_bigram_nll_is_agg_join_shaped(spark):
    """q140 bigram NLL (round-7): like q138 the whole score is
    agg+join shaped — no window anywhere — and every aggregate is
    partial-agg (map-side combine) so hot bigrams collapse before
    the exchange."""
    df = QUERIES["q140_bigram_nll_quality"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2, plan[:2000]


def test_q141_bm25_topk_no_global_sort(spark):
    """q141 BM25 retrieval (round-7): the top-20 must be
    TakeOrderedAndProject (per-partition heap + driver merge), never
    a global Sort+Limit; the idf/corpus-stat frames must broadcast;
    and the ranking is agg-shaped — no window."""
    df = QUERIES["q141_bm25_retrieval"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "Window" not in plan, plan[:1500]


def test_q142_interval_coalesce_single_user_shuffle(spark):
    """q142 interval coalesce (round-8 gate, the q137 device): the
    running-max window, the island-numbering window and the island agg
    all share the (user_id) partitioning — ONE data shuffle plus the
    presentation sort; a second exchange between the windows/agg would
    mean Catalyst stopped reusing the user clustering."""
    from morphl_community_edition_spark.plans import count_exchanges

    df = QUERIES["q142_interval_coalesce"](spark, SF_DIR)
    assert count_exchanges(df) <= 2, (
        df._jdf.queryExecution().executedPlan().toString()[:1500]
    )


def test_q143_pagerank_iteration_copartitioned_no_corpus_reread(spark):
    """q143 PageRank (round-8 gate): the iteration body must be
    node-sized traffic only. With broadcast off the table (the
    at-scale shape), the ranks⋈edges join must read the persisted
    src-partitioned edge frame WITHOUT a new shuffle on src (the
    InMemoryRelation preserves the one-time repartition — re-shuffling
    the corpus-scale side every iteration is the 100 TB failure mode),
    the contribution sum must keep map-side partial aggregation, and
    the loop body must not re-derive corpus-scale state (no
    deg/distinct recomputation: the only aggregates are the dst sum)."""
    import re

    from morphl_community_edition_spark.operators.pagerank import (
        pagerank_prepare,
        pagerank_step,
    )
    from morphl_community_edition_spark.queries.workload import trade_graph_edges

    ed, ranks0, nn, _deg = pagerank_prepare(trade_graph_edges(spark, SF_DIR))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ed.count()  # materialize the cache so the iteration reads it
        step = pagerank_step(ed, ranks0, nn)
        plan = step._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan[:1500]
        # the cached-subtree display legitimately shows the ONE-TIME
        # REPARTITION_BY_NUM exchange that built the cache; the live
        # plan above it must not add a new src shuffle
        live = plan.split("InMemoryRelation")[0]
        assert not re.search(
            r"Exchange hashpartitioning\(src#\d+", live
        ), f"iteration re-shuffles the edge side:\n{plan[:2000]}"
        assert "partial_sum" in plan, f"dst sum lost map-side combine:\n{plan[:1500]}"
        # corpus-scale state must come from the cache, not be re-derived:
        # the live plan has no distinct/degree agg, only the dst sum +
        # the final update; FileScans may appear only in the cached
        # subtree display (already-executed build plan)
        assert "FileScan" not in live, f"iteration replans a corpus scan:\n{live[:2000]}"
        # the prefix-slice check above is blind to subtrees that print
        # AFTER the cached block (the round-8 review found nn's
        # re-derivation hiding exactly there) — so re-plan the step
        # over a lineage-TRUNCATED edge frame: now ANY FileScan
        # anywhere in the plan is corpus re-derivation inside the loop
        ed_t = ed.localCheckpoint(eager=True)
        plan_t = (
            pagerank_step(ed_t, ranks0, nn)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "FileScan" not in plan_t and "Scan parquet" not in plan_t, (
            f"loop body re-derives corpus state (nn or edges):\n{plan_t[:2000]}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        ed.unpersist(blocking=True)


def test_prefix_jaccard_boilerplate_pruning_no_cartesian(spark):
    """Round-8 PPJoin path (exact_jaccard_pairs method='prefix'): on a
    BOILERPLATE-heavy corpus — every document sharing a template
    header, the realistic web shape where the direct postings join's
    Σ df² volume goes corpus² — the prefix filter must (a) keep the
    candidate join an equi-join on the shingle key (no cartesian /
    nested-loop), with the prefix cut as the doc-keyed Window
    row_number; (b) exclude the boilerplate shingles from EVERY
    prefix (they have the max df, prefixes keep the min-df tokens),
    so candidate volume stays near the true-pair count while the
    direct join's volume is dominated by the df=n_docs template
    terms; (c) return the identical pair set as the direct join."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.dedup import (
        exact_jaccard_pairs,
        prefix_jaccard_candidates,
        word_shingles,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.concat(
            F.lit("terms of use apply to all content here . "), F.col("text")
        ).alias("text"),
    )
    pairs = exact_jaccard_pairs(docs, threshold=0.5, method="prefix")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        plan[:1500]
    )
    assert "RunningWindowFunction" in plan or "Window" in plan, plan[:1500]

    base, cand = prefix_jaccard_candidates(docs, threshold=0.5)
    n_cand = cand.count()
    # direct-join volume on the SAME corpus: Σ df·(df−1)/2
    direct_volume = int(
        word_shingles(docs.select("doc_id", "text"))
        .select(F.explode("shingles").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.expr("df*(df-1)/2")).alias("v"))
        .collect()[0]["v"]
    )
    assert n_cand * 20 < direct_volume, (
        f"boilerplate didn't separate the paths: {n_cand} prefix candidates "
        f"vs direct volume {direct_volume}"
    )
    got = {tuple(r) for r in pairs.collect()}
    want = {
        tuple(r)
        for r in exact_jaccard_pairs(docs, threshold=0.5, method="postings").collect()
    }
    assert got == want


def test_q145_lpa_iteration_copartitioned_no_window(spark):
    """q145 label propagation (round-8 gate, the q143 device): with
    broadcast disabled (the at-scale shape), one LPA round must read
    the persisted src-partitioned edge frame WITHOUT a new src shuffle
    (InMemoryRelation preserves the one-time repartition), keep
    map-side partial aggregation on BOTH aggs (the (node,label) vote
    count and the min-of-struct winner — celebrity nodes collapse
    before the wire), use NO window, and never re-derive corpus-scale
    state inside the loop (no FileScan in the live plan)."""
    import re

    from pyspark.sql import functions as F

    from morphl_community_edition_spark.operators.labelprop import (
        label_propagation_step,
    )
    from morphl_community_edition_spark.queries.workload import trade_graph_edges

    edges = trade_graph_edges(spark, SF_DIR)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ed = edges.repartition(n_part, "src").persist()
    labels0 = (
        edges.select("src").distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .localCheckpoint(eager=True)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ed.count()
        step = label_propagation_step(ed, labels0)
        plan = step._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan[:1500]
        live = plan.split("InMemoryRelation")[0]
        assert not re.search(
            r"Exchange hashpartitioning\(src#\d+", live
        ), f"iteration re-shuffles the edge side:\n{plan[:2000]}"
        assert "partial_count" in plan or "partial_min" in plan or (
            "partial" in plan
        ), f"aggs lost map-side combine:\n{plan[:1500]}"
        assert "Window" not in plan, "winner selection reintroduced a window"
        assert "FileScan" not in live, f"iteration replans a corpus scan:\n{live[:2000]}"
        # truncated-lineage variant (the q143 device): any FileScan in
        # a step over checkpointed inputs is loop-body re-derivation
        ed_t = ed.localCheckpoint(eager=True)
        plan_t = (
            label_propagation_step(ed_t, labels0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "FileScan" not in plan_t and "Scan parquet" not in plan_t, (
            f"loop body re-derives corpus state:\n{plan_t[:2000]}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        ed.unpersist(blocking=True)


def test_q146_weighted_sample_scan_side_priority_topk(spark):
    """q146 weighted sample (round-8 gate): the replicated-hash
    priority must be a pure per-row projection — NO Generate (an
    exploded replica row per weight unit would multiply the corpus
    scan by avg-weight), NO window, NO join — and the corpus-wide cut
    must be TakeOrderedAndProject (k-row reduce), never a full
    rangepartitioning sort of the corpus."""
    plan = (
        QUERIES["q146_weighted_sample"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Generate" not in plan, "priority exploded the replica loop"
    assert "Window" not in plan and "Join" not in plan, plan[:1500]


def test_q147_keeper_election_partial_agg_no_window(spark):
    """q147 keeper election (round-8 gate): the per-cluster argmax
    must be a min-of-struct aggregate with MAP-SIDE partial collapse
    (partial_min BELOW the comp exchange — a celebrity cluster ships
    one candidate per input partition, not its membership), use NO
    window, and carry exactly two member/candidate-sized exchanges
    (the members' one null-safe-keyed pass for the flag join + the
    election's collapsed candidates on comp); the null-safe join-back
    is allowed ONE extra exchange re-keying the cluster-count-sized
    winner frame, nothing more."""
    from morphl_community_edition_spark.operators.components import keeper_election

    scored = spark.createDataFrame(
        [(i, i % 7, 2, (i * 37) % 100) for i in range(100)],
        "doc_id long, comp long, cluster_size long, score long",
    ).localCheckpoint(eager=True)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            keeper_election(scored)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Window" not in plan, "keeper election reintroduced a window"
    # the election agg shuffles on plain comp; the join sides on the
    # null-safe (coalesce, isnull) key — members once, winners once
    assert plan.count("Exchange hashpartitioning(comp") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning(coalesce(comp") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning(coalesce(__kcomp") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 3, plan[:2000]
    # map-side collapse: the partial min(struct) must sit below its
    # exchange — i.e. in the same stage as the scan, before the wire
    pre_exchange = plan.split("Exchange hashpartitioning(comp", 1)[-1]
    assert "partial_min" in pre_exchange, (
        f"election lost map-side combine:\n{plan[:2000]}"
    )


def test_q148_heavy_hitters_mg_no_shuffle_recount_broadcast(spark):
    """q148 heavy hitters (round-8 gate): the Misra-Gries candidate
    pass must run on the scan partitioning with NO exchange (the
    whole point — nothing vocabulary-sized crosses the wire), and the
    exact recount must be a BROADCAST join of the candidate list with
    map-side partial_count below its single exchange (the candidate
    filter collapses the exploded corpus before the wire)."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.operators.heavyhitters import (
        heavy_hitters_exact,
        misra_gries_summaries,
    )
    from morphl_community_edition_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    mg_plan = (
        misra_gries_summaries(words, "word", k=200)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in mg_plan, f"MG pass shuffles:\n{mg_plan[:2000]}"
    assert "MapInPandas" in mg_plan, mg_plan[:1500]
    out = heavy_hitters_exact(words, "word", k=200)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, f"recount lost the broadcast:\n{plan[:2000]}"
    assert "partial_count" in plan.split("Exchange", 1)[-1], (
        f"recount lost map-side combine:\n{plan[:2000]}"
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_q150_ann_index_serve_prunes_cells_and_reads_no_corpus(spark, tmp_path):
    """q150 persisted ANN serve (round-8 gate): the index's
    cell-partitioned layout must actually prune — the vectors scan
    carries a dynamic-partition-pruning expression on cell seeded by
    the probe routing (probing p of n cells reads ~p/n of the index
    FILES, not scan-and-discard) — and the serve plan must read ONLY
    the index directory: zero scans of the corpus table (the
    self-contained-serving contract the module header claims)."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.ann_index import (
        ann_index_topk,
        build_ann_index,
    )
    from tests.conftest import SF_DIR_SMOKE

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    path = str(tmp_path / "ann")
    build_ann_index(emb, path, n_cells=16)
    probes = emb.filter(F.col("vec_id") < 3).localCheckpoint(eager=True)
    out = ann_index_topk(spark, path, probes, k=5, n_candidates=50, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(cell" in plan, (
        f"cell partitions not dynamically pruned:\n{plan[:2000]}"
    )
    # self-contained serving: the only FileScans are the index's own
    # tables — the corpus parquet must not appear
    assert "embeddings.parquet" not in plan, (
        "serve path re-reads the corpus table"
    )
    assert out.count() > 0


def test_q150_ann_index_serve_prunes_cells_on_grown_corpus(spark, tmp_path):
    """The pruning gate at the DECADE (round 13, verdict r12 #2): the
    grown-corpus decomposition showed the full-probe serve reads the
    whole (10x bigger) index by construction — the honest linear
    term — so the scale story rests on the PRUNED production serve
    (n_probe < n_cells) still pruning on a grown layout. Build the
    index on a 10x corpus (10 shifted copies, the scale_sweep grown
    construction) and assert the same DPP + self-containment gates
    hold there."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.ann_index import (
        ann_index_topk,
        build_ann_index,
    )
    from tests.conftest import SF_DIR_SMOKE

    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    n = emb.count()
    copies = spark.range(10).select(F.col("id").alias("i"))
    grown = emb.crossJoin(copies).select(
        (F.col("vec_id") + F.col("i") * n).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.col("i").cast("float") * F.lit(0.001)
        ).alias("embedding"),
        "label",
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ann_grown")
    build_ann_index(grown, path, n_cells=16)
    probes = grown.filter(F.col("vec_id") < 3).localCheckpoint(eager=True)
    out = ann_index_topk(spark, path, probes, k=5, n_candidates=50, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(cell" in plan, (
        f"cell partitions not dynamically pruned on the grown layout:\n{plan[:2000]}"
    )
    assert "embeddings.parquet" not in plan, "serve path re-reads the corpus"
    assert out.count() > 0


def test_q151_bm25_serve_static_bucket_pruning_no_corpus(spark, tmp_path):
    """q151 persisted BM25 serve (round-8 gate): the postings scan
    must carry a LITERAL term_bucket partition filter (driver-computed
    md5 buckets — STATIC pruning, unlike q150's DPP: no subquery, no
    job), the cut must be TakeOrderedAndProject, and the serve plan
    must never scan the corpus table."""
    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.text_index import (
        bm25_topk,
        build_text_index,
    )
    from tests.conftest import SF_DIR_SMOKE

    docs = load_table(spark, SF_DIR_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "tidx")
    build_text_index(docs, path)
    out = bm25_topk(spark, path, ("merge", "window"), k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [seg for seg in plan.split("PartitionFilters: [")[1:] if "term_bucket" in seg.split("]")[0]]
    assert pf, f"no static term_bucket partition filter:\n{plan[:2000]}"
    assert "dynamicpruning" not in pf[0].split("]")[0], "bucket filter should be static literals"
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "documents.parquet" not in plan, "serve path re-reads the corpus"
    assert out.count() > 0


def test_q154_point_lookup_prunes_to_probed_buckets(spark, tmp_path):
    """Round 11 (verdict r10 #3): the point-lookup serving shape must
    touch ONLY the probed buckets' files. Gates: (a) the scan carries
    a STATIC literal kbucket partition filter (no dynamicpruning
    subquery — the buckets are driver-derived), (b) the key predicate
    is pushed to parquet, (c) physically, input_file_name() over the
    served rows names only probed-bucket directories, and fewer
    distinct files than buckets exist, (d) the lookup equals the
    full-scan filter."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.point_lookup import (
        point_lookup,
        write_serving_table,
    )
    from tests.conftest import SF_DIR_SMOKE

    served = (
        load_table(spark, SF_DIR_SMOKE, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
    )
    path = str(tmp_path / "serve")
    write_serving_table(served, path, key_col="c_custkey", n_buckets=16)

    keys = [1, 2, 18]  # buckets 1, 2, 2 -> 2 distinct buckets of 16
    out = point_lookup(spark, path, keys)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [seg.split("]")[0] for seg in plan.split("PartitionFilters: [")[1:]]
    assert pf and "kbucket" in pf[0], f"no kbucket partition filter:\n{plan[:1500]}"
    assert "dynamicpruning" not in pf[0].lower(), "bucket filter must be static literals"
    assert "In(c_custkey" in plan, f"key predicate not pushed:\n{plan[:1500]}"

    rows = out.withColumn("f", F.input_file_name()).collect()
    files = {r["f"] for r in rows}
    assert files and len(files) <= 2, f"read more files than probed buckets: {files}"
    assert all(("/kbucket=1/" in f) or ("/kbucket=2/" in f) for f in files), files

    want = sorted(
        map(tuple, served.filter(F.col("c_custkey").isin(keys)).collect())
    )
    got = sorted(map(tuple, (r[:-1] for r in rows)))
    assert got == want

    # missing key -> empty result, never an error (the REST 404 shape)
    assert point_lookup(spark, path, [10**9]).count() == 0

    # torn build (marker cleared, data present) is rejected loudly
    from morphl_community_edition_spark.operators import manifest as mf

    mf.clear_commit(path)
    with pytest.raises(RuntimeError, match="no _COMMIT marker"):
        point_lookup(spark, path, keys)


def test_point_lookup_string_keys_hash_bucketed(spark, tmp_path):
    """Non-integer keys bucket by xxhash64: the lookup must derive its
    probe buckets with the engine's own hash (never a Python twin) and
    still prune + answer exactly."""
    import pyspark.sql.functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.point_lookup import (
        point_lookup,
        write_serving_table,
    )
    from tests.conftest import SF_DIR_SMOKE

    served = (
        load_table(spark, SF_DIR_SMOKE, "customer")
        .select("c_name", "c_acctbal")
    )
    path = str(tmp_path / "serve-str")
    write_serving_table(served, path, key_col="c_name", n_buckets=8)
    keys = [r["c_name"] for r in served.limit(3).collect()]
    out = point_lookup(spark, path, keys)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = [seg.split("]")[0] for seg in plan.split("PartitionFilters: [")[1:]]
    assert pf and "kbucket" in pf[0]
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(tuple, served.filter(F.col("c_name").isin(keys)).collect())
    )
    assert got == want


def test_q157_hybrid_serve_reads_only_the_two_indexes(spark, tmp_path):
    """q157 persisted hybrid serve (round 11): the fused plan must
    inherit BOTH legs' serving contracts — the BM25 leg's static
    term_bucket partition filter, the ANN leg's dynamic cell pruning —
    and scan NO corpus parquet: the only FileScans permitted are the
    two index directories (plus the payload join, exercised at the
    query layer, not here). One plan string gates the composition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.operators.ann_index import (
        ann_index_topk,
        build_ann_index,
    )
    from morphl_community_edition_spark.operators.fusion import rrf_fuse
    from morphl_community_edition_spark.operators.text_index import (
        bm25_topk,
        build_text_index,
    )
    from tests.conftest import SF_DIR_SMOKE

    docs = load_table(spark, SF_DIR_SMOKE, "documents").select("doc_id", "text")
    tpath = str(tmp_path / "tidx")
    build_text_index(docs, tpath)
    emb = load_table(spark, SF_DIR_SMOKE, "embeddings")
    apath = str(tmp_path / "ann")
    build_ann_index(emb, apath, n_cells=16)

    lex = bm25_topk(spark, tpath, ("merge", "window"), k=10).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score_scaled").desc(), "doc_id"))
        .alias("rnk"),
    )
    probe = emb.filter(F.col("vec_id") == 0).localCheckpoint(eager=True)
    vec = ann_index_topk(spark, apath, probe, k=10, n_candidates=50, n_probe=2).select(
        F.col("n_vec").alias("doc_id"), "rnk"
    )
    fused = rrf_fuse({"lex": lex, "vec": vec})
    plan = fused._jdf.queryExecution().executedPlan().toString()
    pf = [
        seg
        for seg in plan.split("PartitionFilters: [")[1:]
        if "term_bucket" in seg.split("]")[0]
    ]
    assert pf, f"BM25 leg lost its static bucket filter:\n{plan[:2000]}"
    assert "dynamicpruningexpression(cell" in plan, (
        f"ANN leg lost its cell pruning:\n{plan[:2000]}"
    )
    assert "documents.parquet" not in plan and "embeddings.parquet" not in plan, (
        "hybrid serve re-reads a corpus table"
    )
    rows = {r["doc_id"]: r for r in fused.collect()}
    assert rows and all(r["rrf_scaled"] > 0 for r in rows.values())


def test_q166_zorder_serve_prunes_partitions(spark):
    """The z-layout serve must carry the driver-computed literal
    zbucket list as a STATIC PartitionFilter (no DPP subquery) and
    actually read fewer files than the full layout holds."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q166_zorder_serve"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "zbucket" in pf
    assert "dynamicpruning" not in plan.lower()
    # files actually touched vs files in the layout
    from morphl_community_edition_spark.session import artifact

    path = artifact(spark, "morphl_zorder_orders", SF_DIR)
    touched = (
        spark.read.parquet(path)
        .filter(F.col("zbucket").isin(
            __import__(
                "morphl_community_edition_spark.operators.zorder",
                fromlist=["zbuckets_for_x_range"],
            ).zbuckets_for_x_range(100, 200, bucket_bits=14)
        ))
        .select(F.input_file_name().alias("f")).distinct().count()
    )
    total = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f")).distinct().count()
    )
    assert touched < total, f"pruning read {touched}/{total} files"


def test_q167_zorder_rect_serve_prunes_both_tiers(spark):
    """q167 (the BIGMIN/LITMAX closure of verdict r11 #8) must show
    BOTH pruning tiers in its plan: the literal zbucket list as a
    static PartitionFilter (no DPP subquery), and the z-interval
    disjuncts among the scan's pushed data filters (the row-group
    min/max skipping handle — effectiveness measured at the footers
    in tests/test_maintenance_ops.py)."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q167_zorder_rect_serve"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "zbucket" in pf
    assert "dynamicpruning" not in plan.lower()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "z" in pushed and ("Or(" in pushed or "GreaterThanOrEqual" in pushed), (
        f"z intervals not pushed: {pushed[:300]}"
    )


def test_rollup_serve_never_rereads_fact_table(spark, tmp_path):
    """read_rollup's plan must scan ONLY the persisted state slices —
    the fact table is paid once at build/fold time, never at serve."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.operators.incremental_agg import (
        RollupSpec,
        append_rollup,
        build_rollup,
        read_rollup,
    )
    from morphl_community_edition_spark.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    spec = RollupSpec(keys=("l_suppkey",), measures={"l_quantity": 2})
    path = str(tmp_path / "ru")
    build_rollup(li.filter(F.col("l_orderkey") % 2 == 0), spec, path)
    append_rollup(li.filter(F.col("l_orderkey") % 2 == 1), path, sid="b1")
    plan = read_rollup(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "serve plan re-reads the fact table"
    # the scans read the persisted monoid-state schema, not fact rows
    assert plan.count("FileScan") >= 1 and "l_quantity_sum" in plan


def test_q170_view_match_serves_from_states_only(spark):
    """q170's plan must scan persisted state slices + the two dim
    tables and NEVER lineitem (the view-matching contract: coarser
    grains re-aggregate |groups|-sized states), with the dim side
    broadcast (size-gated hint on the supplier source)."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q170_rollup_view_match"](spark, SF_DIR)
    plan = _serve_plan(df)
    assert "lineitem" not in plan, "view-matched serve re-read the fact table"
    assert "morphl_vm_rollup" in plan or "states" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q169_topk_serves_from_histogram_only(spark):
    """q169's plan must scan only the persisted histogram slices —
    the second-serve-shape claim (quantiles AND top-k from one
    structure) is a plan property, not just a value property."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q169_hist_topk_serve"](spark, SF_DIR)
    plan = _serve_plan(df)
    assert "lineitem" not in plan, "histogram serve re-read the fact table"
    assert "morphl_hist_rollup" in plan or "states" in plan


def test_q171_grain_lattice_serves_from_states_only(spark):
    """q171's plan must scan ONLY the persisted (suppkey, ship_month)
    state slices — the time-grain lattice contract (round 13, verdict
    r12 #6): month→quarter/year coarsening is a regroup over stored
    keys, needing no dim table and no fact re-read at serve. The fact
    scan happens once, at build/fold time, in separate write actions."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q171_rollup_grain_lattice"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "grain-lattice serve re-read the fact table"
    assert "morphl_grain_rollup" in plan or "states" in plan
    # the regroup runs over the persisted monoid-state schema
    assert "l_extendedprice_sum" in plan


def test_q172_cross_lattice_serves_from_states(spark):
    """q172's plan must scan the SAME persisted (suppkey, ship_month)
    states q171 serves from, plus the two dim tables broadcast — and
    never lineitem: the cross-grain (dim × time) coarsening is one
    |states|-sized merge, completing the lattice contract."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q172_rollup_lattice_cross"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "cross-lattice serve re-read the fact table"
    assert "morphl_grain_rollup" in plan or "states" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q173_hist_view_match_serves_from_states(spark):
    """q173's plan must scan the persisted histogram slices + the two
    dim tables broadcast, never lineitem — view matching applied to
    the QUANTILE member: the nation histogram is a merge of supplier-
    grain (v, cnt) states, and rank arithmetic runs on the merged
    grid."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q173_hist_view_match"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "histogram view-match re-read the fact table"
    assert "morphl_hist_rollup" in plan or "states" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q174_range_mass_serves_from_histogram(spark):
    """q174's plan must scan only the persisted histogram slices —
    the fourth serve shape (band mass) over the same state the
    quantile/top-k/view-match readers use; no window, no fact scan."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q174_hist_range_mass"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "range-mass serve re-read the fact table"
    assert "morphl_hist_rollup" in plan or "states" in plan


def test_capped_order_plans_topk_and_preserves_result(spark):
    """plans/hints.capped_order (round 13): orderBy+limit at a proven
    row bound must (a) plan TakeOrderedAndProject — no RangeExchange,
    whose boundary sampling re-executes the child subtree (the q150
    grown-serve artifact, SCALE.md round 13) — and (b) return exactly
    the bare orderBy's rows, including with desc/mixed sort Columns."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.plans.hints import capped_order

    df = (
        load_table(spark, SF_DIR, "nation")
        .select("n_nationkey", "n_regionkey", "n_name")
    )
    capped = capped_order(df, F.col("n_regionkey").desc(), "n_name", cap=25)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]
    assert "rangepartitioning" not in plan, "range exchange not eliminated"
    want = [tuple(r) for r in df.orderBy(F.col("n_regionkey").desc(), "n_name").collect()]
    got = [tuple(r) for r in capped.collect()]
    assert got == want and len(got) == 25


def test_pinned_order_pins_child_and_preserves_result(spark):
    """plans/hints.pinned_order (round 14): the group-bounded sibling
    of capped_order must (a) plan the sort over a checkpoint-RDD scan
    — the serve subtree executes once instead of being re-executed by
    range-boundary sampling — (b) expose the pre-pin child for the
    scan-evidence plan gates, and (c) return exactly the bare
    orderBy's rows."""
    from pyspark.sql import functions as F

    from morphl_community_edition_spark.catalog import load_table
    from morphl_community_edition_spark.plans import hints

    df = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    pinned = hints.pinned_order(df, "l_suppkey")
    assert pinned._morphl_pre_pin is df
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:800]
    assert "FileScan" not in plan, "pinned tail re-read a table"
    want = [tuple(r) for r in df.orderBy("l_suppkey").collect()]
    got = [tuple(r) for r in pinned.collect()]
    assert got == want


def test_q175_retraction_serves_from_histogram(spark):
    """q175's serve plan must scan only the (compacted) persisted
    histogram — retraction and compaction happen at fold time; the
    serve never re-reads the fact table."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q175_hist_retraction"](spark, SF_DIR)
    plan = _serve_plan(df)
    assert "lineitem" not in plan, "retraction serve re-read the fact table"
    assert "morphl_hist_retract" in plan or "states" in plan


def test_q176_time_travel_serves_from_histogram(spark):
    """q176's serve plan must scan only persisted histogram slices —
    BOTH tiers: the snapshot-pinned read (retained pre-compaction
    slices) and the live read (compacted slice); the fact table is
    never touched at serve."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q176_hist_time_travel"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "time-travel serve re-read the fact table"
    assert "morphl_hist_timetravel" in plan or "states" in plan


def test_q177_rollup_retraction_serves_from_states(spark):
    """q177's serve plan must scan only the compacted rollup states —
    the correction happened at fold time; no fact re-read."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q177_rollup_retraction"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan, "rollup-retraction serve re-read the fact table"
    assert "morphl_rollup_retract" in plan or "states" in plan


def test_q178_sample_serve_reads_only_slices(spark):
    """q178's serve plan must scan only the persisted sample slices
    (k-bounded rows per group) — never the fact table."""
    from morphl_community_edition_spark.queries import QUERIES

    df = QUERIES["q178_sample_quantile_rollup"](spark, SF_DIR)
    plan = _serve_plan(df)
    assert "lineitem" not in plan, "sample serve re-read the fact table"
    assert "morphl_sample_rollup" in plan or "states" in plan
