"""Plan-shape regression tests: the physical-plan properties that
matter at 100 TB (pruned scans, pushed filters, broadcast dimensions,
no Python stages in the relational core) must survive refactors.

Uses the same plan inspector as tools/plan_audit.py.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "tools")

from plan_audit import audit  # noqa: E402

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def audits(spark):
    names = [
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
        "tpch_q9_product_profit",
        "join_range_bands",
        "topk_per_group",
        "dedup_exact_md5",
        "sample_train_test_split",
    ]
    return {n: audit(spark, n, SF_DIR) for n in names}


def test_q1_single_pruned_scan(audits):
    a = audits["tpch_q1_pricing_summary"]
    assert a["scans"] == 1
    assert a["scan_cols"] == [7]  # 7 of lineitem's 11 columns
    assert a["pushed_filters"] >= 1  # shipdate predicate reaches the scan
    assert a["python_stages"] == 0


def test_q3_broadcasts_both_dimensions(audits):
    # customer carries NO broadcast hint (fact-sized at SF100 — a
    # forced broadcast would OOM executors); at this SF the planner's
    # own size estimate must still pick broadcast for both small sides.
    # This asserts the size-gate works, not a pinned hint.
    a = audits["tpch_q3_shipping_priority"]
    assert a["broadcast_joins"] == 2
    assert a["sortmerge_joins"] == 0
    assert a["pushed_filters"] == a["scans"] == 3


def test_q5_all_dimensions_broadcast(audits):
    # same: only region/nation/supplier are hinted; customer's
    # broadcast below is the planner's size-estimate choice at this SF
    a = audits["tpch_q5_local_supplier"]
    assert a["broadcast_joins"] == 5
    assert a["sortmerge_joins"] == 0


def test_q9_prunes_every_scan(audits):
    a = audits["tpch_q9_product_profit"]
    # lineitem 6/11 cols, part 3/6, supplier 2/4, orders 2/6, nation 2/3
    assert sorted(a["scan_cols"]) == [2, 2, 2, 3, 6]
    assert a["broadcast_joins"] == 4


def test_range_bands_is_single_pass_bnl(audits):
    a = audits["join_range_bands"]
    assert a["bnl_joins"] == 1  # broadcast nested loop against 4 bands
    assert a["scans"] == 1 and a["scan_cols"] == [2]


def test_relational_core_has_no_python_stages(audits):
    for name in [
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
        "tpch_q9_product_profit",
        "join_range_bands",
        "topk_per_group",
        "dedup_exact_md5",
        "sample_train_test_split",
    ]:
        assert audits[name]["python_stages"] == 0, name


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A partitioned fact joined to a filtered dim must plan a
    dynamicpruning subquery on the partition column — at 100 TB this
    is what keeps a dim-filtered join from scanning every partition."""
    import pyspark.sql.functions as F

    from free_etl_spark.tables import load_table

    fact_dir = str(tmp_path / "orders_by_priority")
    orders = load_table(spark, SF_DIR, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("1-URGENT", "urgent"), ("5-LOW", "low")], "prio string, label string"
    ).filter(F.col("label") == "urgent")

    joined = fact.join(dim, fact.o_orderpriority == dim.prio)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    assert joined.count() == orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


def test_range_partitioned_write_is_globally_sorted(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions = the sorted-table
    layout (non-overlapping file ranges) that range-pruned scans and
    merge joins exploit at scale."""
    import glob

    import pyspark.sql.functions as F

    from free_etl_spark.tables import load_table

    out = str(tmp_path / "orders_ranged")
    orders = load_table(spark, SF_DIR, "orders")
    (
        orders.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(out)
    )
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        df = spark.read.parquet(f)
        lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
        ranges.append((lo, hi))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # non-overlapping key ranges across files


def test_join_hints_steer_strategy(spark):
    """Join hints must override the planner's default choice — the
    escape hatch when stats mislead at scale."""
    from free_etl_spark.tables import load_table

    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")

    merged = orders.join(cust.hint("merge"), orders.o_custkey == cust.c_custkey)
    plan_m = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_m, plan_m

    shuffled = orders.join(
        cust.hint("shuffle_hash"), orders.o_custkey == cust.c_custkey
    )
    plan_h = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan_h, plan_h


def test_near_dup_plans_have_no_cartesian_products(spark):
    """The dedup/ANN family must generate candidates via key-equality
    joins on compact sketches — a CartesianProduct (or a
    BroadcastNestedLoopJoin against anything but a tiny broadcast
    side) anywhere in these plans is the quadratic escape hatch that
    dies at corpus scale."""
    for name in [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "dedup_embedding_cosine",
        "sim_ann_lsh",
        "text_contamination_check",
        "dedup_ngram_containment",
        "sim_pq_topk",
        "text_unigram_logprob",
        "text_boilerplate_lines",
        "dedup_substring_spans",
        "text_bigram_lm_score",
        "graph_triangle_count",
        "graph_label_propagation",
        "agg_heavy_hitters_cms",
        "emb_outlier_zscore",
    ]:
        a = audit(spark, name, SF_DIR)
        assert a["cartesian_joins"] == 0, name
        assert a["python_stages"] == 0, name
    # embedding_cosine's only BNL is the broadcast 16-row centroid
    # argmin; the candidate join itself must be hash-keyed. Audit the
    # CANONICAL build plan: a session-cached relation's printed plan
    # embeds its child plan text, so prior tests that populated the
    # relation cache (ann_quality's sim_ivf_topk run) would inflate
    # the text-based BNL count — clear the cache first.
    from free_etl_spark import cache

    cache.clear(spark)
    a = audit(spark, "dedup_embedding_cosine", SF_DIR)
    assert a["bnl_joins"] <= 2


def test_salted_queries_match_plain_shape(spark):
    """Salted operators add a salt column + replication but stay pure
    shuffle/aggregate plans: no Python stages, no cartesian."""
    for name in ["events_salted_user_totals", "events_salted_enrich_join"]:
        a = audit(spark, name, SF_DIR)
        assert a["cartesian_joins"] == 0, name
        assert a["python_stages"] == 0, name


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join handling is the runtime backstop the 100 TB
    design leans on for hot keys the static planner can't see: with
    skew thresholds lowered, a join against a heavily skewed key must
    show skew-split sort-merge partitions in the final adaptive plan."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key (0) carrying 50k rows, the rest uniform
        left = spark.range(60_000).select(
            F.when(F.col("id") < 50_000, 0).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string").cast("binary")).alias("pad"),
        )
        right = spark.range(1_000).select(F.col("id").alias("k"))
        joined = left.join(right, "k")
        # act on THIS DataFrame's own queryExecution — write AND
        # count() both plan a fresh execution and would leave this
        # plan isFinalPlan=false; collect() finalizes it
        assert len(joined.collect()) == 50_000  # only the hot key matches
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_python_stage_creep_across_registry(spark):
    """Broad contract sweep: OUTSIDE the explicitly Python-surface
    queries (udf_*, multimodal decode/resize), no registered batch
    query may plan an Arrow/Python stage — 'UDFs are the slow path'
    is enforced, not aspirational."""
    import free_etl_spark.queries as q

    allowed_python = {
        "udf_pandas_scalar_price",
        "udf_grouped_agg_weighted",
        "udf_apply_in_pandas_zscore",
        "udf_map_in_pandas_enrich",
        "udf_arrow_python_scalar",
        "multimodal_decode_features",
        "multimodal_resize_32",
        # dHash runs through the same mapInPandas decoder registry
        "multimodal_phash",
        "multimodal_phash_dedup",
        # frame-level dHash: sample_frames is JVM-side but each frame
        # hashes through the mapInPandas decoder (the legitimate
        # Python boundary), 4 plan references -> 4 Python stages
        "multimodal_frame_phash_dedup",
        # xlsx has no native Spark source: binaryFile → mapInPandas is
        # the legitimate Python boundary (intake/xlsx_distributed.py)
        "source_xlsx_distributed",
    }
    offenders = []
    for name in q.QUERIES:
        if name in allowed_python or name.startswith("streaming_"):
            continue
        try:
            a = audit(spark, name, SF_DIR)
        except Exception as ex:  # noqa: BLE001 — surface as failure, not error
            offenders.append((name, f"audit failed: {ex}"))
            continue
        if a["python_stages"] != 0:
            offenders.append((name, f"python_stages={a['python_stages']}"))
    assert not offenders, offenders


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime bloom-filter semi-join reduction (the AQE-era runtime
    filter): when a sort-merge join's build side carries a selective
    filter, the optimizer injects might_contain(bloom_agg(keys)) onto
    the fact-side scan so most fact rows drop BEFORE the shuffle — at
    100 TB this is the difference between shuffling the whole fact
    table and shuffling the matching slice. Thresholds are lowered to
    make the tiny test tables eligible; production defaults (10 MB
    creation side / 10 GB application side) express the same shape."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_observation_metrics_free_audit(spark):
    """df.observe collects audit aggregates DURING the action — the
    zero-extra-pass row-count/sum audit a 100 TB pipeline attaches to
    its writes instead of running a second COUNT(*) scan."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation("audit")
    df = spark.range(1000).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("id_sum"),
        F.max("id").alias("id_max"),
    )
    assert df.count() == 1000  # the action that populates the metrics
    got = obs.get
    assert got == {"n_rows": 1000, "id_sum": 499500, "id_max": 999}


@pytest.mark.parametrize(
    "name",
    [
        "window_ntile_movavg",
        "orders_abc_pareto",
        "orders_rfm_segmentation",
        "text_vocab_coverage",
        "graph_triangle_count",
        "sample_curriculum_shards",
        "text_quality_percentile_cut",
        # r7 prefix-operator consumers (VERDICT r7 task #5): every query
        # whose docstring claims a distributed prefix must prove the
        # no-single-task-sort property, not just state it.
        "agg_weighted_median",
        "events_mann_whitney",
        "events_max_concurrency",
        "orders_abc_xyz_classification",
        "orders_skyline",
        "quality_key_skew_report",
        "text_negative_sampling",
        # r11: corpus total via broadcast scalar, per-source window only
        "sample_domain_cap",
    ],
)
def test_corpus_scale_queries_have_no_global_window(spark, name):
    """The five queries that used to run an unpartitioned
    Window.orderBy over a corpus-growing relation (VERDICT r5 task #3)
    now use the distributed prefix-sum / tuple-orientation forms
    (operators/prefix.py, graph.oriented_edges). Guard the shape: no
    Window operator in their plans may sit on a single-partition
    exchange. Scalar aggregates (constant-size combine) remain
    legitimately single-partition — only windows are gated."""
    import re

    import free_etl_spark.queries as q

    df = q.QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # A global window compiles to Window ← Sort ← Exchange
    # SinglePartition within adjacent plan lines.
    bad = re.search(
        r"Window [^\n]*\n[^\n]*(?:Sort [^\n]*\n[^\n]*)?Exchange SinglePartition",
        plan,
    )
    assert not bad, f"single-partition window in {name}:\n{bad.group(0)}"


@pytest.mark.parametrize(
    "name,cap_needle",
    [
        # adamic_adar: buyers semi-joined vs deg.filter(2<=d<=64) BEFORE
        # the part-keyed pair self-join (VERDICT r7 "What's wrong" #1).
        ("graph_adamic_adar", "<= 64"),
        # also_bought: baskets over _BASKET_CAP excluded before pairing.
        ("orders_also_bought", "<= 100"),
        # jaccard: wedge centers capped at degree 2..64 before the
        # wedge self-join (same pattern as adamic_adar).
        ("graph_jaccard_neighbors", "<= 64"),
    ],
)
def test_degree_cap_sits_below_pair_self_join(spark, name, cap_needle):
    """The quadratic-risk self-joins must apply their fan-out cap to
    BOTH inputs below the pair join in the OPTIMIZED plan — a cap
    applied above the join still materializes B^2 rows for a hot key
    before dropping them, which is exactly the plan defect the r7
    verdict confirmed in graph_adamic_adar. The pair join is the one
    whose condition carries the anti-symmetric '<' tie-break."""
    import free_etl_spark.queries as q

    df = q.QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan()

    pair_joins = []

    def walk(node):
        head = node.toString().splitlines()[0]
        if node.nodeName() == "Join" and " < " in head:
            pair_joins.append(node)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    assert pair_joins, f"no anti-symmetric pair join found in {name}"
    j = pair_joins[0]  # outermost such join is the pair enumerator
    ch = j.children()
    assert ch.size() == 2
    for i in range(2):
        sub = ch.apply(i).toString()
        assert cap_needle in sub, (
            f"{name}: fan-out cap {cap_needle!r} missing from pair-join "
            f"input {i} — cap is applied AFTER enumeration:\n"
            + j.toString()[:2000]
        )


def test_interval_overlap_joins_on_grid_bucket(spark):
    """join_interval_overlap's scale property: the session×burst
    overlap join must execute as a HASH equi-join on the exploded
    hour bucket with the interval predicate as a residual — never a
    BroadcastNestedLoopJoin/CartesianProduct evaluating the theta
    predicate pairwise (the naive lowering, quadratic in
    sessions×bursts at 100 TB)."""
    import free_etl_spark.queries as q

    df = q.QUERIES["join_interval_overlap"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    # the bucket equi-join exists and carries the residual condition
    assert "bucket" in plan and "Join" in plan
