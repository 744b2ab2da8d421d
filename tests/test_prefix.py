"""operators/prefix.py: the distributed prefix-sum / NTILE forms must
be value-identical to the single-partition window functions they
replace — including the nondeterminism trap that motivated the
persist (two plan branches sampling different range boundaries)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from free_etl_spark.operators.prefix import global_ntile, ordered_prefix


@pytest.fixture(scope="module")
def scrambled(spark):
    # keys deliberately not aligned with the generation order, plus a
    # payload column so column pruning differs between the window and
    # totals branches (the exact condition that broke exchange reuse)
    return spark.range(0, 2003).select(
        (F.col("id") * 37 % 2003).alias("k"),
        (F.col("id") % 7).alias("v"),
        F.concat(F.lit("payload_"), F.col("id")).alias("payload"),
    )


def test_ordered_prefix_matches_global_window(spark, scrambled):
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = (
        scrambled.select(
            "k",
            F.sum("v").over(w).alias("cs"),
            F.row_number().over(Window.orderBy("k")).cast("long").alias("rn"),
        )
        .orderBy("k")
        .toPandas()
    )
    got = (
        ordered_prefix(
            scrambled,
            [F.col("k")],
            cache_tag="test_prefix",
            sums={"cs": "v"},
            rn="rn",
            grand={"tot": "v"},
        )
        .orderBy("k")
        .toPandas()
    )
    assert (got["cs"].values == ref["cs"].values).all()
    assert (got["rn"].values == ref["rn"].values).all()
    assert (got["tot"] == ref["cs"].iloc[-1]).all()
    # payload survives untouched
    assert got["payload"].str.startswith("payload_").all()


@pytest.mark.parametrize("k", [4, 5, 7])
def test_global_ntile_matches_sql_ntile(spark, scrambled, k):
    order = [F.desc("k")]
    ref = (
        scrambled.select(
            "k", F.ntile(k).over(Window.orderBy(F.desc("k"))).alias("b")
        )
        .orderBy("k")
        .toPandas()
    )
    got = (
        global_ntile(scrambled, order, k, "b", cache_tag=f"test_ntile_{k}")
        .orderBy("k")
        .toPandas()
    )
    assert (got["b"].values == ref["b"].values).all()


def test_global_ntile_small_n(spark):
    # n < k: NTILE gives bucket i to row i
    df = spark.range(0, 3).select(F.col("id").alias("k"))
    got = (
        global_ntile(df, [F.col("k")], 5, "b", cache_tag="test_small")
        .orderBy("k")
        .toPandas()
    )
    assert list(got["b"]) == [1, 2, 3]


@pytest.mark.parametrize("k,desc", [(5, False), (5, True), (4, False)])
def test_global_ntile_boundaries_matches_sql_ntile(spark, scrambled, k, desc):
    """The lazy boundary-scored NTILE (bucket = 1 + Σ boundaries
    strictly before the row in the total order, boundary rows folded
    into one broadcast array row) must equal NTILE(k) exactly,
    tie-break included — the map-side form orders_rfm_segmentation
    uses (VERDICT r14 task 3)."""
    from free_etl_spark.operators.prefix import global_ntile_boundaries

    # v has heavy ties (id % 7), k is the unique tie-breaker
    df = scrambled.select("k", "v")
    order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
    ref = (
        df.select(
            "k", F.ntile(k).over(Window.orderBy(*order)).alias("b")
        )
        .orderBy("k")
        .toPandas()
    )
    got = (
        global_ntile_boundaries(
            df, [("v", desc), ("k", False)], k, "b",
            cache_tag=f"test_bnd_{k}_{desc}",
        )
        .orderBy("k")
        .toPandas()
    )
    assert (got["b"].values == ref["b"].values).all()


def test_global_ntile_boundaries_small_n_and_chaining(spark):
    from free_etl_spark.operators.prefix import global_ntile_boundaries

    # n < k: boundary ranks coincide; the multiplicity weight must
    # still count once per j (NTILE gives bucket i to row i)
    df = spark.range(0, 3).select(F.col("id").alias("k"))
    got = (
        global_ntile_boundaries(
            df, [("k", False)], 5, "b", cache_tag="test_bnd_small"
        )
        .orderBy("k")
        .toPandas()
    )
    assert list(got["b"]) == [1, 2, 3]
    # chaining two metrics stays flat (each boundary relation is a
    # one-row cross join, no lineage nesting) and both stay exact
    df2 = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("v")
    )
    out = global_ntile_boundaries(
        df2, [("k", False)], 5, "a", cache_tag="test_bnd_chain_a"
    )
    out = global_ntile_boundaries(
        out, [("v", True), ("k", False)], 5, "b",
        cache_tag="test_bnd_chain_b",
        boundary_src=df2.select("v", "k"),
    )
    ref = df2.select(
        "k",
        F.ntile(5).over(Window.orderBy("k")).alias("a"),
        F.ntile(5).over(Window.orderBy(F.desc("v"), "k")).alias("b"),
    )
    assert (
        out.select("k", "a", "b").orderBy("k").collect()
        == ref.orderBy("k").collect()
    )


def test_repeated_construction_is_stable_and_bounded(spark, scrambled):
    """Re-running the same prefix query must produce identical values
    (regression for the two-branch boundary-sampling bug) and must not
    accumulate cache entries (one live entry per tag)."""
    from free_etl_spark import cache

    vals = []
    for _ in range(3):
        df = global_ntile(
            scrambled, [F.col("k")], 4, "b", cache_tag="test_stable"
        )
        vals.append(tuple(df.orderBy("k").toPandas()["b"]))
    assert vals[0] == vals[1] == vals[2]
    live, retired = cache._STORE[spark]["test_stable"]
    assert live is not None and retired is None


def test_persist_gate_plan_shape(spark, scrambled):
    """The boundary-consistency guard is the shared InMemoryRelation:
    both plan branches (local windows and per-partition totals) must
    read the SAME cached range-partitioned relation, so exactly one
    range exchange samples boundaries. If a refactor drops the
    cache.by_plan persist, the cache scan disappears from the plan and
    each branch re-samples its own boundaries — the off-by-one NTILE
    bug observed at sf0.01. This pins the plan shape."""
    df = ordered_prefix(
        scrambled,
        [F.col("k")],
        cache_tag="test_plan_gate",
        sums={"cs": "v"},
        rn="rn",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both branches hit the cache ...
    assert plan.count("InMemoryTableScan") >= 2, plan
    # ... and the only range exchange lives inside the cached subtree
    # (TableCacheQueryStage / InMemoryRelation), never duplicated in
    # the outer plan
    outer = plan.split("InMemoryTableScan")[0]
    assert "Exchange rangepartitioning" not in outer, outer


def test_stale_handle_keeps_persist_one_generation(spark, scrambled):
    """A still-live DataFrame from an earlier construction must keep
    its materialization when the same tag is rebuilt: an identical
    rebuild reuses the same persisted relation (semantic-hash cache
    hit), and a changed plan defers the unpersist one generation."""
    from free_etl_spark import cache

    base = scrambled.repartitionByRange(4, "k").withColumn(
        "__pid", F.spark_partition_id()
    )
    first = cache.by_plan(base, "test_stale_handle")
    # identical rebuild: same relation back, still persisted
    again = cache.by_plan(
        scrambled.repartitionByRange(4, "k").withColumn(
            "__pid", F.spark_partition_id()
        ),
        "test_stale_handle",
    )
    assert again._jdf is first._jdf
    assert first.storageLevel.useMemory
    # changed plan (different partition count): first is retired but
    # NOT yet unpersisted — a live handle may still execute it
    second = cache.by_plan(
        scrambled.repartitionByRange(8, "k").withColumn(
            "__pid", F.spark_partition_id()
        ),
        "test_stale_handle",
    )
    assert second._jdf is not first._jdf
    assert first.storageLevel.useMemory
    # a second distinct rebuild finally evicts the oldest generation
    cache.by_plan(
        scrambled.repartitionByRange(16, "k").withColumn(
            "__pid", F.spark_partition_id()
        ),
        "test_stale_handle",
    )
    assert not first.storageLevel.useMemory
    assert second.storageLevel.useMemory


def test_ordered_prefix_exclusive_max_matches_global_window(spark, scrambled):
    """emaxes must equal MAX() OVER (ORDER BY ... ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING): NULL on the global first
    row, running max of all strict predecessors elsewhere — across
    range-partition boundaries (the offset-maxima path)."""
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.k: r.m
        for r in scrambled.select(
            "k", F.max("v").over(w).alias("m")
        ).collect()
    }
    got = {
        r.k: r.m
        for r in ordered_prefix(
            scrambled, [F.col("k")], cache_tag="t_emax", emaxes={"m": "v"}
        )
        .select("k", "m")
        .collect()
    }
    assert got == want
    assert got[min(got)] is None  # globally-first row has no predecessor


def test_none_hash_fallback_retires_previous_entry(spark, scrambled, monkeypatch):
    """When semanticHash is unavailable (non-JVM session / API drift)
    cache HITS are disabled — but repeated constructions must still
    retire the previous None-keyed entry instead of silently
    overwriting it, or persisted blocks leak unboundedly on that
    fallback path (the documented bound is ≤1 live + ≤1 retired per
    (session, tag))."""
    from free_etl_spark import cache

    monkeypatch.setattr(cache, "_sem_hash", lambda df: None)
    frames = []
    for n in (4, 8, 16):
        frames.append(
            cache.by_plan(
                scrambled.repartitionByRange(n, "k").withColumn(
                    "__pid", F.spark_partition_id()
                ),
                "test_none_hash",
            )
        )
    live, retired = cache._STORE[spark]["test_none_hash"]
    assert live is not None and live.value is frames[2]._jdf
    assert retired is not None and retired.value is frames[1]._jdf
    # oldest generation actually unpersisted, newest still live
    assert not frames[0].storageLevel.useMemory
    assert frames[2].storageLevel.useMemory


def test_clear_prefix_cache_invalidates_and_unpersists(spark, scrambled):
    """The session hook cache.clear: afterwards the tag's entries are
    gone, their blocks unpersisted, and a rebuild persists a FRESH
    relation (no stale semantic-hash hit)."""
    from free_etl_spark import cache

    def build():
        return cache.by_plan(
            scrambled.repartitionByRange(4, "k").withColumn(
                "__pid", F.spark_partition_id()
            ),
            "test_clear",
        )

    first = build()
    assert first.storageLevel.useMemory
    cache.clear(spark)
    assert "test_clear" not in cache._STORE[spark]
    assert not first.storageLevel.useMemory
    second = build()
    assert second._jdf is not first._jdf
    assert second.storageLevel.useMemory
