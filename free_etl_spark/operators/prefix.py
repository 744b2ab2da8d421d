"""Distributed global-order prefix aggregation.

Global cumulative windows (``Window.orderBy`` with no partitionBy)
funnel the whole relation through ONE task: correct at test scale,
a guaranteed stall at 100 TB where the windowed relation grows with
the corpus (customers, vocabulary, the orders fact itself). This
module provides the standard two-pass range-partitioned prefix sum
so those queries keep every executor busy:

1. ``repartitionByRange`` on the total order — Spark's range
   partitioner guarantees partition ``i`` holds rows strictly before
   partition ``i+1`` in the requested sort order, so a per-partition
   running sum only lacks the totals of earlier partitions.
2. A pid-local window (``Window.partitionBy(spark_partition_id())``)
   computes local row numbers / running sums fully in parallel.
3. Per-partition totals (one row per shuffle partition — a constant-
   size relation independent of data volume) are prefixed by a tiny
   triangular join (``t2.pid < t1.pid``) instead of yet another
   global window, so the WHOLE plan contains no single-partition
   window exchange — a shape tests/test_plans.py asserts.
4. The offsets broadcast-join back on pid; global value = local +
   offset.

The helpers are value-deterministic regardless of where the range
partitioner places its boundaries: a prefix at a row is the sum over
all rows ordered at-or-before it, which no boundary placement can
change (orders need a TOTAL order — callers must include a unique
tie-breaker column, same rule their DuckDB oracles already follow).

``global_ntile`` reproduces SQL NTILE(k) exactly from the global row
number and the total count: with n = q*k + r, buckets 1..r get q+1
rows and buckets r+1..k get q rows — the same positional assignment
NTILE makes, so oracle NTILE output is matched value-for-value
without any global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from free_etl_spark import cache

_INTERNAL = ("__pid", "__lrn", "__o_rn")


def ordered_prefix(
    df: DataFrame,
    order: list[Column | str],
    *,
    cache_tag: str,
    sums: dict[str, Column | str] | None = None,
    rn: str | None = None,
    grand: dict[str, Column | str] | None = None,
    emaxes: dict[str, Column | str] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Attach global-order prefix columns to ``df`` without a
    single-partition window.

    order      total order (include a unique tie-breaker!); Columns
               may carry ``.desc()``.
    cache_tag  stable identifier for the persisted partitioned
               relation (a ``cache.by_plan`` slot) — one live cache
               entry per tag per session.
    sums       out_alias -> column: inclusive running sum in that
               order (``SUM(col) OVER (ORDER BY ... ROWS UNBOUNDED
               PRECEDING)``).
    rn         alias for the global 1-based row number (long).
    grand      out_alias -> column: whole-relation sum attached as a
               constant column (computed from the per-partition
               totals — no second scan of ``df``).
    emaxes     out_alias -> column: EXCLUSIVE running max in that
               order (``MAX(col) OVER (ORDER BY ... ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING)``) — NULL on the
               globally first row; the skyline/frontier primitive.
    partitions range-partition count; defaults to the session's
               shuffle partitions.
    """
    sums = dict(sums or {})
    grand = dict(grand or {})
    emaxes = dict(emaxes or {})
    if partitions is None:
        try:
            partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except Exception:
            partitions = 32
    # The persist is correctness, not tuning: the local windows and the
    # per-partition totals both read this relation, and without a shared
    # materialization Catalyst prunes each branch differently, so each
    # range exchange samples its own boundaries and the offsets describe
    # another partitioning than the local sums. The CacheManager swaps
    # both subtrees for one InMemoryRelation, so boundaries are sampled
    # once per execution.
    part = cache.by_plan(
        df.repartitionByRange(partitions, *order).withColumn(
            "__pid", F.spark_partition_id()
        ),
        cache_tag,
    )
    w_loc = Window.partitionBy("__pid").orderBy(*order)
    w_cum = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_excl = w_loc.rowsBetween(Window.unboundedPreceding, -1)
    local = part.withColumn("__lrn", F.row_number().over(w_loc))
    for alias, col in sums.items():
        local = local.withColumn(f"__l_{alias}", F.sum(col).over(w_cum))
    for alias, col in emaxes.items():
        local = local.withColumn(f"__lm_{alias}", F.max(col).over(w_excl))
    # Per-partition totals from the PRE-window relation: Catalyst
    # reuses the range exchange for both branches; the totals
    # relation has at most `partitions` rows forever.
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    aggs += [F.sum(col).alias(f"__s_{a}") for a, col in sums.items()]
    aggs += [F.sum(col).alias(f"__g_{a}") for a, col in grand.items()]
    aggs += [F.max(col).alias(f"__m_{a}") for a, col in emaxes.items()]
    totals = part.groupBy("__pid").agg(*aggs)
    # Exclusive prefix of the totals via a triangular join over the
    # constant-size totals relation — NOT a global window, so no
    # Exchange SinglePartition enters the plan.
    t1, t2 = totals.alias("t1"), totals.alias("t2")
    off_aggs = [F.coalesce(F.sum("t2.__cnt"), F.lit(0)).alias("__o_rn")]
    off_aggs += [
        F.coalesce(F.sum(f"t2.__s_{a}"), F.lit(0)).alias(f"__o_{a}")
        for a in sums
    ]
    off_aggs += [F.max(f"t2.__m_{a}").alias(f"__om_{a}") for a in emaxes]
    offsets = (
        t1.join(t2, F.col("t2.__pid") < F.col("t1.__pid"), "left")
        .groupBy(F.col("t1.__pid").alias("__pid"))
        .agg(*off_aggs)
    )
    out = local.join(F.broadcast(offsets), "__pid")
    if rn is not None:
        out = out.withColumn(rn, (F.col("__lrn") + F.col("__o_rn")).cast("long"))
    drop = list(_INTERNAL)
    for alias in sums:
        out = out.withColumn(alias, F.col(f"__l_{alias}") + F.col(f"__o_{alias}"))
        drop += [f"__l_{alias}", f"__o_{alias}"]
    for alias in emaxes:
        # greatest() skips NULLs: first row of a pid has NULL local
        # exclusive max, pid 0 has NULL offset — the combination is
        # NULL only on the globally first row, matching the SQL frame.
        out = out.withColumn(
            alias, F.greatest(F.col(f"__lm_{alias}"), F.col(f"__om_{alias}"))
        )
        drop += [f"__lm_{alias}", f"__om_{alias}"]
    if grand:
        g = totals.agg(*[F.sum(f"__g_{a}").alias(a) for a in grand])
        out = out.join(F.broadcast(g))
    return out.drop(*drop)


def _ceil_div(a: Column, b: Column) -> Column:
    """Exact ceil(a/b) for positive integer columns (values < 2^53 so
    the intermediate double division is exact enough: a correctly
    rounded quotient of exactly representable ints never crosses an
    integer boundary at these magnitudes)."""
    return F.ceil(a / b)


def global_ntile_boundaries(
    df: DataFrame,
    keys: list[tuple[str, bool]],
    k: int,
    alias: str,
    *,
    cache_tag: str,
    boundary_src: DataFrame | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """``NTILE(k) OVER (ORDER BY keys)`` scored MAP-SIDE against the
    k-1 bucket-boundary rows — the lazy, shuffle-free-scoring twin of
    ``global_ntile`` (VERDICT r14 task 3). ``keys`` is
    [(column, descending), ...] and must be a total order (include a
    unique tie-breaker, same rule as ordered_prefix).

    NTILE(k) over n rows gives buckets 1..r (r = n % k) q+1 rows and
    the rest q (q = n // k), so bucket j ends at global rank
    b_j = j*q + min(j, r). One ordered_prefix pass over
    ``boundary_src`` (default: the key columns of ``df``; pass the
    SHARED persisted relation when scoring several metrics so every
    consumer sees identical values) extracts the rows AT those ranks,
    folded into a SINGLE one-row array relation — no driver action,
    no collect — which broadcast-cross-joins onto ``df``; the bucket
    is 1 + Σ_j [row orders after boundary_j], exactly NTILE's
    positional rule (guide §2.3: decide against a lightweight proxy —
    the boundary tuples — so the scored relation itself never
    re-shuffles; where global_ntile chains a full range pass + offset
    join per metric ON the scored lineage, this leaves it untouched).

    Boundary ranks can coincide (n < k): each boundary row carries
    its multiplicity w = #{j: b_j == rank}, so the sum still counts
    once per j. Value-exact: a row is strictly-after boundary j iff
    its key tuple orders after the boundary row's, which no
    range-partition boundary placement can change."""
    names = [name for name, _ in keys]
    order = [
        (F.col(name).desc() if desc else F.col(name).asc())
        for name, desc in keys
    ]
    src = boundary_src if boundary_src is not None else df.select(*names)
    pre = ordered_prefix(
        src,
        order,
        cache_tag=cache_tag,
        rn="__grn",
        grand={"__n": F.lit(1)},
        partitions=partitions,
    )
    n_col, q_col = F.col("__n"), F.floor(F.col("__n") / k)
    r_col = n_col % k
    bexprs = [
        F.lit(j) * q_col + F.least(F.lit(j), r_col) for j in range(1, k)
    ]
    cond = F.lit(False)
    for b in bexprs:
        cond = cond | (F.col("__grn") == b)
    w = sum(
        ((F.col("__grn") == b).cast("int") for b in bexprs), F.lit(0)
    )
    bnds_col = f"__bnds_{alias}"
    bnd = pre.filter(cond).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("__grn").alias("rk"),
                    w.alias("w"),
                    *[F.col(n) for n in names],
                )
            )
        ).alias(bnds_col)
    )
    # persist the ONE-ROW boundary relation (same session-scoped,
    # semantic-hash-keyed cache as the range-partitioned relation):
    # warm re-executions then skip the whole prefix pass and read one
    # cached row — where global_ntile's warm path still pays a window
    # pass — and the cache holds k-1 tuples instead of a full copy of
    # the scored relation per metric.
    bnd = cache.by_plan(bnd, f"{cache_tag}__bnd")

    def _after(b, i: int = 0) -> Column:
        name, desc = keys[i]
        col, bval = F.col(name), b[name]
        gt = (col < bval) if desc else (col > bval)
        if i == len(keys) - 1:
            return gt
        return gt | ((col == bval) & _after(b, i + 1))

    bucket = F.lit(1) + F.aggregate(
        F.col(bnds_col),
        F.lit(0),
        lambda acc, b: acc + F.when(_after(b), b["w"]).otherwise(0),
    )
    return (
        df.join(F.broadcast(bnd))
        .withColumn(alias, bucket.cast("int"))
        .drop(bnds_col)
    )


def global_ntile(
    df: DataFrame,
    order: list[Column | str],
    k: int,
    alias: str,
    *,
    cache_tag: str,
    partitions: int | None = None,
) -> DataFrame:
    """``NTILE(k) OVER (ORDER BY order)`` with identical output to the
    SQL window function, computed distributed (range partition +
    prefix row number + closed-form bucket assignment)."""
    pre = ordered_prefix(
        df,
        order,
        cache_tag=cache_tag,
        rn="__grn",
        grand={"__n": F.lit(1)},
        partitions=partitions,
    )
    n, rn = F.col("__n"), F.col("__grn")
    q = F.floor(n / k)
    r = n % k
    big = r * (q + F.lit(1))  # rows covered by the (q+1)-sized buckets
    bucket = F.when(rn <= big, _ceil_div(rn, q + F.lit(1))).otherwise(
        r + _ceil_div(rn - big, q)
    )
    return pre.withColumn(alias, bucket.cast("int")).drop("__grn", "__n")
