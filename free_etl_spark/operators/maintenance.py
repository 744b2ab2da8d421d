"""Table maintenance operators: small-file compaction and multi-column
z-order clustering — the two layout jobs a 100 TB parquet lake runs on
a schedule.

**Compaction**: streaming/CDC writers leave many small files; scans
then pay per-file open/footer costs and lose row-group locality.
``compact_parquet`` rewrites a directory (or its partitions) into
size-targeted files. Safety: the rewrite goes to a staging sibling and
``storage.promote`` swaps it in only after success.

**Z-order**: a single-column sort gives perfect skipping on one
predicate column and none on others. Interleaving the bits of several
rank-normalized columns into one z-value and range-partitioning on it
gives every participating column locality, so per-file min/max ranges
are narrow on ALL of them — multi-column data skipping without an
index. The z-value is computed with JVM-side bit arithmetic (no UDF).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.types import NumericType

from free_etl_spark import storage


def _parquet_files(d: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    ]


def _leaf_dirs(table_dir: str) -> list[str]:
    """Directories that directly contain parquet files — for a
    hive-partitioned table these are the partition leaves; for a flat
    table it is the table dir itself."""
    return sorted(
        {
            dp
            for dp, _, fs in os.walk(table_dir)
            if any(f.endswith(".parquet") for f in fs)
        }
    )


def _compact_one_dir(spark: SparkSession, d: str, target_file_mb: int) -> None:
    """Compact one flat directory of parquet files in place: rewrite
    into its staging dir, then ``storage.promote``."""
    stage = d + storage.BUILDING
    files = _parquet_files(d)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // (target_file_mb << 20)))
    spark.read.parquet(d).repartition(n_out).write.mode("overwrite").parquet(stage)
    storage.promote(d, stage)


def compact_parquet(
    spark: SparkSession,
    table_dir: str,
    target_file_mb: int = 512,
) -> tuple[int, int]:
    """Rewrite the table's files into ~``target_file_mb``-sized ones.

    Hive-partitioned layouts are preserved: each partition LEAF
    directory is compacted independently and in place, so
    ``col=value`` directories — and partition pruning — survive (a
    whole-table read-rewrite would inline the partition columns and
    flatten the layout). Flat tables compact as a single leaf.

    Returns (files_before, files_after). Per-leaf output file count is
    derived from actual on-disk bytes / target size (ceil, min 1).
    Each leaf swap is crash-safe: ``storage.heal_tree`` resolves a
    crashed prior run's swaps table-wide FIRST, by ``storage``'s heal
    rule, so a leaf whose data dir vanished mid-swap is restored and no
    swap leftover is ever enumerated as a data leaf (``region=eu`` +
    a suffix would parse as a corrupted partition value)."""
    table_dir = table_dir.rstrip("/")
    storage.heal_tree(table_dir)
    n_before = len(_parquet_files(table_dir))
    for leaf in _leaf_dirs(table_dir):
        _compact_one_dir(spark, leaf, target_file_mb)
    return n_before, len(_parquet_files(table_dir))


_Z_BITS_MAX = 16    # rank-window path: 2^16 buckets per column
_Z_BITS_APPROX = 8  # approx-quantile path: 256 buckets per column


def zorder_values(
    df: DataFrame, cols: list[str], approx: bool | None = None
) -> DataFrame:
    """Add a ``__z`` column interleaving the bits of each column's
    rank bucket. Rank/quantile normalization makes the curve robust to
    skewed columns; the bit interleave is a fixed-depth loop of
    shifts/ors — whole-stage-codegen friendly, no Python.

    Two bucketization paths (``approx=None``, the default, AUTO-picks:
    approx when every column is numeric, rank otherwise — so
    date/string cluster keys keep working):

    - ``approx=True`` (the 100 TB path): bucket boundaries for ALL
      columns from one multi-column ``approxQuantile`` sketch pass
      (driver receives ≤255 boundary values per column), then each
      row's bucket is a branch-free comparison count against the
      broadcast-literal boundary array. 256 buckets per column is
      ample for FILE-level clustering. Numeric columns only.
    - ``approx=False``: exact ``percent_rank`` over a GLOBAL window —
      higher resolution (up to 2^16) and works for any orderable
      type, but the unpartitioned window funnels all rows through one
      reducer, so it is strictly a small-data/any-type fallback.

    Per-column resolution additionally adapts to the column count so
    the z-value always fits a NON-NEGATIVE long (bits/col ≤ 62 // n —
    a set sign bit would invert the range ordering rows cluster by).
    """
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_values needs at least one column")
    all_numeric = all(
        isinstance(df.schema[c].dataType, NumericType) for c in cols
    )
    if approx is None:
        approx = all_numeric
    elif approx and not all_numeric:
        bad_cols = [
            c for c in cols if not isinstance(df.schema[c].dataType, NumericType)
        ]
        raise ValueError(
            f"zorder approx path needs numeric columns; {bad_cols} are not. "
            "Cast them or pass approx=False (rank path, any orderable type)."
        )

    out = df
    if approx:
        bits = min(_Z_BITS_APPROX, 62 // n)
        n_buckets = 1 << bits
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # ONE sketch pass computes every column's boundaries — per-column
        # calls would re-scan df's whole lineage n times. relErr 0.01:
        # bucket edges for FILE-level clustering don't need 0.1%
        # precision, and the sketch buffer cost scales with 1/relErr
        # (0.001 measured 2.4 s vs ~1 s at sf0.1).
        bounds_per_col = df.approxQuantile(list(cols), probs, 0.01)

        def _dlit(v: float) -> str:
            """SQL double literal that survives non-finite values:
            repr(float('inf')) is the bare token 'inf', which Spark SQL
            cannot parse — render inf/nan via CAST (ADVICE r11)."""
            v = float(v)
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v == float("inf"):
                return "CAST('Infinity' AS DOUBLE)"
            if v == float("-inf"):
                return "CAST('-Infinity' AS DOUBLE)"
            return repr(v)

        def bucket_sql(c: str, bounds: list[float], lo: int, hi: int) -> str:
            """Bucket index via a BINARY-SEARCH CASE tree emitted as ONE
            SQL text (depth log2(buckets) = 8 comparisons/row, inside
            whole-stage codegen). The linear HOF fold this replaces
            (aggregate over a 255-literal array) is interpreted,
            256 comparisons/row — measured 11.1 s vs 1.6 s for the
            same 600 k rows (r11); SQL text instead of nested Column
            objects also avoids ~2.5 s of py4j expression-building."""
            if lo == hi:
                return str(lo)
            mid = (lo + hi) // 2
            return (
                f"CASE WHEN CAST(`{c}` AS DOUBLE) > {_dlit(bounds[mid])} "
                f"THEN {bucket_sql(c, bounds, mid + 1, hi)} "
                f"ELSE {bucket_sql(c, bounds, lo, mid)} END"
            )

        for i, (c, bounds) in enumerate(zip(cols, bounds_per_col)):
            # approxQuantile returns EMPTY bounds for an all-NULL column
            # — bounds[mid] would IndexError; constant bucket 0 matches
            # the old F.lit-fold behavior (ADVICE r11)
            out = out.withColumn(
                f"__r{i}",
                F.expr(bucket_sql(c, bounds, 0, n_buckets - 1)).cast("long")
                if bounds
                else F.lit(0).cast("long"),
            )
    else:
        bits = min(_Z_BITS_MAX, 62 // n)
        for i, c in enumerate(cols):
            w = Window.orderBy(F.col(c))
            out = out.withColumn(
                f"__r{i}",
                F.least(
                    F.floor(F.percent_rank().over(w) * (1 << bits)),
                    F.lit((1 << bits) - 1),
                ).cast("long"),
            )

    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i in range(n):
            z = z + (
                F.shiftright(F.col(f"__r{i}"), bit).bitwiseAND(1)
                * F.lit(1 << (bit * n + i)).cast("long")
            )
    return out.withColumn("__z", z).drop(*[f"__r{i}" for i in range(n)])


def zorder_write(
    df: DataFrame,
    out_dir: str,
    cols: list[str],
    n_files: int = 8,
    approx: bool | None = None,
) -> None:
    """Write ``df`` z-ordered on ``cols``: range-partition on the
    interleaved z-value and sort within partitions, so every output
    file covers a compact hyper-rectangle — per-file min/max stats are
    narrow on EVERY participating column and scans with predicates on
    any of them prune files (verified in tests/test_maintenance.py).
    ``approx`` passes through to ``zorder_values`` (None = auto).

    If the input scan is NARROWER than the session's parallelism (a
    few large files — common right before a re-layout, which is when
    you call this), widen it first: the z-value projection and the
    range partitioner's sampling pass then run at full width instead
    of being strangled by the input split count. On a 100 TB table
    the scan is already thousands of splits and this is a no-op."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < width:
        df = df.repartition(width)
    (
        zorder_values(df, cols, approx=approx)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
