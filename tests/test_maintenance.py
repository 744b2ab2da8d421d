"""Table-maintenance operator tests: compaction halves file counts
without changing data; z-order writes give multi-column file-skipping
locality that a single-column sort cannot."""

from __future__ import annotations

import glob

import pyspark.sql.functions as F

from free_etl_spark.operators.maintenance import compact_parquet, zorder_write
from free_etl_spark.tables import load_table
from tests.conftest import SF_DIR


def test_compact_parquet_preserves_data(spark, tmp_path):
    out = str(tmp_path / "frag")
    orders = load_table(spark, SF_DIR, "orders")
    orders.repartition(37).write.parquet(out)  # fragmented layout
    before_rows = orders.count()
    before_sum = orders.agg(F.sum("o_totalprice")).first()[0]

    n_before, n_after = compact_parquet(spark, out, target_file_mb=512)
    assert n_before == 37
    assert n_after < n_before

    compacted = spark.read.parquet(out)
    assert compacted.count() == before_rows
    assert abs(compacted.agg(F.sum("o_totalprice")).first()[0] - before_sum) < 1e-6


def _per_file_spans(spark, path: str, col: str) -> list[float]:
    """Per-file (max-min) span of ``col``, normalized by global span."""
    files = sorted(glob.glob(path + "/part-*.parquet"))
    full = spark.read.parquet(path)
    lo, hi = full.agg(F.min(col), F.max(col)).first()
    spans = []
    for f in files:
        flo, fhi = spark.read.parquet(f).agg(F.min(col), F.max(col)).first()
        spans.append((fhi - flo) / (hi - lo))
    return spans


def test_zorder_gives_multi_column_locality(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    single = str(tmp_path / "single_sort")
    (
        orders.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(single)
    )
    zord = str(tmp_path / "zorder")
    zorder_write(orders, zord, ["o_orderkey", "o_custkey"], n_files=8)

    # single-col sort: perfect on orderkey, useless on custkey
    # (every file spans ~the full custkey range)
    single_cust = _per_file_spans(spark, single, "o_custkey")
    assert min(single_cust) > 0.8

    # z-order: BOTH columns' per-file spans shrink well below full
    z_key = _per_file_spans(spark, zord, "o_orderkey")
    z_cust = _per_file_spans(spark, zord, "o_custkey")
    assert sum(z_key) / len(z_key) < 0.6
    assert sum(z_cust) / len(z_cust) < 0.6


def test_zorder_four_columns_fits_in_long(spark, tmp_path):
    """Per-column resolution adapts (62 // n bits) so 4+ columns build
    a valid non-negative long z-value instead of overflowing."""
    from free_etl_spark.operators.maintenance import zorder_values

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    # timestamp column -> approx=None auto-falls back to the rank path
    z = zorder_values(
        orders, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    )
    lo, hi = z.agg(F.min("__z"), F.max("__z")).first()
    assert lo >= 0 and hi > lo


def test_compact_preserves_hive_partitions(spark, tmp_path):
    """Partitioned tables compact per leaf: col=value directories (and
    partition pruning) survive, and data is unchanged."""
    out = str(tmp_path / "part_frag")
    orders = load_table(spark, SF_DIR, "orders")
    orders.repartition(7).write.partitionBy("o_orderpriority").parquet(out)

    import os

    parts_before = sorted(
        d for d in os.listdir(out) if d.startswith("o_orderpriority=")
    )
    n_before, n_after = compact_parquet(spark, out, target_file_mb=512)
    assert n_after < n_before
    parts_after = sorted(
        d for d in os.listdir(out) if d.startswith("o_orderpriority=")
    )
    assert parts_after == parts_before  # layout intact
    assert spark.read.parquet(out).count() == orders.count()


def test_compact_heals_crash_between_swap_renames(spark, tmp_path):
    """Crash simulated at the worst point: rename(data→retired) done,
    rename(staged→data) not — the partition's data dir is GONE and only
    ``leaf + storage.RETIRED`` (complete original) + ``leaf +
    storage.BUILDING`` (staged rewrite) remain. Re-running
    compact_parquet must restore the partition from the retired copy
    and must NOT enumerate the swap dirs as data leaves (which would
    duplicate rows under a corrupted partition value like
    region=eu__retired)."""
    import os
    import shutil

    from free_etl_spark.storage import BUILDING, RETIRED

    out = str(tmp_path / "crash")
    df = spark.createDataFrame(
        [(1, "a", "eu"), (2, "b", "eu"), (3, "c", "us")],
        "id long, name string, region string",
    )
    df.repartition(3).write.partitionBy("region").parquet(out)
    want = {(r["id"], r["region"]) for r in spark.read.parquet(out).collect()}

    leaf = os.path.join(out, "region=eu")
    # the in-flight rewrite had landed in its staging dir...
    spark.read.parquet(leaf).coalesce(1).write.parquet(leaf + BUILDING)
    # ...and the first swap rename had completed when the process died
    os.rename(leaf, leaf + RETIRED)
    assert not os.path.isdir(leaf)

    n_before, n_after = compact_parquet(spark, out, target_file_mb=512)
    assert not os.path.isdir(leaf + RETIRED)
    assert not os.path.isdir(leaf + BUILDING)
    got = {(r["id"], r["region"]) for r in spark.read.parquet(out).collect()}
    assert got == want  # nothing lost, nothing duplicated
    regions = {
        d for d in os.listdir(out) if d.startswith("region=")
    }
    assert regions == {"region=eu", "region=us"}  # no corrupted values

    # crash AFTER the swap completed (retired + staged leftovers, data
    # dir present): leftovers are stale duplicates and must be deleted
    shutil.copytree(leaf, leaf + RETIRED)
    spark.read.parquet(leaf).coalesce(1).write.parquet(leaf + BUILDING)
    compact_parquet(spark, out, target_file_mb=512)
    assert not os.path.isdir(leaf + RETIRED)
    assert not os.path.isdir(leaf + BUILDING)
    got = {(r["id"], r["region"]) for r in spark.read.parquet(out).collect()}
    assert got == want


def test_zorder_box_predicate_skips_row_groups_by_footer_stats(spark, tmp_path):
    """HARD skipping evidence, straight from the parquet footers: with
    a z-order layout, a 2-D box predicate (the
    source_zorder_clustered_scan shape) excludes most row groups by
    min/max stats ALONE — the exact mechanism a 100 TB scan prunes
    with — while a single-column sort's stats can exclude (almost)
    nothing for a predicate on the OTHER column."""
    import pyarrow.parquet as pq

    li = load_table(spark, SF_DIR, "lineitem").select("l_partkey", "l_suppkey")

    single = str(tmp_path / "single")
    (
        li.repartitionByRange(8, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(single)
    )
    zord = str(tmp_path / "zorder")
    zorder_write(li, zord, ["l_partkey", "l_suppkey"], n_files=8)

    # predicate on the NON-sort column only: the single-column layout
    # has nothing to prune with, the z-layout still does
    s_hi = li.agg(F.max("l_suppkey")).first()[0]
    box = {"l_suppkey": s_hi // 4}

    def surviving_row_groups(path: str) -> tuple[int, int]:
        total = survive = 0
        for f in glob.glob(path + "/part-*.parquet"):
            meta = pq.ParquetFile(f).metadata
            names = {
                meta.row_group(0).column(i).path_in_schema: i
                for i in range(meta.num_columns)
            }
            for rg in range(meta.num_row_groups):
                total += 1
                ok = all(
                    meta.row_group(rg).column(names[c]).statistics.min <= v
                    for c, v in box.items()
                )
                survive += int(ok)
        return survive, total

    z_live, z_total = surviving_row_groups(zord)
    s_live, s_total = surviving_row_groups(single)
    assert z_total >= 8 and s_total >= 8
    # z-order: the suppkey quartile touches well under full scan
    assert z_live / z_total <= 0.5, (z_live, z_total)
    # single-column partkey sort: every row group spans ~the full
    # suppkey range, so stats exclude (almost) nothing
    assert s_live / s_total >= 0.9, (s_live, s_total)


def test_zorder_approx_handles_all_null_and_nonfinite(spark, tmp_path):
    """ADVICE r11 guards: an all-NULL numeric column makes
    approxQuantile return EMPTY bounds (bucket 0, no IndexError), and
    inf/nan values land in the sketch boundaries, which must render as
    parseable SQL literals (CAST('Infinity' AS DOUBLE)), not the bare
    repr token 'inf'."""
    from free_etl_spark.operators.maintenance import zorder_values

    df = spark.range(0, 1000).select(
        F.col("id").cast("double").alias("x"),
        F.lit(None).cast("double").alias("all_null"),
        F.when(F.col("id") % 3 == 0, float("inf"))
        .when(F.col("id") % 3 == 1, float("nan"))
        .otherwise(F.col("id").cast("double"))
        .alias("wild"),
    )
    z = zorder_values(df, ["x", "all_null", "wild"], approx=True)
    lo, hi = z.agg(F.min("__z"), F.max("__z")).first()
    assert lo is not None and lo >= 0 and hi > lo
