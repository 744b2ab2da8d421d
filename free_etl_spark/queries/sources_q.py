"""Source-format round-trip queries (SURVEY.md §2B "scan
parquet/csv/json" row): prove the non-parquet scan paths by VALUE
under the driver gate, not just in pytest.

Each query re-materializes a deterministic slice of a test table in
the target format under /tmp (overwrite — idempotent per sf), reads
it back through the format's source with an explicit schema, and
aggregates; the oracle runs the same aggregate on the original
parquet. A format bug anywhere in write→read (quoting, null encoding,
type coercion, compression) breaks the value hash.

Scale note: the scan itself is the point here — both CSV and JSON
sources are splittable (uncompressed), so the read parallelizes by
file split exactly like production landing data; writes use the
engine's partitioned writers, no driver materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from free_etl_spark import storage
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table

_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem
WHERE l_orderkey <= 1000
GROUP BY l_returnflag
"""

_SLICE_SCHEMA = (
    "l_orderkey long, l_returnflag string, l_quantity double, l_extendedprice double"
)


def _slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    )


def _agg(df: DataFrame) -> DataFrame:
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    # path includes the Spark application id: two concurrent sessions
    # (driver verifier + pytest) must not overwrite each other's slice
    # mid-read; within one session the path is stable → idempotent
    path = os.path.join(
        "/tmp",
        f"fes_source_{fmt}_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    writer = _slice(spark, sf_dir).write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    if fmt == "xml":
        writer = writer.option("rowTag", "row")
    writer.save(path)
    reader = spark.read.format(fmt).schema(_SLICE_SCHEMA)
    if fmt == "csv":
        reader = reader.option("header", True)
    if fmt == "xml":
        reader = reader.option("rowTag", "row")
    return _agg(reader.load(path))


@query("source_csv_roundtrip", oracle=_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → partitioned CSV → explicit-schema CSV scan →
    aggregate; must hash-equal the parquet-side oracle."""
    return _roundtrip(spark, sf_dir, "csv")


@query("source_json_roundtrip", oracle=_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → JSON lines → explicit-schema JSON scan →
    aggregate; must hash-equal the parquet-side oracle."""
    return _roundtrip(spark, sf_dir, "json")


@query("source_orc_roundtrip", oracle=_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → ORC → ORC scan → aggregate; must hash-equal
    the parquet-side oracle (columnar-to-columnar path)."""
    return _roundtrip(spark, sf_dir, "orc")


@query("source_xml_roundtrip", oracle=_ORACLE)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem slice → XML (native source, built-in since Spark 4.0)
    → explicit-schema XML scan → aggregate; must hash-equal the
    parquet-side oracle. Scale note: XML files split by rowTag exactly
    like JSON lines split by record, so the scan parallelizes across
    executors; the format exists for enterprise landing feeds, not as
    a storage recommendation."""
    return _roundtrip(spark, sf_dir, "xml")


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join under the value gate: both sides are
    written as bucketed tables on the join key (8 buckets, external
    /tmp paths — per-application, so concurrent sessions don't
    collide) and joined through the catalog. With matching bucket
    counts a sort-merge join reads buckets directly, with ZERO runtime
    Exchange on either side — the property tests/test_partitioning.py
    pins with broadcast disabled; at this tiny SF the planner may
    still prefer a broadcast of the dimension side, which is equally
    exchange-free. At 100 TB bucketing is what amortizes a hot fact
    table's shuffle across every query that joins it. Result must
    equal the plain join oracle."""
    app = spark.sparkContext.applicationId
    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        name = f"fes_bkt_{tbl}_{sf}"
        path = f"/tmp/{name}_{app}"
        (
            load_table(spark, sf_dir, tbl)
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    orders = spark.table(f"fes_bkt_orders_{sf}")
    cust = spark.table(f"fes_bkt_customer_{sf}")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )


@query(
    "source_schema_evolution",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           CAST(SUM(CASE WHEN o_orderkey > 500 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_priority,
           CAST(COUNT(DISTINCT CASE WHEN o_orderkey > 500
                                    THEN o_orderpriority END) AS BIGINT)
             AS n_priorities
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across parquet batches: batch 1 lands without the
    o_orderpriority column, batch 2 with it; ``mergeSchema`` unions
    the footers (old rows read NULL for the new column) and the
    ``batch=N`` directory layout doubles as partition discovery. This
    is the long-lived-dataset reality at 100 TB — producers add
    columns mid-stream and the reader must reconcile footers without
    rewriting history. The aggregate over the merged read must equal
    the oracle computed on the unsplit table."""
    path = os.path.join(
        "/tmp",
        f"fes_schemaevo_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "batch=1"))
    )
    (
        orders.filter((F.col("o_orderkey") > 500) & (F.col("o_orderkey") <= 1000))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "batch=2"))
    )
    merged = spark.read.option("mergeSchema", True).parquet(path)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@query(
    "source_python_datasource",
    oracle="""
    SELECT (id * id) % 97 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(id) AS BIGINT) AS sum_id
    FROM range(0, 8000) t(id)
    GROUP BY 1
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python Data Source API (Spark 4): a
    DataSource subclass whose reader declares 8 InputPartitions, each
    generating its id range in a Python worker — the pattern for
    wrapping REST APIs, message queues, or proprietary formats as
    first-class parallel scans (partition list on the driver, row
    generation on executors, Arrow-batched back to the JVM). The
    generator is deterministic, so DuckDB replays it from range().
    Gate cost (~4s) is datasource registration + Python-worker
    startup for the 8 partition generators — fixed overhead, not
    data-dependent."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _IdRange(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class _SeqReader(DataSourceReader):
        def partitions(self):
            return [_IdRange(i * 1000, (i + 1) * 1000) for i in range(8)]

        def read(self, partition):
            # yield Arrow RecordBatches, not per-row tuples: the API
            # accepts either, and the batch path skips per-row pickling
            # (same Arrow lane the pandas UDFs use)
            import numpy as np
            import pyarrow as pa

            ids = np.arange(partition.start, partition.end, dtype="int64")
            yield pa.RecordBatch.from_pydict(
                {"id": ids, "bucket": (ids * ids) % 97}
            )

    class _SeqSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "fes_seq"

        def schema(self) -> str:
            return "id bigint, bucket bigint"

        def reader(self, schema):
            return _SeqReader()

    spark.dataSource.register(_SeqSource)
    df = spark.read.format("fes_seq").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").cast("long").alias("sum_id"),
    )


@query(
    "source_time_travel",
    oracle="""
    WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders
                WHERE o_orderkey % 3 = 0),
    v2 AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 3 IN (0, 1)),
    v3 AS (SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_orderkey % 3 = 2)
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS price_sum FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2) FROM v2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2) FROM v3
    """,
)
def source_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table with AS-OF reads on plain parquet
    (operators/timetravel.py — the Delta/Iceberg time-travel shape:
    immutable data files + a JSON commit log whose zero-padded entry
    create is the atomic publish). The query builds a 3-version
    history — v1 overwrite (keys %3=0), v2 append (%3=1), v3
    overwrite (%3=2) — then reads EVERY version by log replay and
    reports per-version row counts + money checksums: v2 must see
    v1's files plus its own, v3 must see neither. AS-OF reads plan as
    ordinary multi-path parquet scans, so pushdown/pruning work
    unchanged at any scale; manifests are driver-side KBs."""
    import shutil

    from free_etl_spark.operators.timetravel import (
        commit_version,
        read_version,
    )

    table = os.path.join(
        "/tmp",
        f"fes_timetravel_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(table, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    commit_version(
        spark, table, orders.filter(F.col("o_orderkey") % 3 == 0), "overwrite"
    )
    commit_version(
        spark, table, orders.filter(F.col("o_orderkey") % 3 == 1), "append"
    )
    commit_version(
        spark, table, orders.filter(F.col("o_orderkey") % 3 == 2), "overwrite"
    )
    parts = []
    for v in (1, 2, 3):
        parts.append(
            read_version(spark, table, v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "source_table_changes",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice AS price FROM orders
      WHERE o_orderkey % 4 IN (0, 1, 2)
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 2 THEN ROUND(o_totalprice + 1, 2)
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 4 IN (1, 2, 3)
    ),
    d AS (
      SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
             CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                  WHEN v2.o_orderkey IS NULL THEN 'delete'
                  WHEN v1.price <> v2.price THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(v2.price, v1.price) AS price
      FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(SUM(price), 2) AS price_sum
    FROM d GROUP BY change_type
    """,
)
def source_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two committed versions of the
    versioned parquet table (operators/timetravel.py) — the Delta
    `table_changes(v1, v2)` surface: every key classified as
    insert / delete / update / unchanged by a single full-outer join
    of the two AS-OF reads. v2 rewrites keys %4=2 with price+1 (the
    updates), drops %4=0 (deletes) and adds %4=3 (inserts).

    Shape at 100 TB: both sides are partition-pruned multi-path
    parquet scans resolved from driver-side KB manifests; the diff is
    ONE shuffle on the join key. A real CDF avoids even that by
    storing per-commit add/remove file lists — the log already has
    them — but the join form is what answers 'what changed' between
    arbitrary versions with no extra metadata."""
    import shutil

    from free_etl_spark.operators.timetravel import (
        commit_version,
        read_version,
    )

    table = os.path.join(
        "/tmp",
        f"fes_tablechanges_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(table, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    k4 = F.col("o_orderkey") % 4
    commit_version(spark, table, orders.filter(k4.isin(0, 1, 2)), "overwrite")
    v2_rows = orders.filter(k4.isin(1, 2, 3)).select(
        "o_orderkey",
        F.when(k4 == 2, F.round(F.col("price") + 1, 2))
        .otherwise(F.col("price"))
        .alias("price"),
    )
    commit_version(spark, table, v2_rows, "overwrite")

    v1 = read_version(spark, table, 1).select(
        F.col("o_orderkey").alias("k1"), F.col("price").alias("p1")
    )
    v2 = read_version(spark, table, 2).select(
        F.col("o_orderkey").alias("k2"), F.col("price").alias("p2")
    )
    d = v1.join(v2, v1.k1 == v2.k2, "full_outer").select(
        F.when(F.col("k1").isNull(), F.lit("insert"))
        .when(F.col("k2").isNull(), F.lit("delete"))
        .when(F.col("p1") != F.col("p2"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        F.coalesce("p2", "p1").alias("price"),
    )
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.round(F.sum("price"), 2).alias("price_sum"),
    )


@query(
    "source_write_audit_publish",
    oracle="""
    WITH good1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    ),
    good3 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 1
    ),
    final AS (SELECT * FROM good1 UNION ALL SELECT * FROM good3)
    SELECT CAST(2 AS BIGINT) AS n_versions,
           CAST(1 AS BIGINT) AS n_rejected_batches,
           CAST((SELECT COUNT(*) FROM final) AS BIGINT) AS n_rows,
           ROUND((SELECT SUM(o_totalprice) FROM final), 2) AS price_sum
    """,
)
def source_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (the Iceberg/dbt WAP pattern): each batch
    is audited BEFORE its commit publishes — a batch failing its
    expectation (here: all totalprice strictly positive) is rejected
    and the table is untouched, because the time-travel committer's
    write-then-publish protocol means unpublished data is invisible
    and the orphan sweep reclaims it on the next commit. Three
    batches: good (%3=0, committed), poisoned (%3=2 with negated
    prices on every 5th key — audit fails, NOT committed), good
    (%3=1, committed). Output pins the version count (2 — the bad
    batch left no version), the rejected count, and the published
    rows/checksum (exactly the two good batches).

    Scale: the audit is one conditional-sum aggregate over the staged
    batch (O(batch)); publish is the driver-side KB log write. This
    is the composition the expectation suite + versioned commits
    exist for."""
    import shutil

    from free_etl_spark.operators.timetravel import (
        commit_version,
        latest_version,
        read_version,
    )

    table = os.path.join(
        "/tmp",
        f"fes_wap_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(table, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    k3 = F.col("o_orderkey") % 3
    batches = [
        orders.filter(k3 == 0),
        orders.filter(k3 == 2).select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 5 == 0, -F.col("o_totalprice")
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        ),
        orders.filter(k3 == 1),
    ]
    n_rejected = 0
    for b in batches:
        bad = b.agg(
            F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("v")
        ).first()["v"]
        if bad and bad > 0:  # audit failed — do not publish
            n_rejected += 1
            continue
        commit_version(spark, table, b, "append")
    final = read_version(spark, table)
    return final.agg(
        F.lit(latest_version(table)).cast("long").alias("n_versions"),
        F.lit(n_rejected).cast("long").alias("n_rejected_batches"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


@query("source_fixed_width_parse", oracle=_ORACLE)
def source_fixed_width_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/COBOL-style) landing format: the slice
    is serialized to 33-char records — orderkey lpad-12, returnflag
    1, quantity and extendedprice as zero-padded cent integers
    (lpad-10 each) — written as plain text, then re-parsed by
    substring offsets and cast back. The parse is pure JVM substring
    arithmetic on a splittable text scan (each line one record, so
    executors split the files exactly like CSV); money fields ride
    as exact integer cents both directions, so the roundtrip is
    lossless by construction and must hash-equal the parquet-side
    oracle."""
    path = os.path.join(
        "/tmp",
        f"fes_source_fw_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    cents = lambda c: F.lpad(
        F.round(F.col(c) * 100).cast("long").cast("string"), 10, "0"
    )
    (
        _slice(spark, sf_dir)
        .select(
            F.concat(
                F.lpad(F.col("l_orderkey").cast("string"), 12, "0"),
                F.col("l_returnflag"),
                cents("l_quantity"),
                cents("l_extendedprice"),
            ).alias("value")
        )
        .write.mode("overwrite")
        .format("text")
        .save(path)
    )
    raw = spark.read.format("text").load(path)
    parsed = raw.select(
        F.substring("value", 1, 12).cast("long").alias("l_orderkey"),
        F.substring("value", 13, 1).alias("l_returnflag"),
        (F.substring("value", 14, 10).cast("long") / 100.0).alias(
            "l_quantity"
        ),
        (F.substring("value", 24, 10).cast("long") / 100.0).alias(
            "l_extendedprice"
        ),
    )
    return _agg(parsed)


@query(
    "source_corrupt_record_quarantine",
    oracle="""
    WITH rows_gen AS (SELECT unnest(generate_series(0, 199)) AS i)
    SELECT CAST(SUM(CASE WHEN i % 10 <> 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(SUM(CASE WHEN i % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(SUM(CASE WHEN i % 10 <> 7 THEN i ELSE 0 END) AS BIGINT)
             AS good_id_sum,
           CAST(SUM(CASE WHEN i % 10 <> 7 THEN i * 10 ELSE 0 END)
                AS BIGINT) AS good_qty_sum
    FROM rows_gen
    """,
)
def source_corrupt_record_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Malformed-row quarantine via PERMISSIVE parsing with
    columnNameOfCorruptRecord — the scale-correct alternative to
    FAILFAST when one bad row must not kill a 100 TB load: rows that
    fail the schema land with their raw text in the corrupt-record
    column and every good field NULL, so the pipeline SPLITS the
    scan into a clean stream and a quarantine stream in one pass
    (no second parse). The fixture is a deterministically-corrupted
    200-line CSV (every id%10==7 row has a non-numeric qty), so the
    oracle states exact good/quarantined counts and the good-side
    sums. The quarantine split is a filter on one generated column —
    both streams share the single scan."""
    path = os.path.join(
        "/tmp",
        f"fes_source_corrupt_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}.csv",
    )
    if not os.path.exists(path):
        lines = ["id,qty"]
        for i in range(200):
            qty = "oops" if i % 10 == 7 else str(i * 10)
            lines.append(f"{i},{qty}")
        storage.write_atomic(path, "\n".join(lines) + "\n")
    raw = (
        spark.read.schema("id long, qty long, _corrupt string")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    # Spark disallows queries whose pruned schema is ONLY the corrupt
    # column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — both streams are
    # summarized in ONE aggregate over the full parse instead, which
    # is also one scan fewer than filter-twice
    ok = F.col("_corrupt").isNull()
    return raw.agg(
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(~ok, 1).otherwise(0)).cast("long")
        .alias("n_quarantined"),
        F.sum(F.when(ok, F.col("id")).otherwise(0)).cast("long")
        .alias("good_id_sum"),
        F.sum(F.when(ok, F.col("qty")).otherwise(0)).cast("long")
        .alias("good_qty_sum"),
    ).select("n_good", "n_quarantined", "good_id_sum", "good_qty_sum")


@query(
    "sql_named_window",
    oracle="""
    SELECT c_custkey,
           CAST(rnk AS BIGINT) AS rnk,
           ROUND(run_bal, 2) AS run_bal
    FROM (
      SELECT c_custkey,
             RANK() OVER w AS rnk,
             SUM(c_acctbal) OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal, c_custkey
                                  ROWS UNBOUNDED PRECEDING) AS run_bal
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey
                   ORDER BY c_acctbal, c_custkey)
    )
    WHERE rnk <= 3
    """,
)
def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause in SQL (one definition shared by several
    window functions) — the SQL-surface form of window reuse; the
    engine compiles both OVER references to ONE window operator over
    one sort, which matters because each distinct (partition, order)
    pair is its own exchange+sort at scale. Registered through a
    temp view + spark.sql to exercise the parser path, not the
    DataFrame builder."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "nw_customer"
    )
    return spark.sql(
        """
        SELECT c_custkey, CAST(rnk AS BIGINT) AS rnk,
               ROUND(run_bal, 2) AS run_bal
        FROM (
          SELECT c_custkey,
                 RANK() OVER w AS rnk,
                 SUM(c_acctbal) OVER (PARTITION BY c_nationkey
                                      ORDER BY c_acctbal, c_custkey
                                      ROWS UNBOUNDED PRECEDING) AS run_bal
          FROM nw_customer
          WINDOW w AS (PARTITION BY c_nationkey
                       ORDER BY c_acctbal, c_custkey)
        )
        WHERE rnk <= 3
        """
    )


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 4): table and column names supplied
    as BOUND PARAMETERS instead of string-concatenated SQL — the
    injection-safe way to write 'group by an arbitrary dimension'
    dashboard templates (the identifier is validated as a name, not
    spliced as text; a value like 'x; DROP TABLE' fails to resolve
    instead of executing). Same template serves any dimension
    column; the oracle pins the o_orderpriority instantiation."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "idq_orders"
    )
    return spark.sql(
        """
        SELECT IDENTIFIER(:dim) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM IDENTIFIER(:tbl) GROUP BY 1
        """,
        args={"dim": "o_orderpriority", "tbl": "idq_orders"},
    )


@query("source_xlsx_distributed", oracle=_ORACLE)
def source_xlsx_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed XLSX scan under the value gate: the spark-excel
    escape hatch from SURVEY §2A op #7's scale note, implemented as
    binaryFile → mapInPandas (intake/xlsx_distributed.py) instead of
    the external connector. The lineitem slice lands as FOUR xlsx
    files — one per orderkey bucket, one of them with its columns
    deliberately REORDERED (landing feeds do that) — and is read back
    through the distributed source, which aligns columns by header
    name, parses each file executor-side, and never materializes rows
    on the driver. Cast string→typed, aggregate, hash-equal the
    parquet oracle.

    Fixture note: xlsx has no Spark writer, so fixture GENERATION is
    driver-side from the bounded slice (l_orderkey ≤ 1000, the same
    bound every source_* fixture uses) — the path under test is the
    read. At scale the landing files arrive from outside the engine;
    parallelism = files, grouped by maxPartitionBytes."""
    import pandas as pd  # noqa: PLC0415

    from free_etl_spark.intake.xlsx_distributed import read_xlsx_distributed
    from free_etl_spark.intake.xlsx_lite import write_xlsx

    cols = ["l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"]
    out_dir = os.path.join(
        "/tmp",
        f"fes_source_xlsx_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    marker = os.path.join(out_dir, "_FIXTURE_OK")
    if not os.path.exists(marker):  # idempotent per (sf, application)
        os.makedirs(out_dir, exist_ok=True)
        pdf = _slice(spark, sf_dir).toPandas()  # bounded fixture gen
        for b in range(4):
            part = pdf[pdf["l_orderkey"] % 4 == b]
            # bucket 3 reorders its columns: name-alignment under test
            part = part[list(reversed(cols))] if b == 3 else part[cols]
            with open(os.path.join(out_dir, f"part-{b}.xlsx"), "wb") as f:
                f.write(write_xlsx(part))
        with open(marker, "w") as f:
            f.write("ok")
    typed = read_xlsx_distributed(
        spark, os.path.join(out_dir, "*.xlsx"), columns=cols
    ).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
    )
    return _agg(typed)


@query(
    "source_zorder_clustered_scan",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_partkey <= 400 AND l_suppkey <= 20
    GROUP BY l_returnflag
    """,
)
def source_zorder_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering under the value gate: lineitem re-laid-out
    with operators/maintenance.py:zorder_write on (l_partkey,
    l_suppkey) — bit-interleaved z-value from one approxQuantile
    sketch pass, range-partitioned so every file covers a compact
    2-D hyper-rectangle — then scanned back with a BOX predicate on
    both clustered columns and aggregated; must hash-equal the
    plain-parquet oracle (a z-layout that loses/duplicates/reorders
    bits breaks the value hash).

    Scale story: this is the OPTIMIZE ZORDER analogue — at 100 TB,
    single-column sort gives tight file min/max on ONE key and
    useless stats on the rest; the z-layout gives narrow per-file
    spans on EVERY clustered column (pinned < 0.6 of domain in
    tests/test_maintenance.py), so parquet min/max skipping prunes
    row groups for box predicates on any participating dimension."""
    from free_etl_spark.operators.maintenance import zorder_write

    path = os.path.join(
        "/tmp",
        f"fes_zorder_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        zorder_write(
            load_table(spark, sf_dir, "lineitem").select(
                "l_partkey",
                "l_suppkey",
                "l_returnflag",
                "l_quantity",
                "l_extendedprice",
            ),
            path,
            ["l_partkey", "l_suppkey"],
            n_files=8,
        )
    return (
        spark.read.parquet(path)
        .filter((F.col("l_partkey") <= 400) & (F.col("l_suppkey") <= 20))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query("source_compaction_roundtrip", oracle=_ORACLE)
def source_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the value gate: the lineitem slice
    lands deliberately FRAGMENTED (32 files for a few-MB slice — the
    classic streaming-sink pathology), compact_parquet
    (operators/maintenance.py:122) rewrites it to byte-derived file
    counts in place with crash-safe per-leaf swaps, and the compacted
    table must aggregate hash-equal to the parquet oracle. File-count
    reduction is asserted in tests/test_maintenance.py; here the
    driver pins that compaction never loses, duplicates, or mutates a
    row. At 100 TB compaction is the maintenance op that keeps scan
    task counts proportional to bytes instead of to the ingest
    cadence."""
    from free_etl_spark.operators.maintenance import compact_parquet

    path = os.path.join(
        "/tmp",
        f"fes_compact_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    marker = os.path.join(path, "_COMPACTED")
    if not os.path.exists(marker):
        _slice(spark, sf_dir).repartition(32).write.mode("overwrite").parquet(path)
        compact_parquet(spark, path, target_file_mb=512)
        with open(marker, "w") as f:
            f.write("ok")
    return _agg(spark.read.schema(_SLICE_SCHEMA).parquet(path))


@query(
    "sql_scripting_binary_search",
    oracle="""
    WITH hist AS (
      SELECT CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS kd,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(CEIL(0.9 * SUM(n)) AS BIGINT) AS k_target
      FROM hist
    ),
    cum AS (
      SELECT kd, SUM(n) OVER (ORDER BY kd) AS c FROM hist
    )
    SELECT (SELECT MIN(kd) FROM cum, tot WHERE c >= k_target)
             AS p90_kilodollar,
           k_target, n_total
    FROM tot
    """,
)
def sql_scripting_binary_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4.1 BEGIN/DECLARE/WHILE/IF): an iterative
    binary search for the 90th-percentile order-value bucket, the
    procedural-SQL surface a migrating warehouse user expects
    (T-SQL/PLpgSQL-style control flow) — every loop round is a scalar
    subquery against a pre-aggregated ~600-row histogram TEMP VIEW,
    never the fact table, so the loop costs ~10 driver-paced tiny
    jobs (the same pinned-rounds overhead class as graph_kcore) while
    the single fact-table scan happens once up front. The oracle
    computes the same order statistic set-wise; the script must
    converge to the identical integer."""
    # materialize the histogram (one fact scan) — a view over the raw
    # lineage would re-scan orders on EVERY loop iteration
    hist_path = os.path.join(
        "/tmp",
        f"fes_scr_hist_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    if not os.path.exists(os.path.join(hist_path, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "orders")
            .groupBy(
                F.floor(F.col("o_totalprice") / 1000).cast("long").alias("kd")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(hist_path)
        )
    spark.read.parquet(hist_path).createOrReplaceTempView("scr_hist")
    # restore the prior scripting flag afterwards — a bare set() leaks
    # session state into every later query in the run (ADVICE r11; the
    # script executes eagerly inside spark.sql, so restoring in finally
    # is safe)
    try:
        prev_scripting = spark.conf.get("spark.sql.scripting.enabled")
    except Exception:
        prev_scripting = None
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            """
        BEGIN
          DECLARE n_total BIGINT;
          DECLARE k_target BIGINT;
          DECLARE lo BIGINT; DECLARE hi BIGINT;
          DECLARE mid BIGINT; DECLARE cum BIGINT;
          SET n_total = (SELECT SUM(n) FROM scr_hist);
          SET k_target = CAST(CEIL(0.9 * n_total) AS BIGINT);
          SET lo = (SELECT MIN(kd) FROM scr_hist);
          SET hi = (SELECT MAX(kd) FROM scr_hist);
          WHILE hi > lo DO
            SET mid = (lo + hi) DIV 2;
            SET cum = (SELECT COALESCE(SUM(n), 0) FROM scr_hist
                       WHERE kd <= mid);
            IF cum >= k_target THEN
              SET hi = mid;
            ELSE
              SET lo = mid + 1;
            END IF;
          END WHILE;
          SELECT hi AS p90_kilodollar, k_target, n_total;
        END
        """
        )
    finally:
        if prev_scripting is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev_scripting)


@query(
    "source_python_datasource_stream",
    oracle="""
    SELECT CAST((id * id) % 97 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(id) AS BIGINT) AS sum_id
    FROM generate_series(0, 7999) AS t(id)
    GROUP BY 1
    """,
)
def source_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python Data Source (Spark 4): the streaming half of
    the custom-connector API — a SimpleDataSourceStreamReader that
    advances a JSON offset 2000 ids per micro-batch (the wrap-a-queue/
    REST-poll shape), drained with processAllAvailable so the offset
    genuinely advances across FOUR micro-batches (availableNow
    snapshots the first read's end offset and stops after one — the
    probe that found this is the reason for the manual drain).
    readBetweenOffsets provides replay-on-recovery. The generator is
    deterministic, so DuckDB replays it from generate_series. Gate
    cost is Python-worker + micro-batch machinery, fixed."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _SeqStreamReader(SimpleDataSourceStreamReader):
        _CHUNK = 2000
        _END = 8000

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = start["pos"]
            if pos >= self._END:
                return iter([]), {"pos": pos}
            rows = [(i, (i * i) % 97) for i in range(pos, pos + self._CHUNK)]
            return iter(rows), {"pos": pos + self._CHUNK}

        def readBetweenOffsets(self, start, end):
            return iter(
                (i, (i * i) % 97) for i in range(start["pos"], end["pos"])
            )

    class _SeqStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "fes_seq_stream"

        def schema(self) -> str:
            return "id bigint, bucket bigint"

        def simpleStreamReader(self, schema):
            return _SeqStreamReader()

    spark.dataSource.register(_SeqStreamSource)
    import uuid as _uuid

    name = f"fes_pds_{_uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            spark.readStream.format("fes_seq_stream")
            .load()
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("id").cast("long").alias("sum_id"),
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderkey > 500
    GROUP BY 1
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4): dynamic SQL held in a session
    VARIABLE and executed with a bound parameter (USING) — the other
    half of the injection-safe templating story next to
    sql_identifier_clause: the statement TEXT is dynamic, the value is
    a parameter marker, never string-spliced. The warehouse-migration
    surface for generated dashboards/ELT runners."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ei_orders")
    spark.sql("DECLARE OR REPLACE stmt STRING")
    spark.sql(
        "SET VAR stmt = 'SELECT o_orderpriority AS grp, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "ROUND(SUM(o_totalprice), 2) AS total "
        "FROM ei_orders WHERE o_orderkey > ? GROUP BY 1'"
    )
    return spark.sql("EXECUTE IMMEDIATE stmt USING 500")


@query(
    "source_range_partitioned_export",
    oracle="""
    WITH src AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS sd_d,
             l_returnflag,
             l_extendedprice * (1 - l_discount) AS rev
      FROM lineitem
    ),
    b AS (
      SELECT FLOOR(quantile_cont(sd_d, 0.125)) AS b1,
             FLOOR(quantile_cont(sd_d, 0.250)) AS b2,
             FLOOR(quantile_cont(sd_d, 0.375)) AS b3,
             FLOOR(quantile_cont(sd_d, 0.500)) AS b4,
             FLOOR(quantile_cont(sd_d, 0.625)) AS b5,
             FLOOR(quantile_cont(sd_d, 0.750)) AS b6,
             FLOOR(quantile_cont(sd_d, 0.875)) AS b7
      FROM src
    ),
    r AS (
      SELECT s.*,
             (CASE WHEN sd_d >= b1 THEN 1 ELSE 0 END
              + CASE WHEN sd_d >= b2 THEN 1 ELSE 0 END
              + CASE WHEN sd_d >= b3 THEN 1 ELSE 0 END
              + CASE WHEN sd_d >= b4 THEN 1 ELSE 0 END
              + CASE WHEN sd_d >= b5 THEN 1 ELSE 0 END
              + CASE WHEN sd_d >= b6 THEN 1 ELSE 0 END
              + CASE WHEN sd_d >= b7 THEN 1 ELSE 0 END) AS bkt
      FROM src s CROSS JOIN b
    ),
    st AS (SELECT bkt, MIN(sd_d) AS mn, MAX(sd_d) AS mx FROM r GROUP BY bkt),
    nf AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_files_total,
             CAST(SUM(CASE WHEN mx >= 9496 AND mn <= 9861 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_files_read
      FROM st
    ),
    agg AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(SUM(rev), 2) AS rev
      FROM r WHERE sd_d BETWEEN 9496 AND 9861 GROUP BY 1
    )
    SELECT agg.l_returnflag, agg.n_rows, agg.rev,
           nf.n_files_total, nf.n_files_read
    FROM agg CROSS JOIN nf
    """,
)
def source_range_partitioned_export(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Range-partitioned export + footer-statistics manifest pruning —
    the table-format metadata layer (Iceberg/Delta file skipping)
    above Spark's internal row-group skipping (which
    source_zorder_clustered_scan pins): lineitem is exported into 8
    equi-depth ship-date ranges (exact-percentile boundaries → one
    file per range via repartition on the bucket key + partitionBy),
    a manifest of per-FILE min/max is built from the parquet FOOTERS
    with pyarrow (no data read), and a one-year range query consults
    the manifest and opens ONLY overlapping files. n_files_total /
    n_files_read ride along as columns, so broken boundaries, lost
    footer stats, or a prune that opens too few/too many files all
    hash-mismatch the DuckDB oracle (which replays the equi-depth
    layout relationally — footer min/max of a range file IS the
    range's data min/max, the invariant under test).

    Determinism: day-integer percentiles at eighth fractions are
    FP-exact in both engines (positions k*(n-1)/8 and interpolation
    fractions m/8 are dyadic; all values < 2^53), so the FLOORed
    boundaries agree bit-for-bit.

    Shape at 100 TB: the export is one shuffle by range key; the
    manifest is O(files) metadata built once per snapshot; the range
    scan reads |overlap| files instead of the table — the entire
    point of range layout + manifest pruning. Driver work is one
    7-number boundary row and an O(files) footer loop."""
    import glob as g

    import pyarrow.parquet as pq

    B = 8
    LO, HI = 9496, 9861  # 1996-01-01 .. 1996-12-31 as epoch days
    path = os.path.join(
        "/tmp",
        f"fes_rangexp_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("sd_d"),
        "l_returnflag",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        row = li.agg(
            *[
                F.floor(F.percentile("sd_d", F.lit(k / 8.0))).alias(f"b{k}")
                for k in range(1, B)
            ]
        ).first()
        bkt = sum(
            (F.col("sd_d") >= int(row[f"b{k}"])).cast("int")
            for k in range(1, B)
        )
        (
            li.withColumn("bkt", bkt)
            .repartition(B, "bkt")
            .sortWithinPartitions("sd_d")
            .write.mode("overwrite")
            .partitionBy("bkt")
            .parquet(path)
        )
    manifest = []
    for fp in sorted(g.glob(os.path.join(path, "bkt=*", "*.parquet"))):
        md = pq.ParquetFile(fp).metadata
        idx = next(
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "sd_d"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        manifest.append((fp, min(mins), max(maxs)))
    read_files = [fp for fp, mn, mx in manifest if mx >= LO and mn <= HI]
    return (
        spark.read.parquet(*read_files)
        .filter(F.col("sd_d").between(LO, HI))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("rev"), 2).alias("rev"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "rev",
            F.lit(len(manifest)).cast("long").alias("n_files_total"),
            F.lit(len(read_files)).cast("long").alias("n_files_read"),
        )
    )


@query(
    "source_mor_delete_vectors",
    oracle="""
    WITH del AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_deleted
      FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           del.n_deleted
    FROM orders CROSS JOIN del
    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
    GROUP BY o_orderpriority, del.n_deleted
    """,
)
def source_mor_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read position deletes (the Iceberg/Delta deletion-
    vector read path): the base snapshot's data files are IMMUTABLE;
    a delete commits only a sidecar of (file_path, row_position)
    pairs, and readers apply it as an anti-join — no base-file
    rewrite, which at 100 TB is the difference between a
    KB-sized delete commit and rewriting TB-scale files for a 0.1 %
    delete (compaction applies vectors later, off the write path).

    Positions come from the engine's own file-source metadata
    (_metadata.file_path / _metadata.row_index — what Iceberg
    position deletes are built on), so the delete vector is pure
    position, no keys: it works under duplicate keys and never
    touches data bytes. The MoR read broadcast-anti-joins the vector
    (small by construction) against the base scan. A position
    mapping that's off by one, applies to the wrong file, or leaks
    through the anti-join deletes the WRONG rows and hash-mismatches
    the oracle (full-table aggregate of survivors + n_deleted).

    Fixture: one base export per (sf, application); the delete
    vector targets rows by predicate only to DERIVE positions — the
    read path under test consumes positions alone."""
    base = os.path.join(
        "/tmp",
        f"fes_mor_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    data_dir = os.path.join(base, "data")
    dv_dir = os.path.join(base, "deletes")
    if not os.path.exists(os.path.join(dv_dir, "_SUCCESS")):
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
        ).repartition(4).write.mode("overwrite").parquet(data_dir)
        with_pos = spark.read.parquet(data_dir).select(
            "o_orderkey",
            "o_orderstatus",
            F.col("_metadata.file_path").alias("dv_file"),
            F.col("_metadata.row_index").alias("dv_pos"),
        )
        # the delete commit: positions only — keys are dropped here
        with_pos.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0)
        ).select("dv_file", "dv_pos").write.mode("overwrite").parquet(dv_dir)
    dv = spark.read.parquet(dv_dir)
    scan = spark.read.parquet(data_dir).select(
        "o_orderpriority",
        "o_totalprice",
        F.col("_metadata.file_path").alias("dv_file"),
        F.col("_metadata.row_index").alias("dv_pos"),
    )
    live = scan.join(F.broadcast(dv), ["dv_file", "dv_pos"], "left_anti")
    n_del = dv.agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    return (
        live.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_live"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .crossJoin(F.broadcast(n_del))
    )


@query(
    "source_time_travel_read",
    oracle="""
    WITH v1 AS (SELECT 1 AS version, o_totalprice FROM orders
                WHERE o_orderkey % 4 <> 3),
    v2 AS (SELECT 2 AS version, o_totalprice FROM orders),
    v3 AS (SELECT 3 AS version, o_totalprice FROM orders
           WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
          UNION ALL SELECT * FROM v3)
    SELECT CAST(version AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM u GROUP BY version
    """,
)
def source_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log time travel (the Delta/Iceberg snapshot-isolation
    read path): the table is an ordered log of JSON manifests, each
    listing exactly the immutable data files (and, from v3, the
    position-delete vector) visible at that version — an AS-OF read
    opens ONLY its manifest's files, never a directory listing, so
    old versions stay readable after later appends/deletes and a
    reader pinned to version N is immune to concurrent commits.
    Three commits are materialized: v1 (base files), v2 (append-only
    — v1's files reused byte-identical, new files added), v3 (a
    merge-on-read position-delete vector, no data-file rewrite). The
    query reads each version THROUGH its manifest and aggregates
    rows + total; reading the wrong file set for any version (e.g. a
    directory scan that sees v2's appends at v1, or missing the v3
    delete vector) changes that version's row count/total and
    hash-mismatches the oracle, so the snapshot-isolation property
    itself is value-gated.

    At 100 TB this is the only workable shape: commits are KB-sized
    manifest writes, appends never touch committed files, deletes are
    MoR vectors (source_mor_delete_vectors is the read primitive),
    and version pinning costs one small JSON read before the pruned
    parquet scan."""
    import glob as g
    import json

    base = os.path.join(
        "/tmp",
        f"fes_ttl_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    log_dir = os.path.join(base, "_log")
    marker = os.path.join(log_dir, "_committed.json")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        a_dir = os.path.join(base, "add_v1")
        b_dir = os.path.join(base, "add_v2")
        orders.filter(F.col("o_orderkey") % 4 != 3).repartition(3).write.mode(
            "overwrite"
        ).parquet(a_dir)
        orders.filter(F.col("o_orderkey") % 4 == 3).repartition(2).write.mode(
            "overwrite"
        ).parquet(b_dir)
        a_files = sorted(g.glob(os.path.join(a_dir, "*.parquet")))
        b_files = sorted(g.glob(os.path.join(b_dir, "*.parquet")))
        # v3 commit: derive the delete vector's POSITIONS from the
        # committed files (predicate used only to pick victims — the
        # read path consumes positions alone, the MoR discipline)
        dv_dir = os.path.join(base, "dv_v3")
        (
            spark.read.parquet(*(a_files + b_files))
            .select(
                "o_orderkey",
                "o_orderstatus",
                F.col("_metadata.file_path").alias("dv_file"),
                F.col("_metadata.row_index").alias("dv_pos"),
            )
            .filter(
                (F.col("o_orderstatus") == "F")
                & (F.col("o_orderkey") % 5 == 0)
            )
            .select("dv_file", "dv_pos")
            .write.mode("overwrite")
            .parquet(dv_dir)
        )
        os.makedirs(log_dir, exist_ok=True)
        for v, man in (
            (1, {"files": a_files}),
            (2, {"files": a_files + b_files}),
            (3, {"files": a_files + b_files, "deletes": dv_dir}),
        ):
            with open(os.path.join(log_dir, f"v{v}.json"), "w") as f:
                json.dump(man, f)
        # marker LAST: crash => rebuild
        storage.write_atomic(marker, json.dumps({"versions": 3}))

    def as_of(v: int) -> DataFrame:
        with open(os.path.join(log_dir, f"v{v}.json")) as f:
            man = json.load(f)
        df = spark.read.parquet(*man["files"])
        if "deletes" in man:
            dv = spark.read.parquet(man["deletes"])
            df = df.select(
                "o_totalprice",
                F.col("_metadata.file_path").alias("dv_file"),
                F.col("_metadata.row_index").alias("dv_pos"),
            ).join(F.broadcast(dv), ["dv_file", "dv_pos"], "left_anti")
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        ).select(F.lit(v).cast("int").alias("version"), "n_rows", "total_price")

    return as_of(1).unionAll(as_of(2)).unionAll(as_of(3))


@query(
    "source_log_compact_vacuum",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           CAST(5 AS BIGINT) AS n_vacuumed_files,
           CAST(2 AS BIGINT) AS n_live_files
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 5 = 0)
    """,
)
def source_log_compact_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction + reachability vacuum — the retention half of
    the commit-log lifecycle (source_time_travel_read is the read
    half; separate fixture, so ITS old versions stay readable):
    v1 base (3 files) → v2 append (+2 files) → v3 MoR delete vector
    → v4 COMPACTION commit (reads v3 through the log, rewrites the
    survivors into 2 fresh files, manifest references only those —
    the delete vector is applied and retired, exactly what
    ivf_compact does for the vector store). Vacuum(retain=1) then
    deletes every data file unreachable from the retained manifests:
    reachability is computed FROM THE LOG (the union of retained
    manifests' file lists), never by directory listing age — the r12
    pipeline-sweep lesson in reverse: deletion must be provably
    log-unreachable, or a reader pinned to a retained version loses
    files under it. Exactly the 5 pre-compaction data files (3+2)
    are vacuumable; the vacuum report is persisted into the log at
    build time so the query is stable across calls in one session.

    The oracle value-gates the whole lifecycle: the post-vacuum
    AS-OF-latest read must still equal the logical v3 content (a
    vacuum that deletes a reachable file, or a compaction that loses
    or resurrects rows, changes n_rows/total), and the file counts
    pin that compaction wrote exactly its repartition width and
    vacuum removed exactly the unreachable set.

    At 100 TB: compaction bounds read amplification (manifest length
    and delete-vector chains), vacuum bounds storage; both are
    KB-sized log commits plus data IO proportional to the compacted
    span only."""
    import glob as g
    import json

    base = os.path.join(
        "/tmp",
        f"fes_ttv_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    log_dir = os.path.join(base, "_log")
    marker = os.path.join(log_dir, "_committed.json")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        a_dir = os.path.join(base, "add_v1")
        b_dir = os.path.join(base, "add_v2")
        orders.filter(F.col("o_orderkey") % 4 != 3).repartition(3).write.mode(
            "overwrite"
        ).parquet(a_dir)
        orders.filter(F.col("o_orderkey") % 4 == 3).repartition(2).write.mode(
            "overwrite"
        ).parquet(b_dir)
        a_files = sorted(g.glob(os.path.join(a_dir, "*.parquet")))
        b_files = sorted(g.glob(os.path.join(b_dir, "*.parquet")))
        dv_dir = os.path.join(base, "dv_v3")
        (
            spark.read.parquet(*(a_files + b_files))
            .select(
                "o_orderkey",
                "o_orderstatus",
                F.col("_metadata.file_path").alias("dv_file"),
                F.col("_metadata.row_index").alias("dv_pos"),
            )
            .filter(
                (F.col("o_orderstatus") == "F")
                & (F.col("o_orderkey") % 5 == 0)
            )
            .select("dv_file", "dv_pos")
            .write.mode("overwrite")
            .parquet(dv_dir)
        )
        # v4: compaction — materialize v3 through the log, rewrite
        # survivors, retire the delete vector from the manifest
        c_dir = os.path.join(base, "compact_v4")
        dv = spark.read.parquet(dv_dir)
        (
            spark.read.parquet(*(a_files + b_files))
            .select(
                "o_orderkey",
                "o_orderstatus",
                "o_totalprice",
                F.col("_metadata.file_path").alias("dv_file"),
                F.col("_metadata.row_index").alias("dv_pos"),
            )
            .join(F.broadcast(dv), ["dv_file", "dv_pos"], "left_anti")
            .drop("dv_file", "dv_pos")
            .repartition(2)
            .write.mode("overwrite")
            .parquet(c_dir)
        )
        c_files = sorted(g.glob(os.path.join(c_dir, "*.parquet")))
        os.makedirs(log_dir, exist_ok=True)
        manifests = {
            1: {"files": a_files},
            2: {"files": a_files + b_files},
            3: {"files": a_files + b_files, "deletes": dv_dir},
            4: {"files": c_files},
        }
        for v, man in manifests.items():
            with open(os.path.join(log_dir, f"v{v}.json"), "w") as f:
                json.dump(man, f)
        # vacuum(retain=1): delete data files unreachable from the
        # retained manifests — reachability FROM THE LOG, never mtime
        reachable = set(manifests[4]["files"])
        all_data = set(a_files + b_files + c_files)
        doomed = sorted(all_data - reachable)
        for f_ in doomed:
            os.remove(f_)
        with open(os.path.join(log_dir, "vacuum.json"), "w") as f:
            json.dump(
                {"retain": 1, "n_vacuumed": len(doomed), "vacuumed": doomed},
                f,
            )
        storage.write_atomic(marker, json.dumps({"versions": 4}))

    with open(os.path.join(log_dir, "v4.json")) as f:
        man = json.load(f)
    with open(os.path.join(log_dir, "vacuum.json")) as f:
        vac = json.load(f)
    return spark.read.parquet(*man["files"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    ).select(
        "n_rows",
        "total_price",
        F.lit(vac["n_vacuumed"]).cast("long").alias("n_vacuumed_files"),
        F.lit(len(man["files"])).cast("long").alias("n_live_files"),
    )


@query(
    "source_time_travel_timestamp",
    oracle="""
    WITH reads(as_of_ts, version, n_log_reads, lo, hi) AS (VALUES
      ('2026-01-02T12:00:00', 2, 1, 0, 0),
      ('2026-01-03T12:00:00', 3, 2, 0, 0),
      ('2026-12-31T00:00:00', 5, 2, 0, 0)),
    c AS (
      SELECT 2 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(SUM(o_totalprice), 2) AS total_price
      FROM orders WHERE o_orderkey % 3 <> 2
      UNION ALL
      SELECT 3, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
      FROM orders
      UNION ALL
      SELECT 5, CAST(COUNT(*) AS BIGINT), ROUND(SUM(o_totalprice), 2)
      FROM orders WHERE o_orderstatus IN ('O', 'F'))
    SELECT r.as_of_ts, CAST(r.version AS INT) AS version, c.n_rows,
           c.total_price, CAST(r.n_log_reads AS INT) AS n_log_reads
    FROM reads r JOIN c USING (version)
    """,
)
def source_time_travel_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp AS-OF reads through a CHECKPOINTED commit log
    (VERDICT r13 task 1), driven by operators/timetravel.py — the
    productionized log, not a hand-built fixture: five commits with
    deterministic caller-supplied commit_ts and checkpoint_interval=2
    (consolidated checkpoints at v2 and v4, the Delta shape; each read
    takes the newest checkpoint at or below its version from the log
    listing), then three timestamp-bound reads:

      - '…01-02T12:00' → v2, resolved from checkpoint v2 alone
        (1 manifest read)
      - '…01-03T12:00' → v3, checkpoint v2 + entry 3 (2 reads)
      - '…12-31'       → v5, checkpoint v4 + entry 5 (2 reads)

    The emitted ``n_log_reads`` column is the ACTUAL count of JSON
    manifests the resolver opened (plan_read), pinned by the oracle
    to the O(1)+suffix literals — a regression to O(versions) replay
    hash-mismatches, so the checkpointing property itself is
    value-gated, alongside the row-level snapshot content of each
    timestamp-resolved version.

    At production commit rates (thousands of versions) this is the
    difference between a read planning in one small-file read and a
    read paying O(versions) round-trips to object storage — exactly
    why Delta checkpoints its log. Versions carry contents:
    v1 overwrite (o_orderkey % 3 = 0) → v2 append (% 3 = 1) →
    v3 append (% 3 = 2) → v4 overwrite (status 'O') → v5 append
    (status 'F')."""
    import json
    import shutil

    from free_etl_spark.operators.timetravel import (
        commit_version,
        latest_version,
        plan_read,
        read_version,
    )

    base = os.path.join(
        "/tmp",
        f"fes_ttts_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    marker = base + "_built.json"
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        slim = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        commits = [
            (slim.filter(F.col("o_orderkey") % 3 == 0), "overwrite",
             "2026-01-01T00:00:00"),
            (slim.filter(F.col("o_orderkey") % 3 == 1), "append",
             "2026-01-02T00:00:00"),
            (slim.filter(F.col("o_orderkey") % 3 == 2), "append",
             "2026-01-03T00:00:00"),
            (slim.filter(F.col("o_orderstatus") == "O"), "overwrite",
             "2026-01-04T00:00:00"),
            (slim.filter(F.col("o_orderstatus") == "F"), "append",
             "2026-01-05T00:00:00"),
        ]
        for df, op, ts in commits:
            commit_version(spark, base, df, op, commit_ts=ts,
                           checkpoint_interval=2)
        assert latest_version(base) == 5
        # marker LAST: crash => rebuild
        storage.write_atomic(marker, json.dumps({"versions": 5}))

    def as_of(ts: str) -> DataFrame:
        plan = plan_read(base, timestamp=ts)
        return (
            read_version(spark, base, timestamp=ts)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            )
            .select(
                F.lit(ts).alias("as_of_ts"),
                F.lit(plan["version"]).cast("int").alias("version"),
                "n_rows",
                "total_price",
                F.lit(plan["n_log_reads"]).cast("int").alias("n_log_reads"),
            )
        )

    return (
        as_of("2026-01-02T12:00:00")
        .unionAll(as_of("2026-01-03T12:00:00"))
        .unionAll(as_of("2026-12-31T00:00:00"))
    )


@query(
    "source_time_travel_schema",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O')
           AS BIGINT) AS v1_n_rows,
      CAST(2 AS INT) AS v1_n_cols,
      ROUND((SELECT SUM(o_totalprice) FROM orders
             WHERE o_orderstatus = 'O'), 2) AS v1_total,
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus IN ('O','F'))
           AS BIGINT) AS v2_n_rows,
      CAST(3 AS INT) AS v2_n_cols,
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O')
           AS BIGINT) AS v2_null_flag_rows,
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F'
            AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
           AS BIGINT) AS v2_urgent_rows
    """,
)
def source_time_travel_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-in-the-log column evolution (VERDICT r13 task 7): each
    commit records the committed DataFrame's schema as the table
    schema AS OF that version, and read_version APPLIES the recorded
    schema — so an added column time-travels with the data instead of
    depending on which parquet footers happen to be scanned first.

    Lifecycle: v1 overwrites (o_orderkey, o_totalprice) for 'O'
    orders; v2 appends 'F' orders WITH a new ``is_urgent`` boolean
    (the add-column evolution). The oracle pins, by value: the AS-OF
    v1 read has exactly 2 columns and v1's rows/total (a v1 reader
    never sees the column that didn't exist yet); the latest read has
    3 columns, is_urgent is NULL for exactly the v1 cohort
    (NULL-backfill over old files under the evolved schema) and TRUE
    for exactly the urgent-priority 'F' cohort. Column counts come
    from the applied schema, so footer-luck reads (one file's schema
    winning) hash-mismatch.

    At 100 TB: schema lives in KB-sized log entries; evolution is a
    metadata commit, zero data rewrite — the Delta/Iceberg add-column
    contract."""
    import json
    import shutil

    from free_etl_spark.operators.timetravel import (
        commit_version,
        read_version,
    )

    base = os.path.join(
        "/tmp",
        f"fes_ttsc_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    marker = base + "_built.json"
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders")
        v1 = orders.filter(F.col("o_orderstatus") == "O").select(
            "o_orderkey", "o_totalprice"
        )
        v2 = orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .alias("is_urgent"),
        )
        commit_version(spark, base, v1, "overwrite")
        commit_version(spark, base, v2, "append")
        storage.write_atomic(marker, json.dumps({"versions": 2}))

    r1 = read_version(spark, base, 1)
    r2 = read_version(spark, base, 2)
    a1 = r1.agg(
        F.count(F.lit(1)).cast("long").alias("v1_n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("v1_total"),
    ).select(
        "v1_n_rows",
        F.lit(len(r1.columns)).cast("int").alias("v1_n_cols"),
        "v1_total",
    )
    a2 = r2.agg(
        F.count(F.lit(1)).cast("long").alias("v2_n_rows"),
        F.count(F.when(F.col("is_urgent").isNull(), 1))
        .cast("long")
        .alias("v2_null_flag_rows"),
        F.count(F.when(F.col("is_urgent"), 1))
        .cast("long")
        .alias("v2_urgent_rows"),
    ).select(
        "v2_n_rows",
        F.lit(len(r2.columns)).cast("int").alias("v2_n_cols"),
        "v2_null_flag_rows",
        "v2_urgent_rows",
    )
    return a1.crossJoin(F.broadcast(a2))  # one-row x one-row scalar join
