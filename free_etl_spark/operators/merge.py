"""Batch upsert (MERGE emulation) and SCD Type-2 history maintenance
on plain parquet — the CDC-apply shapes a pipeline needs when no
transactional table format (Delta/Iceberg) is available.

``upsert_parquet`` is partition-scoped: only partitions containing a
matched or inserted key are rewritten (dynamic partition overwrite),
so applying a CDC batch costs O(touched partitions), not O(table).
At 100 TB the partition column must therefore be chosen so CDC
batches cluster (e.g. ingest date). Writes go through a single
full-outer-join plan; the rewrite is atomic per partition (parquet
dir replace), which is the strongest guarantee plain parquet offers —
a table format adds multi-partition atomicity, nothing else changes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from free_etl_spark import storage

_APPLIED = "_applied_batch.json"


def upsert_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
) -> None:
    """MERGE: update rows matching ``key_cols``, insert the rest.

    Update semantics: the updates row replaces the target row wholesale
    (same schema required).
    """
    # Distinguish "target doesn't exist" (first load) from transient read
    # failures (permissions, corrupt footer, FS hiccup): only the former may
    # fall through to an overwrite-with-updates-only; anything else re-raises
    # so a flaky read can never silently destroy the existing table.
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(target_dir)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(jvm_path):
        writer = updates.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(target_dir)
        return
    target = spark.read.parquet(target_dir)

    if partition_col:
        # Partition scoping assumes the partition column is IMMUTABLE per
        # key: touched partitions are derived from the updates batch alone,
        # so an update that moves a key to a different partition value would
        # leave the stale row in its old partition unmatched (duplicate key).
        # Immutable-per-key partition columns (ingest date, tenant id) are
        # the supported contract; pass partition_col=None otherwise.
        touched = [
            r[0] for r in updates.select(partition_col).distinct().collect()
        ]
        scope = target.filter(F.col(partition_col).isin(touched))
    else:
        scope = target

    u = updates.select(
        *[F.col(c).alias(f"__u_{c}") for c in updates.columns]
    )
    cond = [scope[k] == u[f"__u_{k}"] for k in key_cols]
    joined = scope.join(u, cond, "full_outer")
    # row-presence predicate, NOT per-column coalesce: a NULL in an
    # update column must replace the target value (wholesale-replace
    # contract) rather than silently resurrect it. Keys are non-null
    # by contract, so a null joined key means "no update row matched".
    u_present = F.col(f"__u_{key_cols[0]}").isNotNull()
    merged = joined.select(
        *[
            F.when(u_present, F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c)
            for c in updates.columns
        ]
    )

    # dynamic partition overwrite scoped to THIS write via the
    # per-writer option (precedence over session conf, ADVICE r12):
    # no shared-state save/restore, no race with concurrent writers.
    # materialize (executor-side) before overwriting the directory
    # the plan reads from — never a driver collect
    out = merged.localCheckpoint(eager=True)
    writer = out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    )
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(target_dir)


def apply_deletes(
    spark: SparkSession,
    target_dir: str,
    delete_keys: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
) -> int:
    """Propagate deletions (CDC delete batch / right-to-be-forgotten):
    rewrite the target without rows whose ``key_cols`` appear in
    ``delete_keys``. Returns the number of rows removed.

    Partition-scoped like ``upsert_parquet``: when ``partition_col``
    is given, only partitions containing a doomed key are rewritten
    (the touched-partition list comes from joining the delete keys
    against the target, so it is exact); others are untouched. The
    delete side is an anti-join — at 100 TB the keys list is tiny
    relative to the table and broadcasts."""
    target = spark.read.parquet(target_dir)
    dk = delete_keys.select(*key_cols).distinct()

    if partition_col:
        touched = [
            r[0]
            for r in target.join(dk, key_cols, "left_semi")
            .select(partition_col)
            .distinct()
            .collect()
        ]
        if not touched:
            return 0
        scope = target.filter(F.col(partition_col).isin(touched))
    else:
        scope = target

    if partition_col:
        # One pass over the doomed rows yields both the delete count and
        # each touched partition's ACTUAL on-disk directory (parent of
        # input_file_name). Hive layouts escape special characters
        # (%3A…) and format date/timestamp values their own way, so
        # string-formatting f"{col}={v}" can name a directory that does
        # not exist and silently leave the emptied partition's files
        # behind — resolving from the real layout cannot miss.
        # input_file_name() must be projected on the scan side BEFORE
        # the join: evaluated above a shuffle join it runs post-exchange
        # where no file is open and returns "" (its non-determinism also
        # pins this projection below the join, so it cannot be moved).
        doomed_stats = (
            scope.withColumn(
                "__dir", F.regexp_replace(F.input_file_name(), "/[^/]*$", "")
            )
            .join(dk, key_cols, "left_semi")
            .groupBy(partition_col, "__dir")
            .count()
            .collect()
        )
        doomed = sum(r["count"] for r in doomed_stats)
        part_dirs = [(r[0], r["__dir"]) for r in doomed_stats]
    else:
        doomed = scope.join(dk, key_cols, "left_semi").count()
        if doomed == 0:
            return 0  # nothing matches: skip the full-table rewrite
    kept = scope.join(dk, key_cols, "left_anti")
    # per-writer dynamic overwrite (ADVICE r12): no session-conf
    # mutation, no save/restore race.
    out = kept.localCheckpoint(eager=True)
    writer = out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    )
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(target_dir)
    if partition_col:
        # dynamic overwrite only replaces partitions PRESENT in the
        # output — a partition whose every row was deleted is absent
        # from `kept` and its old files would silently survive (the
        # one failure mode a right-to-be-forgotten path cannot have).
        # Remove emptied partition directories explicitly.
        kept_vals = {r[0] for r in out.select(partition_col).distinct().collect()}
        emptied_dirs = sorted(
            {d for v, d in part_dirs if v not in kept_vals}
        )
        if emptied_dirs:
            from urllib.parse import unquote

            conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
            for d in emptied_dirs:
                # input_file_name() yields a percent-ENCODED file URI
                # (an on-disk literal '%' arrives as '%25'), while
                # Hadoop's Path(String) keeps percent signs literal —
                # decode exactly once so Path names the on-disk dir.
                p = spark._jvm.org.apache.hadoop.fs.Path(unquote(d))  # noqa: SLF001
                fs = p.getFileSystem(conf)
                if fs.exists(p):
                    fs.delete(p, True)
    return doomed


def scd2_apply(
    current: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """SCD Type-2: close the current version of every changed key
    (valid_to = change effective time, is_current = false) and append
    the new version (open-ended). Unchanged keys pass through.

    ``current`` must carry the three bookkeeping columns; ``changes``
    carries key + tracked columns + ``effective_col``. One shuffle on
    the key for the join; history rows never rewrite.

    A batch carrying several rows for one key is collapsed to that
    key's LATEST state (row_number over effective desc) before the
    join — otherwise each change row would close (and re-open) the
    same current version once, emitting duplicate history rows and
    multiple is_current versions per key. Batch-SCD2 semantics: the
    batch is one snapshot transition, not an intra-batch history.
    """
    from pyspark.sql import Window

    w_latest = Window.partitionBy(*key_cols).orderBy(
        F.col(effective_col).desc(), *[F.col(c).desc() for c in tracked_cols]
    )
    changes = (
        changes.withColumn("__rn", F.row_number().over(w_latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    ch = changes.select(
        *[F.col(c).alias(f"__c_{c}") for c in changes.columns]
    )
    cond = [current[k] == ch[f"__c_{k}"] for k in key_cols]
    j = current.join(ch, cond, "left")

    changed = F.col(f"__c_{effective_col}").isNotNull() & F.col(is_current)
    closed = j.select(
        *[F.col(c) for c in current.columns if c not in (valid_to, is_current)],
        F.when(changed, F.col(f"__c_{effective_col}")).otherwise(F.col(valid_to)).alias(valid_to),
        F.when(changed, F.lit(False)).otherwise(F.col(is_current)).alias(is_current),
    )

    new_versions = changes.select(
        *key_cols,
        *tracked_cols,
        F.col(effective_col).alias(valid_from),
        F.lit(None).cast(closed.schema[valid_to].dataType).alias(valid_to),
        F.lit(True).alias(is_current),
    )
    return closed.unionByName(new_versions.select(*closed.columns))


def upsert_latest_parquet(
    spark: SparkSession,
    target_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """Conditional MERGE: per key, keep whichever row (target or
    update) has the greater ``order_cols`` tuple — the classic
    "WHEN MATCHED AND s.ts > t.ts THEN UPDATE" CDC apply. Because the
    winner is a per-key max, the operation is order-insensitive:
    applying CDC batches in any order converges to the same table,
    which is what makes it safe under micro-batch replays and
    out-of-order sources. Updates are first reduced to one row per
    key (window max on the same tuple), so a batch with several
    changes for a key applies its newest only.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    u1 = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(target_dir)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(jvm_path):
        u1.write.mode("overwrite").parquet(target_dir)
        return
    target = spark.read.parquet(target_dir)
    cols = target.columns
    u = u1.select(*[F.col(c).alias(f"__u_{c}") for c in cols])
    cond = [target[k] == u[f"__u_{k}"] for k in key_cols]
    joined = target.join(u, cond, "full_outer")
    # update wins iff the target row is absent, or the update's order
    # tuple is strictly greater (struct comparison is lexicographic)
    t_order = F.struct(*[F.col(c) for c in order_cols])
    u_order = F.struct(*[F.col(f"__u_{c}") for c in order_cols])
    update_wins = F.col(key_cols[0]).isNull() | (
        F.col(f"__u_{key_cols[0]}").isNotNull() & (u_order > t_order)
    )
    merged = joined.select(
        *[
            F.when(update_wins, F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c)
            for c in cols
        ]
    )
    out = merged.localCheckpoint(eager=True)
    out.write.mode("overwrite").parquet(target_dir)


def merge_additive_parquet(
    spark: SparkSession,
    target_dir: str,
    delta: DataFrame,
    key_cols: list[str],
    add_cols: list[str],
) -> None:
    """Merge an ADDITIVE partial-state delta (counts/sums keyed on the
    MV's group columns) into a stored aggregate table: full-outer join
    on the keys, null-coalesced addition of every state column —
    the incremental materialized-view refresh primitive. Cost is
    O(delta) + O(MV); history is never rescanned. Only associative,
    commutative states belong here (count, sum, min/max need
    coalesce-greatest variants); non-decomposable aggregates need a
    rewrite to partial states first.

    The key join is NULL-SAFE (``eqNullSafe``): a NULL group key (e.g.
    a NULL hour bucket from a NULL timestamp) is a legitimate MV group
    and must ACCUMULATE across batches — with plain ``==`` it would
    never match and every batch would append a fresh NULL-key row,
    silently breaking the "any batch slicing converges to the full
    recompute" contract for nullable key columns.

    The merged MV is staged beside the target and published with
    ``storage.promote``, carrying forward the applied-batch mark of
    ``merge_additive_once``. Not idempotent: a replay adds the delta
    again."""
    storage.heal(target_dir)
    _publish_merged(
        spark, target_dir, delta, key_cols, add_cols, _applied_batch(target_dir)
    )


def merge_additive_once(
    spark: SparkSession,
    target_dir: str,
    delta: DataFrame,
    key_cols: list[str],
    add_cols: list[str],
    batch_id: int,
) -> bool:
    """Replay-safe additive merge for foreachBatch. Returns True if
    the merge ran, False if the batch was already applied.

    The MV records the highest applied ``batch_id`` in
    ``_applied_batch.json`` inside its own dir (Spark's reader skips
    ``_`` files), and a batch at or below it is skipped: Delta's
    txnAppId/txnVersion rule, sound because foreachBatch ids only
    increase. The record is written into the staged MV before
    ``storage.promote``, so data and record publish in one rename;
    after a crash anywhere, ``storage.heal`` leaves either the old MV
    with the old record or the new MV with the new one."""
    storage.heal(target_dir)
    applied = _applied_batch(target_dir)
    if applied is not None and batch_id <= applied:
        return False
    _publish_merged(spark, target_dir, delta, key_cols, add_cols, batch_id)
    return True


def _applied_batch(target_dir: str) -> int | None:
    try:
        with open(os.path.join(target_dir, _APPLIED)) as f:
            return json.load(f)["batch_id"]
    except FileNotFoundError:
        return None


def _merged_additive(
    spark: SparkSession,
    target_dir: str,
    delta: DataFrame,
    key_cols: list[str],
    add_cols: list[str],
) -> DataFrame:
    """The merged-MV frame (or ``delta`` itself when no target exists
    yet)."""
    if not os.path.isdir(target_dir):
        return delta
    target = spark.read.parquet(target_dir)
    u = delta.select(*[F.col(c).alias(f"__u_{c}") for c in delta.columns])
    cond = [target[k].eqNullSafe(u[f"__u_{k}"]) for k in key_cols]
    joined = target.join(u, cond, "full_outer")
    # NULL-key groups match via eqNullSafe, but their key OUTPUT needs
    # care: coalesce(NULL, NULL) is the correct NULL key when both
    # sides carry it, and presence flags (count columns) distinguish
    # "row absent" from "key is NULL" below, so coalesce stays valid.
    out_cols = [
        F.coalesce(F.col(k), F.col(f"__u_{k}")).alias(k) for k in key_cols
    ]
    for c in add_cols:
        zero = F.lit(0).cast(target.schema[c].dataType)
        out_cols.append(
            (
                F.coalesce(F.col(c), zero) + F.coalesce(F.col(f"__u_{c}"), zero)
            ).alias(c)
        )
    return joined.select(*out_cols)


def _publish_merged(
    spark: SparkSession,
    target_dir: str,
    delta: DataFrame,
    key_cols: list[str],
    add_cols: list[str],
    batch_id: int | None,
) -> None:
    """Stage the merged MV with its applied-batch record, then promote."""
    staged = target_dir + storage.BUILDING
    _merged_additive(spark, target_dir, delta, key_cols, add_cols).write.mode(
        "overwrite"
    ).parquet(staged)
    if batch_id is not None:
        storage.write_atomic(
            os.path.join(staged, _APPLIED), json.dumps({"batch_id": batch_id})
        )
    storage.promote(target_dir, staged)
