"""Scale path: the §2A validate→normalize pipeline as Spark jobs
(SURVEY.md §3 "Spark-native lifecycle").

Driver-side work per file is bounded: a stat + a 4 KB head sample
(sniff + raw-header checks). Parsing and re-serialization run on
executors (vectorized CSV datasource, FAILFAST), so a 500 GB input
file works exactly like a 5 MB one — only ``single_file=True`` output
shape (reference parity: one object per input) forces a coalesce(1).

Local paths use plain ``open``; on a real cluster the same two probes
(length + head bytes) go through the Hadoop FileSystem API or
``boto3 get_object(Range=...)`` — the pipeline shape is unchanged.
"""

from __future__ import annotations

import glob as globmod
import os
import shutil
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from free_etl_spark.intake.config import AppConfig
from free_etl_spark.intake.sniff import (
    SNIFF_SAMPLE_CHARS,
    check_headers,
    detect_csv_delimiter,
    detect_encoding,
    raw_header_fields,
)
from free_etl_spark.intake.sinks import sanitize_stem


@dataclass
class SparkFileAudit:
    """Audit record for one input file on the scale path (the scale
    analogue of validate.FileCheck — data stays distributed, so no
    csv_bytes)."""

    path: str
    original_name: str
    issues: list[str] = field(default_factory=list)
    acceptable: bool = False
    row_count: int = 0
    col_count: int = 0
    delimiter: str = ","
    encoding: str = "UTF-8"


def _head_bytes(path: str, n: int = SNIFF_SAMPLE_CHARS) -> bytes:
    with open(path, "rb") as f:
        return f.read(n)


def _precheck_csv(path: str, cfg: AppConfig) -> SparkFileAudit:
    """Driver-side pre-checks for a CSV (size guard + sniff +
    raw-header checks) — everything validate_file decides BEFORE any
    Spark job. Issue strings match the reference exactly."""
    name = os.path.basename(path)
    audit = SparkFileAudit(path=path, original_name=name)
    size_mb = os.path.getsize(path) / (1024 * 1024)
    if size_mb > cfg.max_file_mb:
        audit.issues.append(
            f"File exceeds max size ({size_mb:.1f} MB > {cfg.max_file_mb} MB)."
        )
        return audit
    head = _head_bytes(path)
    audit.delimiter = detect_csv_delimiter(head)
    audit.encoding = detect_encoding(head)
    audit.issues.extend(
        check_headers(raw_header_fields(head, audit.delimiter))
    )
    return audit


_PARSE_ERR_MARKERS = (
    "Malformed",
    "FAILFAST",
    "BadRecord",
    "_corrupt_record",
    "MALFORMED_RECORD",
)


def _is_parse_failure(e: Exception) -> bool:
    """Classify a failed read/write job as a row-level parse error.

    Matching str(e) alone is fragile: Spark can wrap the FAILFAST
    parser error in layers whose own message carries no parse hint
    ('Job aborted', 'Task failed while writing rows'). So collect the
    error condition (PySpark 4 CapturedException.getCondition, e.g.
    MALFORMED_RECORD_IN_PARSING.*) and the JVM cause chain's class
    names + messages (BadRecordException sits a few causes deep), then
    scan the whole blob for the parse markers."""
    texts = [str(e)]
    getter = getattr(e, "getCondition", None) or getattr(
        e, "getErrorClass", None
    )
    if getter is not None:
        try:
            cond = getter()
            if cond:
                texts.append(cond)
        except Exception:
            pass
    try:
        je = e.java_exception  # type: ignore[attr-defined]
        for _ in range(10):
            if je is None:
                break
            texts.append(je.getClass().getName())
            texts.append(je.getMessage() or "")
            je = je.getCause()
    except Exception:
        pass
    blob = "\n".join(t for t in texts if t)
    return any(m in blob for m in _PARSE_ERR_MARKERS)


def validate_file(spark: SparkSession, path: str, cfg: AppConfig) -> tuple[SparkFileAudit, DataFrame | None]:
    """Validate one landing file; returns (audit, normalized DataFrame
    or None). Issue strings match the reference exactly
    (streamlit_app.py:156, 176, 178, 186-189)."""
    name = os.path.basename(path)
    audit = SparkFileAudit(path=path, original_name=name)

    size_mb = os.path.getsize(path) / (1024 * 1024)
    if size_mb > cfg.max_file_mb:
        audit.issues.append(
            f"File exceeds max size ({size_mb:.1f} MB > {cfg.max_file_mb} MB)."
        )

    if not name.lower().endswith(".csv"):
        if name.lower().endswith(".xlsx") and cfg.allow_xlsx:
            # XLSX on the scale path: driver-side openpyxl is correct
            # for parity because op #3 bounds size to max_file_mb
            # (SURVEY.md §7 hard-point 5). The size guard above
            # short-circuits BEFORE the driver reads an oversized file.
            if audit.issues:
                return audit, None
            from free_etl_spark.intake.validate import validate_and_normalize

            with open(path, "rb") as f:
                fc = validate_and_normalize(name, f.read(), cfg)
            audit.issues = fc.issues
            audit.row_count = fc.row_count
            audit.col_count = fc.col_count
            audit.acceptable = fc.acceptable
            # acceptable-but-empty: a header-only/empty workbook yields
            # acceptable=True with csv_bytes=b'' (reference parity — its
            # empty-df checks are dead code); there is nothing to
            # normalize, and pd.read_csv(b'') would raise
            if not fc.acceptable or not fc.csv_bytes:
                return audit, None
            import io

            import pandas as pd

            pdf = pd.read_csv(
                io.BytesIO(fc.csv_bytes), dtype=str, keep_default_na=False
            )
            return audit, spark.createDataFrame(pdf)
        audit.issues.append("Unsupported file type. Use CSV or XLSX.")
        return audit, None

    head = _head_bytes(path)
    audit.delimiter = detect_csv_delimiter(head)
    audit.encoding = detect_encoding(head)
    # raw-header checks BEFORE the DataFrame read — Spark renames blank
    # headers to _c<i> and errors on duplicates (SURVEY.md §2A #12-13)
    audit.issues.extend(check_headers(raw_header_fields(head, audit.delimiter)))

    df = None
    try:
        from pyspark import StorageLevel
        from pyspark.sql import Observation

        df = (
            spark.read.option("header", True)
            .option("sep", audit.delimiter)
            .option("encoding", audit.encoding)
            .option("inferSchema", False)
            .option("mode", "FAILFAST")  # ≅ pandas on_bad_lines="error"
            .csv(path)
            .na.fill("")  # ""-not-NULL invariant (SURVEY.md §1.4)
            # one parse total: the parse-check write below populates
            # the cache and the normalization write reads it back
            # instead of re-parsing the file
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # Full-width no-op write: the FAILFAST parse check. A pruned
        # scan (count(), or even count(concat_ws(all cols))) lets the
        # Univocity parser skip token-arity checking, so malformed rows
        # sail through — only a full-schema materialization trips it.
        # The row count piggybacks on the same job via an Observation
        # (no separate count action).
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        audit.row_count = int(obs.get["rows"])
        audit.col_count = len(df.columns)
    except Exception as e:
        first = str(e).splitlines()[0] if str(e) else repr(e)
        audit.issues.append(f"Failed to parse file: {first[:300]}")

    audit.acceptable = not audit.issues
    if not audit.acceptable and df is not None:
        # a rejected file's relation must not stay cached: Spark would
        # serve a later read of the same path from it
        df.unpersist()
        df = None
    return audit, df


def normalize_to_csv(df: DataFrame, out_dir: str, out_name: str, single_file: bool = True) -> str:
    """Write the normalized UTF-8 comma CSV. ``single_file=True``
    matches the reference's one-object-per-input shape (coalesce(1) +
    rename of the part file — SURVEY.md §4 "output layout");
    ``False`` keeps partitioned output for genuinely large files."""
    tmp = os.path.join(out_dir, f"_tmp_{out_name}")
    writer = (df.coalesce(1) if single_file else df).write.option("header", True).option(
        "emptyValue", ""
    ).option("lineSep", "\n").mode("overwrite")
    try:
        writer.csv(tmp)
        if not single_file:
            return tmp
        part = globmod.glob(os.path.join(tmp, "part-*.csv"))[0]
        dest = os.path.join(out_dir, out_name)
        shutil.move(part, dest)
    finally:
        if single_file and os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
    return dest


def ingest_directory(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    cfg: AppConfig,
    pattern: str = "*",
    max_concurrent_files: int = 8,
) -> tuple[list[SparkFileAudit], DataFrame]:
    """Validate every file in a landing directory, normalize the
    acceptable ones (one output object per input, sanitized name), and
    return (audits, audit DataFrame). Per-file error isolation: a
    failed file never aborts the batch (streamlit_app.py:177-178,
    310-311).

    Files run CONCURRENTLY (driver thread pool submitting independent
    Spark jobs — the FIFO scheduler interleaves their stages across
    executors): a batch of N uploads takes ~max(file) not ~sum(file),
    where the reference — and a serial loop — pays the full sum. Audit
    order stays deterministic (sorted by path)."""
    os.makedirs(out_dir, exist_ok=True)
    # CSV is a splittable source: drop the split size so a mid-size
    # file (e.g. 40 MB, below the 128 MB default) parses on many cores
    # instead of one. Restored after the batch.
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    try:
        audits = _ingest_files(
            spark,
            sorted(globmod.glob(os.path.join(landing_dir, pattern))),
            out_dir,
            cfg,
            max_concurrent_files,
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
    audit_df = spark.createDataFrame(
        [
            (a.original_name, a.issues, a.acceptable, a.row_count, a.col_count, a.delimiter, a.encoding)
            for a in audits
        ],
        "original_name string, issues array<string>, acceptable boolean, "
        "row_count long, col_count long, delimiter string, encoding string",
    )
    return audits, audit_df


def _ingest_files(
    spark: SparkSession,
    paths: list[str],
    out_dir: str,
    cfg: AppConfig,
    max_concurrent: int,
) -> list[SparkFileAudit]:
    from concurrent.futures import ThreadPoolExecutor

    def one_fused(path: str, audit: SparkFileAudit) -> SparkFileAudit:
        """Fast path for a CSV whose driver-side pre-checks passed:
        ONE executor pass — the FAILFAST parse check happens DURING
        the normalized-CSV write (a full-schema materialization, so
        the Univocity parser token-arity-checks every row exactly as
        the old separate parse-check write did), the row count rides
        the same job via an Observation, and nothing is persisted.
        The old shape (parse → MEMORY_AND_DISK cache → noop write →
        re-serialize from cache) paid a second full pass through the
        row cache; fusing removes it (measured ~1.5x on the 8-file
        intake bench). On failure the temp output dir is cleaned by
        normalize_to_csv's finally — a doomed file publishes
        nothing."""
        from pyspark.sql import Observation

        try:
            df = (
                spark.read.option("header", True)
                .option("sep", audit.delimiter)
                .option("encoding", audit.encoding)
                .option("inferSchema", False)
                .option("mode", "FAILFAST")
                .csv(path)
                .na.fill("")  # ""-not-NULL invariant (SURVEY.md §1.4)
            )
            obs = Observation()
            normalize_to_csv(
                df.observe(obs, F.count(F.lit(1)).alias("rows")),
                out_dir,
                sanitize_stem(audit.original_name) + ".csv",
            )
            audit.row_count = int(obs.get["rows"])
            audit.col_count = len(df.columns)
            audit.acceptable = True
        except Exception as e:  # per-file isolation
            first = str(e).splitlines()[0] if str(e) else repr(e)
            if _is_parse_failure(e):
                audit.issues.append(f"Failed to parse file: {first[:300]}")
            else:
                audit.issues.append(f"Failed to normalize to CSV: {first[:300]}")
            audit.acceptable = False
        return audit

    def one(path: str) -> SparkFileAudit:
        if path.lower().endswith(".csv"):
            audit = _precheck_csv(path, cfg)
            if not audit.issues:
                return one_fused(path, audit)
        # slow path: pre-check issues (audit still needs the parse-side
        # row counts validate_file records) or the XLSX/unsupported
        # branches — semantics identical to the per-file API
        audit, df = validate_file(spark, path, cfg)
        if df is not None:
            try:
                normalize_to_csv(
                    df, out_dir, sanitize_stem(audit.original_name) + ".csv"
                )
            except Exception as e:  # per-file isolation
                audit.issues.append(f"Failed to normalize to CSV: {e}")
                audit.acceptable = False
            finally:
                df.unpersist()  # cache lives only across validate+normalize
        return audit

    if len(paths) <= 1 or max_concurrent <= 1:
        return [one(p) for p in paths]
    with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
        # a wrapper per file: each carries a clone of the caller's job
        # group, description and tags onto the pool thread
        futures = [
            pool.submit(inheritable_thread_target(spark)(one), p) for p in paths
        ]
        return [f.result() for f in futures]
