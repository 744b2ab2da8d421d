"""Scale-path intake tests: directory ingest via Spark jobs —
delimiter normalization, FAILFAST parse isolation, raw-header checks,
""-not-NULL preservation, single-object output shape."""

from __future__ import annotations

import os

import pandas as pd

from free_etl_spark.intake.config import load_cfg
from free_etl_spark.intake.spark_intake import ingest_directory, validate_file

CFG = load_cfg({})


def write(p, body: bytes):
    with open(p, "wb") as f:
        f.write(body)


def test_ingest_directory_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    landing.mkdir()
    write(landing / "clean.csv", b"a,b,c\n1,2,\n3,,4\n")
    write(landing / "semi colon.csv", b"a;b\nx;1\ny;2\n")
    write(landing / "ragged.csv", b"a,b\n1,2\n1,2,3,4,5\n")
    write(landing / "blank_header.csv", b"a,,c\n1,2,3\n")
    write(landing / "notes.txt", b"not a csv")

    audits, audit_df = ingest_directory(spark, str(landing), str(out), CFG)
    by_name = {a.original_name: a for a in audits}

    assert by_name["clean.csv"].acceptable
    assert by_name["semi colon.csv"].acceptable
    assert by_name["semi colon.csv"].delimiter == ";"
    assert not by_name["ragged.csv"].acceptable
    assert any(
        i.startswith("Failed to parse file:") for i in by_name["ragged.csv"].issues
    )
    assert by_name["blank_header.csv"].issues == ["One or more column headers are blank."]
    assert by_name["notes.txt"].issues == ["Unsupported file type. Use CSV or XLSX."]

    # one sanitized output object per acceptable input (SURVEY §4)
    assert sorted(os.listdir(out)) == ["clean.csv", "semi_colon.csv"]
    # delimiter normalized to comma
    norm = pd.read_csv(out / "semi_colon.csv", dtype=str, keep_default_na=False)
    assert list(norm.columns) == ["a", "b"] and norm["a"].tolist() == ["x", "y"]
    # ""-not-NULL: empty cells survive as empty strings, no 'nan'/null text
    clean = pd.read_csv(out / "clean.csv", dtype=str, keep_default_na=False)
    assert clean["c"].tolist() == ["", "4"] and clean["b"].tolist() == ["2", ""]

    # audit DataFrame mirrors the per-file records
    rows = {r["original_name"]: r for r in audit_df.collect()}
    assert rows["clean.csv"]["acceptable"] is True
    assert rows["ragged.csv"]["acceptable"] is False
    assert rows["clean.csv"]["row_count"] == 2


def test_validate_file_duplicate_raw_header(spark, tmp_path):
    """Scale path checks the RAW header line, so duplicate headers ARE
    flagged — intended semantics (the reference's post-pandas check is
    defeated by mangling; SURVEY §7 'raw-header validation')."""
    p = tmp_path / "dup.csv"
    write(p, b"sku,sku,qty\n1,2,3\n")
    audit, df = validate_file(spark, str(p), CFG)
    assert "Duplicate column headers detected." in audit.issues
    assert df is None


def test_validate_file_rejected_file_leaves_nothing_cached(spark, tmp_path):
    """A file rejected for its raw header is still parsed for its audit;
    its persisted relation must be released, so a rewrite of the same
    path in place is read fresh, not served from Spark's cache."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    p = tmp_path / "dup.csv"
    write(p, b"sku,sku,qty\n1,2,3\n")
    audit, df = validate_file(spark, str(p), CFG)
    assert not audit.acceptable and df is None
    assert cache.numCachedEntries() == n_cached

    write(p, b"sku,price,qty\n4,5,6\n7,8,9\n")
    audit, df = validate_file(spark, str(p), CFG)
    assert audit.acceptable and audit.row_count == 2
    try:
        assert sorted(map(tuple, df.collect())) == [
            ("4", "5", "6"),
            ("7", "8", "9"),
        ]
    finally:
        df.unpersist()


def test_validate_file_latin1(spark, tmp_path):
    p = tmp_path / "latin1.csv"
    write(p, "name,city\nJosé,Bogotá\n".encode("latin-1"))
    audit, df = validate_file(spark, str(p), CFG)
    assert audit.acceptable and audit.encoding == "ISO-8859-1"
    assert df.collect()[0]["name"] == "José"


def test_oversize_guard(spark, tmp_path):
    cfg = load_cfg({"app": {"max_file_mb": 0}})
    p = tmp_path / "big.csv"
    write(p, b"a,b\n" + b"1,2\n" * 1000)
    audit, df = validate_file(spark, str(p), cfg)
    assert any(i.startswith("File exceeds max size (") for i in audit.issues)
    assert df is None


def test_validate_file_xlsx_scale_path(spark, tmp_path):
    """allow_xlsx routes bounded .xlsx through validate_and_normalize
    on the scale path (parity with streamlit_app.py:165-169)."""
    from tests.conftest import make_xlsx_bytes

    p = tmp_path / "book.xlsx"
    p.write_bytes(make_xlsx_bytes(pd.DataFrame({"a": ["1", "3"], "b": ["2", ""]})))
    audit, df = validate_file(spark, str(p), CFG)
    assert audit.acceptable and audit.issues == []
    assert audit.row_count == 2 and audit.col_count == 2
    rows = {tuple(r) for r in df.select("a", "b").collect()}
    assert rows == {("1", "2"), ("3", "")}

    cfg_no_xlsx = load_cfg({"app": {"allow_xlsx": False}})
    audit2, df2 = validate_file(spark, str(p), cfg_no_xlsx)
    assert df2 is None
    assert audit2.issues == ["Unsupported file type. Use CSV or XLSX."]


def test_parse_failure_classified_by_condition_not_message():
    """A FAILFAST error wrapped so its top-level message carries no
    parse marker ('Task failed while writing rows') must still be
    classified as a parse failure via the error condition / cause
    chain, and an unrelated failure must not be."""
    from free_etl_spark.intake.spark_intake import _is_parse_failure

    class Wrapped(Exception):
        def getCondition(self):
            return "MALFORMED_RECORD_IN_PARSING.WITHOUT_SUGGESTION"

    assert _is_parse_failure(Wrapped("Task failed while writing rows"))
    assert not _is_parse_failure(OSError("No space left on device"))


def test_ingest_directory_jobs_keep_caller_job_group(spark, tmp_path):
    """The file pool carries the caller's job group onto its threads:
    every file's normalize jobs are found under that group."""
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        write(landing / f"part{i}.csv", f"a,b\n{i},x\n{i + 1},y\n".encode())
    sc = spark.sparkContext
    group = f"intake-job-group-{tmp_path.name}"
    sc.setJobGroup(group, "")
    try:
        audits, _ = ingest_directory(spark, str(landing), str(tmp_path / "out"), CFG)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert all(a.acceptable for a in audits) and len(audits) == 3
    # at least one write job per file
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3
