"""free_etl_spark/cache.py: the one session cache must serve fresh rows
after a source is rewritten in place, and must let a dropped session's
entries and blocks go."""

from __future__ import annotations

import gc
import time

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from free_etl_spark import cache
from free_etl_spark.queries import ORACLES, QUERIES
from free_etl_spark.tables import load_table
from tests.conftest import SF_DIR


def _stored_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _wait_released(spark, ids: set, timeout: float = 30.0) -> set:
    """The ids still stored once ``timeout`` passes (unpersist(False)
    and the release thread free blocks asynchronously)."""
    end = time.time() + timeout
    while (left := _stored_ids(spark) & ids) and time.time() < end:
        time.sleep(0.2)
    return left


def _write_docs(path: str, n_copies: int) -> None:
    """40 documents of the test corpus plus ``n_copies`` exact copies
    under new ids, written by pandas as one file, as an outside writer
    would rewrite a table in place."""
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet").head(40)
    copies = docs.head(n_copies).assign(doc_id=lambda d: d["doc_id"] + 1000)
    pd.concat([docs, copies], ignore_index=True).to_parquet(path, index=False)


def _oracle_rows(sf_dir: str, name: str) -> list:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return _rows(con.execute(ORACLES[name]).df())


def _rows(df: pd.DataFrame) -> list:
    df = df[sorted(df.columns)]
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in df.itertuples(index=False)
    )


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",  # cache.relation (shingles, capped pairs)
        "text_bpe_encode",  # cache.memo (BPE fit, checkpointed vocab)
        "text_vocab_coverage",  # cache.by_plan (ordered_prefix)
        "streaming_audio_fingerprint_probe",  # cache.memo (stream plan)
    ],
)
def test_rewrite_in_place_serves_fresh_rows(spark, tmp_path, name):
    """A source rewritten in place within the session (same path, new
    rows, written outside Spark) must be read fresh by every consumer:
    a same-key entry is released before its rebuild, or Spark's
    CacheManager matches the new scan to the old blocks. The blocks of
    the superseded entries are freed too."""
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/documents.parquet"
    _write_docs(path, 0)
    before = _stored_ids(spark)
    first = _rows(QUERIES[name](spark, sf_dir).toPandas())
    assert first == _oracle_rows(sf_dir, name)
    built = _stored_ids(spark) - before
    time.sleep(0.05)  # a distinct mtime even on a coarse clock
    _write_docs(path, 25)
    try:
        got = _rows(QUERIES[name](spark, sf_dir).toPandas())
        want = _oracle_rows(sf_dir, name)
        assert want != first, "the rewrite must change the answer"
        assert got == want
        # the superseded entries' blocks (persists and the BPE fit's
        # checkpointed vocab) are freed
        assert not _wait_released(spark, built)
    finally:
        cache.clear(spark)


def test_dropped_session_leaves_no_entry(spark):
    """A session dropped after filling the cache leaves no entry, and
    the blocks it created (a persisted relation and the BPE fit's
    checkpointed vocab) are freed without any further cache call."""
    from free_etl_spark.queries.text import _BPE_TRAIN_ROUNDS, _bpe_fit

    gc.collect()
    sessions = len(cache._STORE)
    before = _stored_ids(spark)
    s = spark.newSession()
    rel = cache.relation(
        s,
        SF_DIR,
        "test_dropped_session",
        lambda: load_table(s, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.lit("dropped").alias("probe")),
    )
    assert rel.count() > 0
    _merges, vocab = _bpe_fit(s, SF_DIR, _BPE_TRAIN_ROUNDS)
    assert vocab.count() > 0
    created = _stored_ids(spark) - before
    assert created
    assert len(cache._STORE) == sessions + 1
    del s, rel, vocab, _merges
    # pyspark rebinds RDD.toDF to the newest session it constructs, so a
    # second session lets go of the first, as a new pass's session does
    spark.newSession()
    gc.collect()
    assert len(cache._STORE) == sessions
    left = _wait_released(spark, created)
    assert not left, f"blocks of the dropped session survived: {left}"


def test_dropped_session_keeps_equal_entries_of_live_sessions(spark):
    """Persists live in the engine-wide CacheManager, so a dropped
    session's relation and a live session's equal one are the same
    blocks: releasing the dropped one must not strip the live one (a
    benchmark pass drops the previous session after the next one has
    rebuilt its relations)."""

    def fill(s):
        return cache.relation(
            s,
            SF_DIR,
            "test_shared_plan",
            lambda: load_table(s, SF_DIR, "documents")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"), F.lit("shared").alias("probe")),
        )

    a = spark.newSession()
    assert fill(a).count() > 0
    b = spark.newSession()
    kept = fill(b)
    assert kept.count() > 0
    del a
    gc.collect()
    time.sleep(2)  # the release thread has run
    try:
        assert kept.storageLevel.useMemory
    finally:
        cache.clear(b)
    assert not kept.storageLevel.useMemory


def test_concurrent_lookups_keep_each_key_and_bound_the_slot():
    """More threads than cores look up one slot under changing keys with
    a short switch interval (the store is shared by intake's and soak's
    thread pools): each lookup returns the value built under its own
    key, and the slot ends with one live entry and at most one retired
    entry of another key, each holding its own key's value."""
    import sys
    import threading

    class Session:  # any weak-referenceable key stands in for a session
        pass

    sess, errors = Session(), []

    def worker(i: int) -> None:
        for j in range(300):
            key = (i + j) % 3
            got = cache.lookup(sess, "stress", key, lambda: ("v", key), lambda: [])
            if got != ("v", key):
                errors.append((key, got))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    live, retired = cache._STORE[sess]["stress"]
    assert live.value == ("v", live.key)
    if retired is not None:
        assert retired.key != live.key and retired.value == ("v", retired.key)
