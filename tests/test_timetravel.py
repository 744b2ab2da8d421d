"""operators/timetravel.py: version-log commit protocol, AS-OF reads,
crash-safety of the publish point, and vacuum retention."""

from __future__ import annotations

import json
import os

import pytest

from free_etl_spark.operators.timetravel import (
    commit_version,
    files_as_of,
    latest_version,
    read_version,
    vacuum,
)


def _ids(spark, table, v=None):
    return sorted(
        r.id for r in read_version(spark, str(table), v).select("id").collect()
    )


def test_append_overwrite_asof(spark, tmp_path):
    t = tmp_path / "tbl"
    assert latest_version(str(t)) == 0
    v1 = commit_version(spark, str(t), spark.range(0, 3), "overwrite")
    v2 = commit_version(spark, str(t), spark.range(10, 12), "append")
    v3 = commit_version(spark, str(t), spark.range(100, 101), "overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert _ids(spark, t, 1) == [0, 1, 2]
    assert _ids(spark, t, 2) == [0, 1, 2, 10, 11]  # append sees v1
    assert _ids(spark, t, 3) == [100]  # overwrite resets
    assert _ids(spark, t) == [100]  # default = latest
    assert latest_version(str(t)) == 3


def test_unpublished_data_is_invisible(spark, tmp_path):
    """Crash between data write and log publish: the orphan directory
    must not appear in any read (write-then-publish protocol)."""
    t = tmp_path / "tbl"
    commit_version(spark, str(t), spark.range(0, 2), "overwrite")
    # simulate the crash: data for v2 lands, log entry never written
    spark.range(50, 60).write.parquet(str(t / "v2"))
    assert _ids(spark, t) == [0, 1]
    assert latest_version(str(t)) == 1
    # recovery: the next commit sweeps the never-published orphan
    # (invisible by the protocol, so removal is safe) instead of
    # colliding with it forever; none of the orphan's rows leak into
    # the committed version
    v = commit_version(spark, str(t), spark.range(7, 8), "append")
    assert v == 2
    assert _ids(spark, t) == [0, 1, 7]


def test_vacuum_retention(spark, tmp_path):
    t = tmp_path / "tbl"
    commit_version(spark, str(t), spark.range(0, 2), "overwrite")
    commit_version(spark, str(t), spark.range(10, 12), "append")
    commit_version(spark, str(t), spark.range(100, 102), "overwrite")
    commit_version(spark, str(t), spark.range(200, 202), "append")
    removed = vacuum(str(t), keep_from_version=3)
    assert removed  # v1+v2 files gone
    # survivors intact, history before the overwrite is gone
    assert _ids(spark, t, 3) == [100, 101]
    assert _ids(spark, t) == [100, 101, 200, 201]
    with pytest.raises(ValueError):
        read_version(spark, str(t), 1)
    logs = sorted(
        f
        for f in os.listdir(t / "_log")
        if f.endswith(".json") and not f.endswith(".checkpoint.json")
    )
    assert [json.load(open(t / "_log" / f))["version"] for f in logs] == [3, 4]


def test_vacuum_refuses_to_strand_appends(spark, tmp_path):
    """keep_from pointing AT an append must widen back to the prior
    overwrite (the append's visible set includes older files)."""
    t = tmp_path / "tbl"
    commit_version(spark, str(t), spark.range(0, 2), "overwrite")
    commit_version(spark, str(t), spark.range(10, 12), "append")
    vacuum(str(t), keep_from_version=2)  # widens to 1 -> no-op
    assert _ids(spark, t, 2) == [0, 1, 10, 11]


# ---- r14: checkpointed replay, timestamp AS-OF, OCC, schema-in-log ----


def test_checkpointed_replay_is_o1_plus_suffix(spark, tmp_path):
    """With checkpoint_interval=4 and 10 commits, resolving the latest
    version must open the checkpoint + the suffix entries after it —
    NOT all 10 manifests (VERDICT r13 task 1). plan_read reports the
    JSON-open count."""
    from free_etl_spark.operators.timetravel import plan_read

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.range(0, 2), "overwrite",
                   checkpoint_interval=4)
    for i in range(1, 10):
        commit_version(spark, t, spark.range(10 * i, 10 * i + 2), "append",
                       checkpoint_interval=4)
    assert latest_version(t) == 10
    plan = plan_read(t)
    # checkpoint at v8 + entries 9, 10 = 3 reads (vs 10 for full replay)
    assert plan["n_log_reads"] == 3
    assert len(plan["files"]) > 0
    # values through the checkpointed path == values through a fresh
    # uncheckpointed table with the same commits
    ids = sorted(r.id for r in read_version(spark, t).collect())
    assert ids == sorted(
        list(range(0, 2)) + [x for i in range(1, 10) for x in (10 * i, 10 * i + 1)]
    )
    # historical AS-OF below the checkpoint still resolves correctly
    assert _ids(spark, tmp_path / "tbl", 2) == [0, 1, 10, 11]


def test_timestamp_as_of(spark, tmp_path):
    """read_version(timestamp=...) resolves the newest version whose
    commit_ts <= the bound; a bound before all commits raises."""
    import pytest as _pytest

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.range(0, 2), "overwrite",
                   commit_ts="2026-01-01T00:00:00", checkpoint_interval=2)
    commit_version(spark, t, spark.range(10, 12), "append",
                   commit_ts="2026-01-02T00:00:00", checkpoint_interval=2)
    commit_version(spark, t, spark.range(100, 101), "overwrite",
                   commit_ts="2026-01-03T00:00:00", checkpoint_interval=2)
    get = lambda ts: sorted(
        r.id for r in read_version(spark, t, timestamp=ts).collect()
    )
    assert get("2026-01-01T12:00:00") == [0, 1]        # between v1 and v2
    assert get("2026-01-02T00:00:00") == [0, 1, 10, 11]  # exactly v2
    assert get("2026-12-31T00:00:00") == [100]          # after everything
    with _pytest.raises(ValueError):
        read_version(spark, t, timestamp="2025-01-01T00:00:00")
    with _pytest.raises(ValueError):
        read_version(spark, t, version=1, timestamp="2026-01-02T00:00:00")


def test_concurrent_appends_linearize(spark, tmp_path):
    """Two threads appending concurrently: both commits land with
    linearized versions {2, 3} and the final read equals the union
    (VERDICT r13 task 2)."""
    import threading

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.range(0, 2), "overwrite")
    versions = []
    errors = []

    def worker(lo):
        try:
            versions.append(
                commit_version(spark, t, spark.range(lo, lo + 3), "append")
            )
        except Exception as e:  # pragma: no cover - fail loudly below
            errors.append(e)

    th = [threading.Thread(target=worker, args=(lo,)) for lo in (100, 200)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert errors == []
    assert sorted(versions) == [2, 3]
    assert _ids(spark, tmp_path / "tbl") == [0, 1, 100, 101, 102, 200, 201, 202]
    # each intermediate version is a consistent snapshot: v2 contains
    # the base plus exactly ONE of the two batches
    v2 = set(_ids(spark, tmp_path / "tbl", 2))
    assert v2 in (
        {0, 1, 100, 101, 102},
        {0, 1, 200, 201, 202},
    )


def test_overwrite_conflict_is_typed(spark, tmp_path, monkeypatch):
    """An overwrite that loses the race (another commit published
    between its observe and its publish) must raise CommitConflict —
    never linearize after the unseen commit (lost update) and never
    leak a raw filesystem/AnalysisException (VERDICT r13 task 2)."""
    import pytest as _pytest

    import free_etl_spark.operators.timetravel as tt

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.range(0, 2), "overwrite")
    # a racing writer publishes version 2 "between" our observe and
    # publish: pre-create its entry, and make OUR observe see the
    # pre-race tail (version 1)
    import json as _json
    import os as _os

    racing = {"version": 2, "op": "append", "files": []}
    with open(_os.path.join(tt._log_dir(t), "00000002.json"), "x") as f:
        _json.dump(racing, f)
    real = tt.latest_version
    calls = {"n": 0}

    def stale_first_read(td):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(td)

    monkeypatch.setattr(tt, "latest_version", stale_first_read)
    with _pytest.raises(tt.CommitConflict):
        commit_version(spark, t, spark.range(50, 52), "overwrite")
    monkeypatch.setattr(tt, "latest_version", real)
    # an append in the same situation rebases cleanly to version 3
    v = commit_version(spark, t, spark.range(70, 71), "append")
    assert v == 3
    assert 70 in _ids(spark, tmp_path / "tbl")


def test_schema_travels_with_version(spark, tmp_path):
    """A column added in v2 must be ABSENT from an AS-OF v1 read and
    NULL-backfilled over v1's files at v2 — driven by the RECORDED
    schema, not parquet footer luck (VERDICT r13 task 7)."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.range(0, 3), "overwrite")
    evolved = spark.range(10, 12).withColumn("tag", F.lit("new"))
    commit_version(spark, t, evolved, "append")
    v1 = read_version(spark, t, 1)
    assert v1.columns == ["id"]
    v2 = read_version(spark, t, 2)
    assert v2.columns == ["id", "tag"]
    rows = {r.id: r.tag for r in v2.collect()}
    assert rows == {0: None, 1: None, 2: None, 10: "new", 11: "new"}


def test_vacuum_sweeps_orphans_and_keeps_checkpoints_sane(spark, tmp_path):
    """sweep_orphans removes unpublished crash leftovers; vacuum
    rewrites the retention-floor checkpoint so post-vacuum reads
    resolve without the deleted entries."""
    import os as _os

    from free_etl_spark.operators.timetravel import plan_read

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.range(0, 2), "overwrite")
    commit_version(spark, t, spark.range(10, 12), "append")
    commit_version(spark, t, spark.range(100, 102), "overwrite")
    # unpublished orphan (crash between data write and publish)
    spark.range(500, 510).write.parquet(str(tmp_path / "tbl" / "d-deadbeef"))
    removed = vacuum(t, keep_from_version=3, sweep_orphans=True)
    assert any("d-deadbeef" in p for p in removed)
    assert not _os.path.isdir(tmp_path / "tbl" / "d-deadbeef")
    assert _ids(spark, tmp_path / "tbl") == [100, 101]
    # the post-vacuum checkpoint makes resolution O(1)
    assert plan_read(t)["n_log_reads"] == 1


def _hand_made_log(t, n=40):
    log = os.path.join(t, "_log")
    os.makedirs(log)
    for v in range(1, n + 1):
        with open(os.path.join(log, f"{v:08d}.json"), "w") as f:
            json.dump(
                {"version": v, "op": "append", "files": [f"d-{v}/p.parquet"],
                 "commit_ts": v},
                f,
            )
    return log


def _run_threads(targets):
    import sys
    import threading

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fn) for fn in targets]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        sys.setswitchinterval(old)


def test_concurrent_checkpoints_never_collide(tmp_path):
    """Overlapping write_checkpoint calls on one table each stage their
    checkpoint through their own temp file: none raises, and every
    checkpoint a concurrent reader lists parses whole. commit_version
    checkpoints after its publish has succeeded, so an error here
    would read as a failed commit to a retrying caller."""
    import threading

    from free_etl_spark.operators.timetravel import write_checkpoint

    t = str(tmp_path / "tbl")
    log = _hand_made_log(t)
    versions = (10, 20, 30, 40)
    write_checkpoint(t, 10)
    errors: list[BaseException] = []
    seen: set = set()
    done = threading.Event()

    def writers():
        _run_threads([lambda v=v: write_checkpoint_300(v) for v in versions])
        done.set()

    def write_checkpoint_300(v):
        try:
            for _ in range(300):
                write_checkpoint(t, v)
        except BaseException as e:  # noqa: BLE001 - collected and asserted
            errors.append(e)

    def reader():
        while not done.is_set():
            try:
                for n in os.listdir(log):
                    if n.endswith(".checkpoint.json"):
                        with open(os.path.join(log, n)) as f:
                            seen.add(json.load(f)["version"])
            except BaseException as e:  # noqa: BLE001 - collected and asserted
                errors.append(e)

    _run_threads([reader, writers])
    assert not errors, f"{len(errors)} errors, first: {errors[0]!r}"
    assert seen and seen <= set(versions)
    assert not [n for n in os.listdir(log) if n.endswith(".tmp")]


def test_latest_read_uses_newest_checkpoint_after_concurrent_checkpoints(tmp_path):
    """Four threads checkpoint versions 10/20/30/40 of a 40-entry log;
    whichever finishes last, a latest read opens the version-40
    checkpoint alone. A pointer file repointed by each call ended
    below 40 in most trials, and the read then replayed every entry
    after it."""
    from free_etl_spark.operators.timetravel import plan_read, write_checkpoint

    for trial in range(20):
        t = str(tmp_path / f"tbl{trial}")
        _hand_made_log(t)
        _run_threads([lambda v=v: write_checkpoint(t, v) for v in (40, 30, 20, 10)])
        assert plan_read(t)["n_log_reads"] == 1, f"trial {trial}"


def test_crashed_publish_leaves_table_readable(spark, tmp_path, monkeypatch):
    """A commit that dies after its log entry's file is created but
    before its bytes are written must not publish a version: the table
    still reads at the old version, and the next commit takes the
    version the crashed one did not."""
    import builtins

    t = str(tmp_path / "tbl")
    commit_version(spark, t, spark.range(0, 3), "overwrite")
    real_open = builtins.open

    class Crash(RuntimeError):
        pass

    def crashing_open(file, mode="r", *a, **kw):
        f = real_open(file, mode, *a, **kw)
        if "x" in mode:
            f.close()
            raise Crash(f"after creating {file}")
        return f

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", crashing_open)
        with pytest.raises(Crash):
            commit_version(spark, t, spark.range(10, 12), "append")
    assert latest_version(t) == 1
    assert _ids(spark, t) == [0, 1, 2]
    assert commit_version(spark, t, spark.range(20, 22), "append") == 2
    assert _ids(spark, t) == [0, 1, 2, 20, 21]
