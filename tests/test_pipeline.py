"""Incremental pipeline-runner tests (plans/pipeline.py): build-all →
skip-all, dirty-suffix rebuild on version bump, source-append
invalidation, crash-leftover tolerance, concurrent ready steps under
the caller's job group, failed-branch isolation, and value parity with
the direct computation."""

from __future__ import annotations

import dataclasses
import json
import os
import threading

import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from free_etl_spark.plans.pipeline import Step, run_pipeline
from free_etl_spark.tables import load_table
from tests.conftest import SF_DIR


def _steps(sf_dir: str, min_chars: int = 100):
    def load_docs(spark, inputs):
        return load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )

    def filtered(spark, inputs):
        return inputs["docs"].filter(F.col("n_chars") >= min_chars)

    def by_lang(spark, inputs):
        return (
            inputs["filtered"]
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("chars"),
            )
        )

    return [
        Step(
            "docs",
            load_docs,
            sources=[os.path.join(sf_dir, "documents.parquet")],
        ),
        Step("filtered", filtered, deps=["docs"], version=str(min_chars)),
        Step("by_lang", by_lang, deps=["filtered"]),
    ]


def test_pipeline_builds_then_skips(spark, tmp_path):
    lake = str(tmp_path / "lake")
    m1 = run_pipeline(spark, _steps(SF_DIR), lake)
    assert {v["action"] for v in m1.values()} == {"built"}
    m2 = run_pipeline(spark, _steps(SF_DIR), lake)
    assert {v["action"] for v in m2.values()} == {"skipped"}
    assert {k: v["signature"] for k, v in m1.items()} == {
        k: v["signature"] for k, v in m2.items()
    }


def test_pipeline_rebuilds_dirty_suffix_only(spark, tmp_path):
    lake = str(tmp_path / "lake")
    run_pipeline(spark, _steps(SF_DIR, min_chars=100), lake)
    m = run_pipeline(spark, _steps(SF_DIR, min_chars=200), lake)
    assert m["docs"]["action"] == "skipped"  # upstream untouched
    assert m["filtered"]["action"] == "built"  # version bumped
    assert m["by_lang"]["action"] == "built"  # dep signature changed


def test_pipeline_source_append_invalidates_root(spark, tmp_path):
    src = tmp_path / "src"
    load_table(spark, SF_DIR, "nation").write.parquet(str(src))

    def load_src(sp, inputs):
        return sp.read.parquet(str(src))

    def agg(sp, inputs):
        return inputs["src"].agg(F.count(F.lit(1)).alias("n"))

    steps = [
        Step("src", load_src, sources=[str(src)]),
        Step("agg", agg, deps=["src"]),
    ]
    lake = str(tmp_path / "lake")
    run_pipeline(spark, steps, lake)
    # append a file to the source table → fingerprint changes
    load_table(spark, SF_DIR, "nation").limit(2).write.mode("append").parquet(
        str(src)
    )
    m = run_pipeline(spark, steps, lake)
    assert m["src"]["action"] == "built"
    assert m["agg"]["action"] == "built"


def test_pipeline_tolerates_crashed_build_leftover(spark, tmp_path):
    lake = str(tmp_path / "lake")
    steps = _steps(SF_DIR)
    run_pipeline(spark, steps, lake)
    # simulate a crash mid-build of a later run: stale temp dir exists
    os.makedirs(os.path.join(lake, "filtered__building", "junk"), exist_ok=True)
    m = run_pipeline(spark, _steps(SF_DIR, min_chars=300), lake)
    assert m["filtered"]["action"] == "built"
    assert not os.path.exists(os.path.join(lake, "filtered__building"))


def test_pipeline_final_table_matches_direct(spark, tmp_path):
    lake = str(tmp_path / "lake")
    run_pipeline(spark, _steps(SF_DIR), lake)
    got = sorted(
        map(tuple, spark.read.parquet(os.path.join(lake, "by_lang")).collect())
    )
    direct = sorted(
        map(
            tuple,
            load_table(spark, SF_DIR, "documents")
            .filter(F.col("n_chars") >= 100)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("chars"),
            )
            .collect(),
        )
    )
    assert got == direct and len(got) > 0


def test_pipeline_missing_source_raises(spark, tmp_path):
    """A typo'd source path must fail loudly — hashing the empty
    listing of a nonexistent dir would build once and then never
    invalidate (ADVICE r11)."""
    import pytest

    def build(spark_, inputs):
        return load_table(spark_, SF_DIR, "region")

    step = Step("r", build, sources=[str(tmp_path / "no_such_table")])
    with pytest.raises(FileNotFoundError):
        run_pipeline(spark, [step], str(tmp_path / "lake"))


def test_pipeline_crash_between_steps_recovers(spark, tmp_path):
    """Crash-recovery matrix for the runner (VERDICT r11 task 6):
    (a) a run that dies BETWEEN steps (prefix built+stamped, suffix
    never ran) resumes with the prefix skipped and the suffix built;
    (b) a crash after the stage write but before promote (stranded
    ``__building``) is swept and never read; (c) a crash between the
    two promote renames (live dir missing, ``__retired`` holds the
    old build) rebuilds the step and sweeps the debris. Every path
    ends at the same final values as the direct computation."""
    import shutil

    import pytest

    lake = str(tmp_path / "lake")
    boom = {"armed": True}

    def _steps_with_bomb():
        steps = _steps(SF_DIR)

        def exploding_by_lang(sp, inputs):
            if boom["armed"]:
                raise RuntimeError("simulated crash between steps")
            return steps[2].build(sp, inputs)

        return [
            steps[0],
            steps[1],
            Step("by_lang", exploding_by_lang, deps=["filtered"]),
        ]

    # (a) die between steps: docs+filtered stamped, by_lang never ran
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, _steps_with_bomb(), lake)
    assert os.path.exists(os.path.join(lake, "filtered", "_meta.json"))
    assert not os.path.exists(os.path.join(lake, "by_lang"))
    boom["armed"] = False
    m = run_pipeline(spark, _steps_with_bomb(), lake)
    assert m["docs"]["action"] == "skipped"
    assert m["filtered"]["action"] == "skipped"
    assert m["by_lang"]["action"] == "built"

    direct = {
        r["lang"]: (r["n_docs"], r["chars"])
        for r in spark.read.parquet(os.path.join(lake, "by_lang")).collect()
    }

    # (b) stranded __building beside a CURRENT step: swept, not read
    junk = os.path.join(lake, "by_lang__building")
    os.makedirs(junk)
    open(os.path.join(junk, "junk.parquet"), "w").close()
    m = run_pipeline(spark, _steps_with_bomb(), lake)
    assert m["by_lang"]["action"] == "skipped"
    assert not os.path.exists(junk)

    # (c) crash between the promote renames: live gone, retired holds
    # the old build — missing _meta forces a rebuild, debris is swept
    os.rename(
        os.path.join(lake, "by_lang"), os.path.join(lake, "by_lang__retired")
    )
    m = run_pipeline(spark, _steps_with_bomb(), lake)
    assert m["by_lang"]["action"] == "built"
    assert not os.path.exists(os.path.join(lake, "by_lang__retired"))
    got = {
        r["lang"]: (r["n_docs"], r["chars"])
        for r in spark.read.parquet(os.path.join(lake, "by_lang")).collect()
    }
    assert got == direct


def _meta(lake: str, step: str) -> dict:
    with open(os.path.join(lake, step, "_meta.json")) as f:
        return json.load(f)


def test_pipeline_rows_and_schema_recorded_at_write(spark, tmp_path):
    """Each built step's manifest ``rows`` (observed on the write) equals
    a count of what was written — a zero-row build included, which must
    report 0 rather than block on the observation — and its
    ``_meta.json`` schema round-trips through ``StructType.fromJson`` to
    the schema the written parquet reads back with."""
    lake = str(tmp_path / "lake")
    steps = _steps(SF_DIR) + [
        Step(
            "none",
            lambda sp, inputs: inputs["docs"].filter(F.col("n_chars") < 0),
            deps=["docs"],
        )
    ]
    m = run_pipeline(spark, steps, lake)
    assert m["none"]["rows"] == 0
    for step, rec in m.items():
        assert rec["action"] == "built"
        written = spark.read.parquet(os.path.join(lake, step))
        assert rec["rows"] == written.count()
        meta = _meta(lake, step)
        assert meta["rows"] == rec["rows"]
        schema = StructType.fromJson(meta["schema"])
        assert schema.jsonValue() == meta["schema"]
        assert [(f.name, f.dataType) for f in schema] == [
            (f.name, f.dataType) for f in written.schema
        ]
    assert m["docs"]["rows"] > m["filtered"]["rows"] > 0


def test_pipeline_reads_lake_without_recorded_schema(spark, tmp_path):
    """A lake whose ``_meta.json`` files carry no ``schema`` (stamped
    before schemas were recorded) stays valid: clean steps still skip,
    a dirty step reads its deps by schema inference, and the rebuilt
    output is unchanged."""
    lake = str(tmp_path / "lake")
    run_pipeline(spark, _steps(SF_DIR), lake)
    before = sorted(
        map(tuple, spark.read.parquet(os.path.join(lake, "by_lang")).collect())
    )
    for step in ("docs", "filtered", "by_lang"):
        meta = _meta(lake, step)
        del meta["schema"]
        with open(os.path.join(lake, step, "_meta.json"), "w") as f:
            json.dump(meta, f)

    steps = _steps(SF_DIR)
    steps[2] = dataclasses.replace(steps[2], version="2")
    m = run_pipeline(spark, steps, lake)
    assert m["docs"]["action"] == "skipped"
    assert m["filtered"]["action"] == "skipped"
    assert m["by_lang"]["action"] == "built"
    assert m["by_lang"]["rows"] == len(before)
    after = sorted(
        map(tuple, spark.read.parquet(os.path.join(lake, "by_lang")).collect())
    )
    assert after == before
    assert "schema" in _meta(lake, "by_lang")


def test_pipeline_job_count_guard(spark, tmp_path):
    """A fresh 3-step build runs only its steps' own jobs: no count job
    or footer-inference read per step. 5 jobs measured: the documents
    source read infers its schema (1), docs and filtered write (1 each),
    and by_lang's aggregate writes after a shuffle (2). Counting rows
    by re-reading each output and reading deps by schema inference
    measured 16."""
    sc = spark.sparkContext
    group = f"pipeline-job-guard-{tmp_path.name}"
    sc.setJobGroup(group, "")
    try:
        run_pipeline(spark, _steps(SF_DIR), str(tmp_path / "lake"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # the floor keeps the guard honest: pool-thread jobs that lost the
    # caller's group would count 0 and pass the ceiling vacuously
    assert 3 <= len(jobs) <= 5, f"{len(jobs)} jobs for a 3-step build"


def _grouped_leaf(name: str, barrier: threading.Barrier, seen: dict):
    """A leaf over ``docs`` that waits at ``barrier`` (which breaks
    unless its sibling leaf is building at the same time) and runs its
    write under its own job group."""

    def build(sp, inputs):
        barrier.wait()
        sc = sp.sparkContext
        seen[name] = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{seen[name]}:{name}", "")
        return inputs["docs"].filter(F.col("n_chars") % 2 == int(name == "odd"))

    return build


def test_pipeline_runs_ready_steps_concurrently(spark, tmp_path):
    """Two independent leaves build at the same time (a serial runner
    breaks their barrier), each step inherits the caller's job group,
    a leaf that sets its own group keeps its jobs apart from its
    sibling's, and the manifest comes back in topo order."""
    sc = spark.sparkContext
    group = f"pipeline-concurrent-{tmp_path.name}"
    barrier = threading.Barrier(2, timeout=60)
    seen: dict[str, str] = {}

    def join(sp, inputs):
        seen["join"] = sp.sparkContext.getLocalProperty("spark.jobGroup.id")
        return inputs["even"].unionByName(inputs["odd"])

    docs = _steps(SF_DIR)[0]
    steps = [
        Step("join", join, deps=["even", "odd"]),
        Step("even", _grouped_leaf("even", barrier, seen), deps=["docs"]),
        Step("odd", _grouped_leaf("odd", barrier, seen), deps=["docs"]),
        docs,
    ]
    sc.setJobGroup(group, "")
    try:
        m = run_pipeline(spark, steps, str(tmp_path / "lake"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(m) == ["docs", "even", "odd", "join"]
    assert {v["action"] for v in m.values()} == {"built"}
    assert m["join"]["rows"] == m["docs"]["rows"]
    assert seen == {"even": group, "odd": group, "join": group}
    tracker = sc.statusTracker()
    even = set(tracker.getJobIdsForGroup(f"{group}:even"))
    odd = set(tracker.getJobIdsForGroup(f"{group}:odd"))
    assert even and odd and not (even & odd)
    assert tracker.getJobIdsForGroup(group)  # docs' and join's writes


def test_pipeline_failed_branch_isolated(spark, tmp_path):
    """A branch that raises stops the run from starting anything
    downstream of it, while its sibling (already in flight) finishes
    and is promoted; the error propagates, and the next run skips the
    sibling and builds only the failed step and its suffix."""
    import pytest

    lake = str(tmp_path / "lake")
    started: list[str] = []
    boom = {"armed": True}

    def logged(name, build):
        def wrapped(sp, inputs):
            started.append(name)
            return build(sp, inputs)

        return wrapped

    def bad(sp, inputs):
        if boom["armed"]:
            raise RuntimeError("simulated branch failure")
        return inputs["docs"].filter(F.col("n_chars") < 100)

    def good(sp, inputs):
        return inputs["docs"].filter(F.col("n_chars") >= 100)

    def steps():
        return [
            _steps(SF_DIR)[0],
            Step("bad", logged("bad", bad), deps=["docs"]),
            Step("good", logged("good", good), deps=["docs"]),
            Step(
                "after_bad",
                logged("after_bad", lambda sp, i: i["bad"]),
                deps=["bad"],
            ),
            Step(
                "join",
                logged("join", lambda sp, i: i["good"].unionByName(i["bad"])),
                deps=["good", "bad"],
            ),
        ]

    with pytest.raises(RuntimeError, match="simulated branch failure"):
        run_pipeline(spark, steps(), lake)
    assert sorted(started) == ["bad", "good"]
    assert _meta(lake, "good")["rows"] > 0
    for step in ("bad", "after_bad", "join"):
        assert not os.path.exists(os.path.join(lake, step))

    boom["armed"] = False
    started.clear()
    m = run_pipeline(spark, steps(), lake)
    assert {k: v["action"] for k, v in m.items()} == {
        "docs": "skipped",
        "bad": "built",
        "good": "skipped",
        "after_bad": "built",
        "join": "built",
    }
    assert sorted(started) == ["after_bad", "bad", "join"]
    assert m["join"]["rows"] == _meta(lake, "good")["rows"] + m["bad"]["rows"]


# ── partition-grain backfill (run_partitioned_step) ─────────────────


def _part_src(spark, path: str):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 4).cast("int").alias("pk")
    )
    docs.write.partitionBy("pk").parquet(path)
    return docs


def _part_build(sp, inp):
    return inp.groupBy("pk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


def _listing(root: str) -> dict:
    out = {}
    for r, _d, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def test_partitioned_step_rebuilds_only_dirty_partition(spark, tmp_path):
    from free_etl_spark.plans.pipeline import run_partitioned_step

    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    docs = _part_src(spark, src)
    m1 = run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    assert sorted(m1["rebuilt"]) == [f"pk={i}" for i in range(4)]

    clean_before = {
        d: _listing(os.path.join(lake, "agg", d))
        for d in ("pk=0", "pk=2", "pk=3")
    }
    # late data lands in pk=1 only
    docs.filter(F.col("pk") == 1).limit(7).drop("pk").write.mode(
        "append"
    ).parquet(os.path.join(src, "pk=1"))
    m2 = run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    assert m2 == {
        "rebuilt": ["pk=1"],
        "skipped": ["pk=0", "pk=2", "pk=3"],
    }
    # clean partitions' files are PHYSICALLY untouched
    for d, before in clean_before.items():
        assert _listing(os.path.join(lake, "agg", d)) == before
    # the rebuilt leaf equals a direct recompute over the source
    got = {
        (r["pk"], r["n"])
        for r in spark.read.parquet(os.path.join(lake, "agg")).collect()
    }
    want = {
        (r["pk"], r["n"])
        for r in _part_build(
            spark, spark.read.parquet(src)
        ).collect()
    }
    assert got == want


def test_partitioned_step_crash_recovery_matrix(spark, tmp_path):
    """Kill windows: (a) staged-but-unpromoted __building; (b) between
    per-partition promote renames (live dir missing); (c) pre-stamp
    (_parts.json stale). Every window must recover to the exact
    direct-recompute answer on the next run."""
    from free_etl_spark.plans.pipeline import run_partitioned_step

    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    _part_src(spark, src)
    run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    out = os.path.join(lake, "agg")

    # (a) stranded staging dir from a crashed build
    os.makedirs(out + "__building/pk=9", exist_ok=True)
    open(out + "__building/pk=9/part-junk.parquet", "w").write("junk")
    # (b) a promote crash: live partition dir renamed aside, gone
    os.rename(
        os.path.join(out, "pk=2"), os.path.join(out, "pk=2__retired")
    )
    # (c) stamp rolled back: signatures claim everything is clean
    m = run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    assert m["rebuilt"] == ["pk=2"]  # missing dir => dirty despite stamp
    assert not os.path.exists(out + "__building")
    assert not os.path.exists(os.path.join(out, "pk=2__retired"))
    got = {
        (r["pk"], r["n"], r["chars"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["pk"], r["n"], r["chars"])
        for r in _part_build(spark, spark.read.parquet(src)).collect()
    }
    assert got == want


def test_partitioned_step_drops_vanished_source_partition(spark, tmp_path):
    """Retention deletes a whole source partition: the next run must
    remove its materialized output partition (and its stamp) while
    leaving every surviving partition untouched, and the lake must
    equal a direct recompute over the surviving source."""
    import shutil

    from free_etl_spark.plans.pipeline import run_partitioned_step

    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    _part_src(spark, src)
    run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    out = os.path.join(lake, "agg")
    keep_before = _listing(os.path.join(out, "pk=0"))

    shutil.rmtree(os.path.join(src, "pk=3"))  # retention drop
    m = run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    assert m == {"rebuilt": [], "skipped": ["pk=0", "pk=1", "pk=2"]}
    assert not os.path.exists(os.path.join(out, "pk=3"))
    assert _listing(os.path.join(out, "pk=0")) == keep_before
    import json

    parts = json.load(open(os.path.join(out, "_parts.json")))
    assert sorted(parts) == ["pk=0", "pk=1", "pk=2"]
    got = {
        (r["pk"], r["n"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["pk"], r["n"])
        for r in _part_build(spark, spark.read.parquet(src)).collect()
    }
    assert got == want


def test_partitioned_step_sweeps_orphan_from_prestamp_crash(spark, tmp_path):
    """Double crash window (ADVICE r12): a run PROMOTES a partition but
    crashes before stamping _parts.json, then retention deletes that
    source partition. The orphan output dir is in neither the stamp
    nor the live listing — a stored-keys sweep would serve its deleted
    rows forever. The disk-listing sweep must remove it."""
    import json
    import shutil

    from free_etl_spark.plans.pipeline import run_partitioned_step

    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    _part_src(spark, src)
    run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    out = os.path.join(lake, "agg")
    parts_path = os.path.join(out, "_parts.json")
    stamp_before = json.load(open(parts_path))

    # new source partition arrives
    extra = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars", F.lit(9).cast("int").alias("pk")
    )
    extra.write.mode("append").partitionBy("pk").parquet(src)
    run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    assert os.path.isdir(os.path.join(out, "pk=9"))
    # simulate the pre-stamp crash: roll the stamp back so pk=9 is
    # promoted on disk but unknown to _parts.json
    with open(parts_path, "w") as f:
        json.dump(stamp_before, f)
    # retention then drops the source partition
    shutil.rmtree(os.path.join(src, "pk=9"))

    m = run_partitioned_step(spark, "agg", src, "pk", _part_build, lake)
    assert m["rebuilt"] == []
    assert not os.path.exists(os.path.join(out, "pk=9"))
    got = {
        (r["pk"], r["n"]) for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["pk"], r["n"])
        for r in _part_build(spark, spark.read.parquet(src)).collect()
    }
    assert got == want


def test_partitioned_step_zero_row_partition_converges(spark, tmp_path):
    """A dirty partition whose build() yields zero rows gets no leaf
    dir from partitionBy; the runner must materialize an empty live
    dir so the stamp agrees with disk and the partition stops being
    rebuilt every run (ADVICE r12), while reads stay correct."""
    import json

    from free_etl_spark.plans.pipeline import run_partitioned_step

    def drop_pk2(sp, inp):
        return _part_build(sp, inp).filter(F.col("pk") != 2)

    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    _part_src(spark, src)
    m1 = run_partitioned_step(spark, "agg", src, "pk", drop_pk2, lake)
    out = os.path.join(lake, "agg")
    assert sorted(m1["rebuilt"]) == ["pk=0", "pk=1", "pk=2", "pk=3"]
    assert os.path.isdir(os.path.join(out, "pk=2"))  # empty marker dir
    parts = json.load(open(os.path.join(out, "_parts.json")))
    assert "pk=2" in parts

    # second run: nothing dirty — the zero-row partition must NOT be
    # perpetually rebuilt
    m2 = run_partitioned_step(spark, "agg", src, "pk", drop_pk2, lake)
    assert m2["rebuilt"] == []
    assert sorted(m2["skipped"]) == ["pk=0", "pk=1", "pk=2", "pk=3"]
    got = {
        (r["pk"], r["n"]) for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["pk"], r["n"])
        for r in drop_pk2(spark, spark.read.parquet(src)).collect()
    }
    assert got == want and not any(pk == 2 for pk, _ in got)
