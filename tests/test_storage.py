"""free_etl_spark/storage.py: the publish protocols, exercised through
the real writers. Each writer is crashed inside a publish — for a
rename-aside promote: before the live dir is retired, between the two
renames, and before the retired copy is deleted; for a roll-forward:
before and after the seal, between two moves and before the stage is
removed — and the next call must return the rows of a run that never
crashed, apply every batch exactly once and leave no debris behind."""

from __future__ import annotations

import os
import shutil

import pytest

from free_etl_spark import storage
from free_etl_spark.operators.maintenance import compact_parquet
from free_etl_spark.operators.merge import merge_additive_once, merge_additive_parquet
from free_etl_spark.operators.vectors import (
    ivf_append,
    ivf_compact,
    ivf_delete,
    ivf_recluster,
    ivf_recluster_incremental,
    ivf_write,
    pq_decoded,
)
from free_etl_spark.plans.pipeline import Step, run_partitioned_step, run_pipeline


class Crash(RuntimeError):
    pass


def _rows(spark, path, cols):
    return sorted(map(tuple, spark.read.parquet(path).select(*cols).collect()))


class Writer:
    """One writer under test: ``setup`` builds its input, ``run`` is the
    call that gets crashed and then repeated, ``rows`` is what a
    reader sees. ``settled`` names the windows that fall after the
    publish, where the crash leaves nothing to heal and the next call
    must only not apply the work twice."""

    windows = ("retire", "publish", "cleanup")
    settled: tuple[str, ...] = ()

    def arm(self, monkeypatch, window):
        _arm(monkeypatch, window)

    def debris(self, root):
        return _debris(root)


def _src(spark, root):
    src = os.path.join(root, "src")
    spark.createDataFrame(
        [(i, i % 3, i * 7 % 11) for i in range(60)], "id long, pk long, v long"
    ).write.partitionBy("pk").parquet(src)
    return src


class Pipeline(Writer):
    """Two-step DAG; the re-run bumps the first step's version."""

    def setup(self, spark, root):
        self.src = _src(spark, root)
        self.lake = os.path.join(root, "lake")
        run_pipeline(spark, self._steps("1"), self.lake)

    def _steps(self, version):
        cut = int(version)

        def low(sp, _inputs):
            return sp.read.parquet(self.src).filter(f"v > {cut}")

        def agg(_sp, inputs):
            return inputs["low"].groupBy("pk").count()

        return [
            Step("low", low, sources=[self.src], version=version),
            Step("agg", agg, deps=["low"]),
        ]

    def run(self, spark):
        run_pipeline(spark, self._steps("2"), self.lake)

    def rows(self, spark):
        return _rows(spark, os.path.join(self.lake, "agg"), ["pk", "count"])


class Partitioned(Writer):
    """Partition-grain step; the re-run follows late data in pk=1."""

    def setup(self, spark, root):
        self.src = _src(spark, root)
        self.lake = os.path.join(root, "lake")
        self._run(spark)
        spark.createDataFrame([(100, 5)], "id long, v long").write.mode(
            "append"
        ).parquet(os.path.join(self.src, "pk=1"))

    def _run(self, spark):
        run_partitioned_step(
            spark, "agg", self.src, "pk",
            lambda _sp, df: df.groupBy("pk").sum("v"), self.lake,
        )

    run = _run

    def rows(self, spark):
        return _rows(spark, os.path.join(self.lake, "agg"), ["pk", "sum(v)"])


class Compact(Writer):
    """Partitioned table of many small files, compacted per leaf."""

    def setup(self, spark, root):
        self.table = _src(spark, root)

    def run(self, spark):
        compact_parquet(spark, self.table)

    def rows(self, spark):
        return _rows(spark, self.table, ["id", "pk", "v"])


class Recluster(Writer):
    """Small IVF store, reclustered onto a regrown first-K codebook."""

    def setup(self, spark, root):
        self.path = os.path.join(root, "store")
        emb = spark.createDataFrame(
            [(i, [float(i % 7), float(i % 5), float(i % 3)]) for i in range(60)],
            "vec_id long, emb array<double>",
        )
        ivf_write(emb, self.path, k=3, codebook="first_k")

    def run(self, spark):
        ivf_recluster(spark, self.path, k=5, codebook="first_k")

    def rows(self, spark):
        return _rows(spark, self.path, ["vec_id", "cent_id"]) + _rows(
            spark, os.path.join(self.path, "_codebook"), ["cent_id"]
        )


def _mv_rows(spark, target):
    with open(os.path.join(target, "_applied_batch.json")) as f:
        mark = f.read()
    return _rows(spark, target, ["k", "n", "s"]) + [mark]


def _batch(spark, i):
    return spark.createDataFrame(
        [("a", i + 1, 1.5 * i), (f"k{i}", 1, 0.25)], "k string, n long, s double"
    )


class MergeFirst(Writer):
    """The first foreachBatch merge into a new MV. Nothing is live, so
    there is nothing to retire: the promote is one rename."""

    windows = ("publish", "cleanup")
    settled = ("cleanup",)

    def setup(self, spark, root):
        self.target = os.path.join(root, "mv")

    def run(self, spark):
        merge_additive_once(spark, self.target, _batch(spark, 0), ["k"], ["n", "s"], 0)

    def rows(self, spark):
        return _mv_rows(spark, self.target)


class MergeLater(MergeFirst):
    """A later batch; a retry after the publish must skip it."""

    windows = Writer.windows
    settled = ()

    def setup(self, spark, root):
        super().setup(spark, root)
        super().run(spark)

    def run(self, spark):
        merge_additive_once(spark, self.target, _batch(spark, 1), ["k"], ["n", "s"], 1)


class MergeParquet(MergeFirst):
    """The plain additive merge carries the applied-batch mark forward.
    It is not idempotent, so a crash after its publish (``cleanup``)
    followed by a retry would add the delta twice by contract; that
    window belongs to merge_additive_once (MergeLater)."""

    windows = ("retire", "publish")
    settled = ()

    def setup(self, spark, root):
        super().setup(spark, root)
        super().run(spark)

    def run(self, spark):
        merge_additive_parquet(spark, self.target, _batch(spark, 1), ["k"], ["n", "s"])


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, emb array<double>")


class IvfCompact(Writer):
    """Tombstones in cells 0-2 and every row of cell 3: three cells are
    promoted, in cent_id order, and cell 3 is dropped."""

    windows = Writer.windows + ("after-2-promotes", "tombstones")

    def setup(self, spark, root):
        self.path = os.path.join(root, "store")
        ivf_write(
            _vectors(spark, [(j * 4 + c, [10.0 * c + 0.1 * j, 0.0]) for j in range(9) for c in range(4)]),
            self.path, k=4, codebook="first_k",
        )
        doomed = [j * 4 + c for j in range(9) for c in range(4) if c == 3 or j in (3, 6)]
        ivf_delete(spark.createDataFrame([(v,) for v in doomed], "vec_id long"), self.path)

    def run(self, spark):
        ivf_compact(spark, self.path)

    def rows(self, spark):
        return _rows(spark, self.path, ["vec_id", "cent_id"])

    def arm(self, monkeypatch, window):
        if window == "after-2-promotes":
            _arm(monkeypatch, "retire", nth=3)
        elif window == "tombstones":
            _crash_rmtree(monkeypatch, lambda p: p.endswith("_tombstones"))
        else:
            _arm(monkeypatch, window)

    def debris(self, root):
        tombstones = os.path.join(self.path, "_tombstones")
        return _debris(root) + [tombstones] * os.path.isdir(tombstones)


class ReclusterIncremental(Writer):
    """A PQ-coded store whose cell 1 drifted after an append: one Lloyd
    step rewrites cells 1-2, appends two movers to cell 0 and leaves
    every drift below the threshold, so a repeated call is a no-op."""

    windows = ("seal", "sealed", "move_in", "remove")

    def setup(self, spark, root):
        self.path = os.path.join(root, "store")
        self.stage = self.path + "__recluster_inc_stage"
        base = [
            (j * 4 + c, [10.0 * c - 10 + 0.1 * (j % 5), 0.1 * (j // 5)])
            for j in range(12)
            for c in range(4)
        ]
        ivf_write(_vectors(spark, base), self.path, k=4, codebook="first_k", pq_m=2, pq_c=4)
        clump = [(100 + i, [4.5 + 0.05 * i, 0.0]) for i in range(12)]
        clump += [(200 + i, [-4.2 - 0.2 * i, 0.0]) for i in range(2)]
        ivf_append(_vectors(spark, clump), self.path)

    def run(self, spark):
        ivf_recluster_incremental(spark, self.path, min_drift_d2=2.0)

    def rows(self, spark):
        decoded = os.path.join(self.path, "_pq_decoded")
        return (
            _rows(spark, self.path, ["vec_id", "cent_id", "pq_code"])
            + _rows(spark, os.path.join(self.path, "_codebook"), ["cent_id", "cemb"])
            + _rows(spark, decoded, ["vec_id", "cent_id"])
            + [pq_decoded(spark, self.path) is not None]
        )

    def arm(self, monkeypatch, window):
        real_seal, real_move_in = storage.seal, storage.move_in

        def seal(stage, meta):
            if window == "sealed":
                real_seal(stage, meta)
            raise Crash(f"{window}: seal({stage})")

        def move_in(src, dst):
            real_move_in(src, dst)
            raise Crash(f"after move_in({src}, {dst})")

        if window in ("seal", "sealed"):
            monkeypatch.setattr(storage, "seal", seal)
        elif window == "move_in":
            monkeypatch.setattr(storage, "move_in", move_in)
        else:
            _crash_rmtree(monkeypatch, lambda p: p == self.stage and os.path.isdir(p))

    def debris(self, root):
        return _debris(root) + [self.stage] * os.path.isdir(self.stage)


WRITERS = [
    Pipeline,
    Partitioned,
    Compact,
    Recluster,
    MergeFirst,
    MergeLater,
    MergeParquet,
    IvfCompact,
    ReclusterIncremental,
]


def _debris(root):
    return [
        os.path.join(dp, d)
        for dp, dns, _ in os.walk(root)
        for d in dns
        if d.endswith((storage.BUILDING, storage.RETIRED))
    ]


def _arm(monkeypatch, window, nth=1):
    """Make the ``nth`` promote crash at ``window``: before its first
    rename (``retire``), before the rename that publishes the staged
    dir (``publish``), or before it deletes the retired copy
    (``cleanup``)."""
    real_promote, real_rename, real_rmtree = storage.promote, os.rename, shutil.rmtree
    state = {"n": 0, "staged": None}

    def promote(live, staged):
        state["n"] += 1
        state["staged"] = staged if state["n"] == nth else None
        try:
            real_promote(live, staged)
        finally:
            state["staged"] = None

    def rename(src, dst, *a, **kw):
        if state["staged"] is not None and (
            window == "retire" or (window == "publish" and src == state["staged"])
        ):
            raise Crash(f"before rename({src}, {dst})")
        real_rename(src, dst, *a, **kw)

    def rmtree(path, *a, **kw):
        if state["staged"] is not None and window == "cleanup":
            raise Crash(f"before rmtree({path})")
        real_rmtree(path, *a, **kw)

    monkeypatch.setattr(storage, "promote", promote)
    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)


def _crash_rmtree(monkeypatch, doomed):
    real_rmtree = shutil.rmtree

    def rmtree(path, *a, **kw):
        if doomed(str(path)):
            raise Crash(f"before rmtree({path})")
        real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", rmtree)


@pytest.mark.parametrize(
    "writer, window",
    [(w, win) for w in WRITERS for win in w.windows],
    ids=lambda x: x if isinstance(x, str) else x.__name__,
)
def test_crashed_promote_heals_on_next_call(spark, tmp_path, monkeypatch, writer, window):
    clean = writer()
    clean.setup(spark, str(tmp_path / "clean"))
    clean.run(spark)
    want = clean.rows(spark)

    w = writer()
    root = str(tmp_path / "crash")
    w.setup(spark, root)
    with monkeypatch.context() as m:
        w.arm(m, window)
        with pytest.raises(Crash):
            w.run(spark)
    if window not in w.settled:
        assert w.debris(root), "the crash left no state to heal"
    w.run(spark)
    assert w.rows(spark) == want
    assert w.debris(root) == []


def test_write_atomic_failed_replace_keeps_old_bytes(tmp_path, monkeypatch):
    path = tmp_path / "_meta.json"
    storage.write_atomic(str(path), '{"v": 1}')
    before = path.read_bytes()

    def replace(src, dst):
        raise OSError("replace failed")

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError, match="replace failed"):
        storage.write_atomic(str(path), '{"v": 2}')
    assert path.read_bytes() == before
    assert os.listdir(tmp_path) == ["_meta.json"]
