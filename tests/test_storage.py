"""free_etl_spark/storage.py: the commit protocol, exercised through the
real writers. Each writer is crashed at the three points of a
rename-aside promote — before the live dir is retired, between the
two renames, and before the retired copy is deleted — and the next
call must return the rows of a run that never crashed and leave no
swap debris behind."""

from __future__ import annotations

import os
import shutil

import pytest

from free_etl_spark import storage
from free_etl_spark.operators.maintenance import compact_parquet
from free_etl_spark.operators.vectors import ivf_recluster, ivf_write
from free_etl_spark.plans.pipeline import Step, run_partitioned_step, run_pipeline


class Crash(RuntimeError):
    pass


def _rows(spark, path, cols):
    return sorted(map(tuple, spark.read.parquet(path).select(*cols).collect()))


def _src(spark, root):
    src = os.path.join(root, "src")
    spark.createDataFrame(
        [(i, i % 3, i * 7 % 11) for i in range(60)], "id long, pk long, v long"
    ).write.partitionBy("pk").parquet(src)
    return src


class Pipeline:
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


class Partitioned:
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


class Compact:
    """Partitioned table of many small files, compacted per leaf."""

    def setup(self, spark, root):
        self.table = _src(spark, root)

    def run(self, spark):
        compact_parquet(spark, self.table)

    def rows(self, spark):
        return _rows(spark, self.table, ["id", "pk", "v"])


class Recluster:
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


WRITERS = [Pipeline, Partitioned, Compact, Recluster]


def _debris(root):
    return [
        os.path.join(dp, d)
        for dp, dns, _ in os.walk(root)
        for d in dns
        if d.endswith((storage.BUILDING, storage.RETIRED))
    ]


def _arm(monkeypatch, window):
    """Make the first promote that retires a live dir crash at
    ``window``."""
    real_rename, real_rmtree = os.rename, shutil.rmtree
    state = {"retired": False}

    def rename(src, dst, *a, **kw):
        retire = str(dst).endswith(storage.RETIRED)
        if window == "retire" and retire:
            raise Crash(f"before rename({src}, {dst})")
        if window == "publish" and state["retired"]:
            raise Crash(f"before rename({src}, {dst})")
        real_rename(src, dst, *a, **kw)
        state["retired"] |= retire

    def rmtree(path, *a, **kw):
        if window == "cleanup" and str(path).endswith(storage.RETIRED):
            raise Crash(f"before rmtree({path})")
        real_rmtree(path, *a, **kw)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)


@pytest.mark.parametrize("window", ["retire", "publish", "cleanup"])
@pytest.mark.parametrize("writer", WRITERS, ids=lambda w: w.__name__)
def test_crashed_promote_heals_on_next_call(spark, tmp_path, monkeypatch, writer, window):
    clean = writer()
    clean.setup(spark, str(tmp_path / "clean"))
    clean.run(spark)
    want = clean.rows(spark)

    w = writer()
    root = str(tmp_path / "crash")
    w.setup(spark, root)
    with monkeypatch.context() as m:
        _arm(m, window)
        with pytest.raises(Crash):
            w.run(spark)
    assert _debris(root), "the crash left no swap state to heal"
    w.run(spark)
    assert w.rows(spark) == want
    assert _debris(root) == []


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
