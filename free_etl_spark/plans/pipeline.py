"""Incremental pipeline runner: a declarative DAG of named steps, each
materialized to a parquet "lake" directory with a content SIGNATURE, so
re-runs skip every step whose inputs and logic are unchanged and
rebuild exactly the dirty suffix of the DAG — the dbt/medallion shape a
production curation pipeline runs on, built from the engine's own
operators.

Design:

- A ``Step`` is (name, deps, build, version). ``build(spark, inputs)``
  receives dep DataFrames read from the lake (sources read from the
  table dir) and returns the step's DataFrame. ``version`` is the
  human-bumped logic token — change the transformation, bump the
  version (the runner cannot hash a closure meaningfully, and silent
  code-hash invalidation is exactly the flakiness dbt avoids the same
  way).
- A step's SIGNATURE = sha256(version ∥ sorted dep signatures ∥ source
  fingerprints). Source fingerprint = (relative path, byte size) of
  every data file under the source table — rename- and append-
  sensitive, mtime-free (mtimes don't survive copies).
- ``run_pipeline`` runs in two phases. PLAN, on the calling thread in
  topo order: compute every signature, sweep swap debris and compare
  each stored ``_meta.json`` signature: match → SKIP (the materialized
  parquet is current, its recorded schema is known), mismatch/missing
  → dirty. A signature depends only on versions, dep signatures and
  source listings, never on a build, so the whole skip set is known
  before anything builds. RUN: every dirty step whose deps are done is
  submitted to a thread pool sized to the dirty set (threads start
  lazily, so the DAG's real width bounds them); a worker reads its
  deps with their recorded schemas, builds the step and writes it to
  its ``__building`` dir; the calling thread promotes each finished
  step and submits the steps it made ready. Independent branches thus
  run their Spark jobs side by side, while every live-dir mutation
  stays on one thread. Each submit is wrapped in its own
  ``inheritable_thread_target(spark)``, so every step inherits the
  caller's job group, description and tags, and a step that sets its
  own job group changes only its own (one wrapper shared by all
  submits shares one cloned ``Properties`` object). The returned
  manifest, in topo order, records built/skipped per step — the audit
  trail every scheduled run ships.
- A step's ``_meta.json`` holds ``signature``, ``rows`` and ``schema``
  (the written DataFrame's ``StructType`` as JSON). ``rows`` comes from
  an ``Observation`` on the write itself and ``schema`` lets a
  dependent step read the parquet without a footer-inference job, so
  bookkeeping adds no Spark job to a build. A ``_meta.json`` without
  ``schema`` (written before it was recorded) is still valid: that dep
  is read with schema inference, and its signature still skips.

Scale notes: signatures read file LISTINGS only (no data); each step
writes through the engine's normal partitioned writers, so a 100 TB
step parallelizes exactly like the operator it wraps; skipping is
O(metadata). Failure atomicity: steps write to a ``__building``
temp dir and promote via a rename-aside swap (old -> ``__retired``,
tmp -> live, delete retired — the compact_parquet discipline,
operators/maintenance.py): a crash at any point leaves either the old
materialization readable or the step missing its ``_meta.json``, which
forces a rebuild — never a half-written live dir. Leftover
``__building``/``__retired`` dirs are swept on the next run. When a
build raises, no further step starts; the steps already in flight
finish and are promoted, then the first error propagates. The next
run therefore skips those steps and builds only the failed step, its
dirty suffix and whatever never started.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Callable, Mapping, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class Step:
    name: str
    build: Callable[[SparkSession, Mapping[str, DataFrame]], DataFrame]
    deps: Sequence[str] = field(default_factory=tuple)
    sources: Sequence[str] = field(default_factory=tuple)  # table dirs
    version: str = "1"


def _source_fingerprint(path: str) -> str:
    """(relpath, size) of every data file under ``path``, hashed.
    Listing-only — never reads data bytes."""
    entries = []
    if not os.path.exists(path):
        # a typo'd source would otherwise hash an EMPTY listing — the
        # step builds once and never invalidates, silently (ADVICE r11)
        raise FileNotFoundError(f"pipeline source does not exist: {path}")
    if os.path.isfile(path):
        entries.append((os.path.basename(path), os.path.getsize(path)))
    else:
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS / checksums don't change content
                fp = os.path.join(root, f)
                entries.append(
                    (os.path.relpath(fp, path), os.path.getsize(fp))
                )
    h = hashlib.sha256()
    for rel, sz in sorted(entries):
        h.update(f"{rel}:{sz};".encode())
    return h.hexdigest()


def _topo(steps: Sequence[Step]) -> list[Step]:
    by_name = {s.name: s for s in steps}
    if len(by_name) != len(steps):
        raise ValueError("duplicate step names")
    out: list[Step] = []
    state: dict[str, int] = {}  # 1=visiting 2=done

    def visit(name: str) -> None:
        if name not in by_name:
            raise ValueError(f"unknown dep: {name}")
        st = state.get(name)
        if st == 2:
            return
        if st == 1:
            raise ValueError(f"dependency cycle through {name}")
        state[name] = 1
        for d in by_name[name].deps:
            visit(d)
        state[name] = 2
        out.append(by_name[name])

    for s in steps:
        visit(s.name)
    return out


def _read_meta(out_dir: str) -> dict:
    """A step's ``_meta.json``, or {} when it is missing or unreadable
    (either forces a rebuild)."""
    try:
        with open(os.path.join(out_dir, "_meta.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return {}
    return meta if isinstance(meta, dict) else {}


def _read_step(spark: SparkSession, path: str, schema: dict | None) -> DataFrame:
    """Read a materialized step with its recorded schema; infer it only
    for a step stamped before schemas were recorded."""
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(StructType.fromJson(schema)).parquet(path)


def _signature(step: Step, sigs: Mapping[str, str]) -> str:
    h = hashlib.sha256()
    h.update(f"v={step.version};".encode())
    for d in step.deps:
        h.update(f"dep={d}:{sigs[d]};".encode())
    for src in step.sources:
        h.update(f"src={_source_fingerprint(src)};".encode())
    return h.hexdigest()


def _build_step(
    spark: SparkSession,
    step: Step,
    lake_dir: str,
    sig: str,
    dep_schemas: Mapping[str, dict | None],
) -> tuple[dict, int]:
    """Build one step into its ``__building`` dir and stamp its
    ``_meta.json`` there; return (schema, rows). Runs on a pool
    thread and touches no live dir."""
    inputs = {
        d: _read_step(spark, os.path.join(lake_dir, d), schema)
        for d, schema in dep_schemas.items()
    }
    df = step.build(spark, inputs)
    schema = df.schema.jsonValue()
    tmp_dir = os.path.join(lake_dir, step.name) + "__building"
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(tmp_dir)
    rows = int(obs.get["rows"])
    with open(os.path.join(tmp_dir, "_meta.json"), "w") as f:
        json.dump({"signature": sig, "rows": rows, "schema": schema}, f)
    return schema, rows


def _promote(out_dir: str) -> None:
    """Rename-aside swap of ``out_dir + "__building"`` into ``out_dir``
    (never rmtree-the-live-then-rename: a crash between those left
    NEITHER old nor new — ADVICE r11)."""
    retired = out_dir + "__retired"
    if os.path.exists(out_dir):
        os.rename(out_dir, retired)
    os.rename(out_dir + "__building", out_dir)
    shutil.rmtree(retired, ignore_errors=True)


def run_pipeline(
    spark: SparkSession,
    steps: Sequence[Step],
    lake_dir: str,
) -> dict:
    """Materialize the DAG into ``lake_dir``; return the run manifest
    {step: {action, signature, rows?}} in topo order (rows recorded on
    build only — skipped steps are not re-counted, that's the point).
    Bookkeeping adds no Spark job to a build: ``rows`` is observed on
    the step's write, and deps are read with the schema their
    ``_meta.json`` records. Ready dirty steps build concurrently; see
    the module docstring for the plan/run phases and failure rules."""
    os.makedirs(lake_dir, exist_ok=True)
    order = _topo(steps)
    sigs: dict[str, str] = {}
    schemas: dict[str, dict | None] = {}
    manifest: dict[str, dict] = {}
    dirty: dict[str, Step] = {}
    for step in order:
        sigs[step.name] = sig = _signature(step, sigs)
        out_dir = os.path.join(lake_dir, step.name)
        # sweep swap debris a previous crash may have stranded (the
        # live dir, if present, is always the authoritative one; a
        # __building dir is by definition unpromoted)
        shutil.rmtree(out_dir + "__retired", ignore_errors=True)
        shutil.rmtree(out_dir + "__building", ignore_errors=True)
        meta = _read_meta(out_dir)
        if meta.get("signature") == sig:
            schemas[step.name] = meta.get("schema")
            manifest[step.name] = {"action": "skipped", "signature": sig}
        else:
            dirty[step.name] = step

    # dirty step -> its deps still to build (topo order kept)
    waiting = {
        n: {d for d in s.deps if d in dirty} for n, s in dirty.items()
    }
    running: dict[Future, str] = {}
    error: BaseException | None = None
    with ThreadPoolExecutor(max_workers=max(len(dirty), 1)) as pool:
        while True:
            if error is None:
                for name in [n for n, left in waiting.items() if not left]:
                    del waiting[name]
                    step = dirty[name]
                    # a wrapper per submit: each clones the caller's
                    # local properties, so a step's setJobGroup stays
                    # its own
                    target = inheritable_thread_target(spark)(_build_step)
                    dep_schemas = {d: schemas[d] for d in step.deps}
                    running[
                        pool.submit(
                            target, spark, step, lake_dir, sigs[name], dep_schemas
                        )
                    ] = name
            if not running:
                break
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                name = running.pop(fut)
                try:
                    schema, rows = fut.result()
                except BaseException as e:  # re-raised once in-flight steps land
                    error = error or e
                    continue
                _promote(os.path.join(lake_dir, name))
                schemas[name] = schema
                manifest[name] = {
                    "action": "built",
                    "signature": sigs[name],
                    "rows": rows,
                }
                for left in waiting.values():
                    left.discard(name)
    if error is not None:
        raise error
    return {s.name: manifest[s.name] for s in order}


def run_partitioned_step(
    spark: SparkSession,
    name: str,
    source_dir: str,
    partition_col: str,
    build: Callable[[SparkSession, DataFrame], DataFrame],
    lake_dir: str,
    version: str = "1",
) -> dict:
    """Partition-grain incremental materialization (the daily backfill
    primitive): fingerprint the hive-partitioned SOURCE per partition
    directory, rebuild only partitions whose listing changed (late
    data, restatement, new partition), leave every clean partition's
    files physically untouched.

    All dirty partitions batch into ONE engine job — ``build``
    receives their union (partition column included via basePath
    discovery) and the result is written once with
    ``partitionBy(partition_col)`` to a staging dir, then promoted
    per-partition via the rename-aside swap (never delete-then-
    rename). At 100 TB a late-data day therefore costs one job over
    one day's bytes, not a full-table rebuild, and no sequential
    per-partition job storm.

    Crash windows: the staging dir is unpromoted by construction; a
    crash between per-partition renames leaves that partition's live
    dir missing, which the dirty check treats as dirty (stored
    signature alone never authorizes a skip — the output dir must
    exist); ``_parts.json`` is stamped last via atomic ``os.replace``,
    so a pre-stamp crash merely rebuilds idempotently. Debris
    (``__building``/``__retired``) is swept on entry.

    Returns {"rebuilt": [...], "skipped": [...]} by partition dir
    name (e.g. ``yr=1995``).
    """
    out_dir = os.path.join(lake_dir, name)
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(out_dir + "__building", ignore_errors=True)
    for d in os.listdir(out_dir):
        if d.endswith("__retired"):
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)

    live: dict[str, str] = {}
    for d in sorted(os.listdir(source_dir)):
        p = os.path.join(source_dir, d)
        if os.path.isdir(p) and d.startswith(partition_col + "="):
            h = hashlib.sha256()
            h.update(f"v={version};".encode())
            h.update(_source_fingerprint(p).encode())
            live[d] = h.hexdigest()
    if not live:
        raise FileNotFoundError(
            f"no {partition_col}=* partitions under {source_dir}"
        )

    parts_path = os.path.join(out_dir, "_parts.json")
    stored: dict[str, str] = {}
    if os.path.exists(parts_path):
        try:
            with open(parts_path) as f:
                stored = json.load(f)
        except Exception:
            stored = {}

    dirty = [
        d
        for d, sig in live.items()
        if stored.get(d) != sig or not os.path.isdir(os.path.join(out_dir, d))
    ]
    skipped = [d for d in live if d not in dirty]

    if dirty:
        src = spark.read.option("basePath", source_dir).parquet(
            *[os.path.join(source_dir, d) for d in dirty]
        )
        staging = out_dir + "__building"
        build(spark, src).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(staging)
        for d in dirty:
            live_part = os.path.join(out_dir, d)
            new_part = os.path.join(staging, d)
            retired = live_part + "__retired"
            if os.path.exists(live_part):
                os.rename(live_part, retired)
            if os.path.exists(new_part):
                os.rename(new_part, live_part)
            else:
                # build() yielded zero rows for this partition:
                # partitionBy writes no leaf dir. Materialize an empty
                # live dir so the _parts.json stamp and the on-disk
                # state agree — otherwise the dirty check (`not
                # isdir`) rebuilds this partition on every run forever
                # (ADVICE r12). An empty leaf contributes zero rows to
                # spark.read.parquet(out_dir), same as absence.
                os.makedirs(live_part, exist_ok=True)
            shutil.rmtree(retired, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)

    # Drop output partitions whose source partition vanished. Sweep by
    # DISK LISTING, not by _parts.json keys: a partition promoted by a
    # run that crashed before stamping is in the output dir but not in
    # `stored`; if its source is then deleted, a stored-keys sweep
    # never removes it and spark.read.parquet(out_dir) serves deleted
    # rows forever (ADVICE r12). Listing the output dir makes the
    # sweep independent of stamp freshness.
    for d in os.listdir(out_dir):
        if (
            d.startswith(partition_col + "=")
            and d not in live
            # double-check the SPECIFIC source partition is really
            # gone before destroying promoted output (ADVICE r13): a
            # transiently partial source listing (mid-retention
            # delete, flaky mount) must not cascade into deleting
            # valid output partitions. An isdir probe on the exact
            # path is cheap and re-reads the filesystem, so the sweep
            # only fires when absence is confirmed twice.
            and not os.path.isdir(os.path.join(source_dir, d))
        ):
            shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)
    tmp = parts_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({d: live[d] for d in live}, f)
    os.replace(tmp, parts_path)
    return {"rebuilt": sorted(dirty), "skipped": sorted(skipped)}
