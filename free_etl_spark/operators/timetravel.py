"""Versioned parquet table with AS-OF (time-travel) reads — the
lakehouse capability (Delta/Iceberg snapshot reads) rebuilt on plain
parquet plus a JSON commit log.

Layout:

    table_dir/
      _log/00000001.json            {"version": 1, "op": "overwrite",
                                     "files": [...], "commit_ts": ...,
                                     "schema": <StructType json>}
      _log/00000010.checkpoint.json {"version": 10, "files": [...],
                                     "commit_ts": ..., "schema": ...}
      d-3fa9c1e2/part-*.parquet     (immutable once committed)
      d-77be02aa/part-*.parquet

Commits are write-data-then-publish-log: data files land under a
per-commit unique directory first (``d-<token>`` — uniqueness is what
makes concurrent writers collision-free on data), and the zero-padded
log entry is the atomic publish (``storage.publish_exclusive``: the
complete entry appears under its name in one step, or not at all —
readers that don't see the log entry don't see the data).
Version N's visible file set is replayed from the log: ``overwrite``
resets the set, ``append`` extends it. Old data directories are never
mutated, so every historical version stays readable until ``vacuum``
removes log entries and their unreferenced files.

Production behaviors (VERDICT r13 tasks 1/2/7):

- **Checkpointing**: every ``checkpoint_interval``-th commit (and
  after every vacuum) consolidates the resolved file list + schema +
  commit_ts into ``NNNNNNNN.checkpoint.json``. A reader takes the
  newest checkpoint at or below its target from the ``_log`` listing
  it already makes and replays checkpoint + suffix — O(1) +
  entries-since-checkpoint JSON reads, not O(versions) (``plan_read``
  reports the count; pinned in tests). Delta keeps a
  ``_last_checkpoint`` pointer to save that listing on object stores;
  here the listing is made anyway, and overlapping checkpoint writers
  could leave a pointer behind the newest checkpoint.
- **Optimistic concurrency**: the exclusive log-entry publish IS the
  commit CAS. On collision an ``append`` rebases (its file list is
  position-independent — a blind append) and retries at the new tail;
  an ``overwrite`` that lost the race raises the typed
  :class:`CommitConflict` (its result depends on state it did not
  see). Data is written ONCE per commit; only the KB-sized publish
  retries.
- **Schema-in-log**: each entry records the committed DataFrame's
  schema as the table schema AS OF that version (appenders therefore
  write the full current schema — the Delta evolution contract); an
  AS-OF read applies the recorded schema, so a column added in v2
  reads as absent at v1 and as NULL-backfilled over v1's files at v2,
  independent of parquet footer luck.
- **Timestamp AS-OF**: entries carry a caller-supplied, deterministic
  ``commit_ts`` (so an oracle can replay it); ``read_version(...,
  timestamp=...)`` resolves the newest version whose commit_ts <= the
  bound, using checkpoints to bound the scan.

At 100 TB this is the Delta/Iceberg shape: manifests are driver-side
metadata (KB per commit), data moves only through executor-side
writes, and an AS-OF read plans a plain multi-path parquet scan over
the resolved file list — pushdown/pruning work unchanged.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from free_etl_spark import storage


class CommitConflict(RuntimeError):
    """A concurrent commit was published between this writer's read of
    the table state and its publish attempt, and the operation cannot
    be rebased (overwrite semantics depend on the state the writer
    observed). Appends never raise this — they rebase and retry."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_log")


def _is_entry(name: str) -> bool:
    return name.endswith(".json") and not name.endswith(".checkpoint.json")


def _log_versions(table_dir: str) -> tuple[list[int], list[int]]:
    """Committed entry versions and checkpoint versions, parsed from
    ONE listing of the log's FILE NAMES — zero JSON reads (the names
    are the zero-padded versions)."""
    d = _log_dir(table_dir)
    names = os.listdir(d) if os.path.isdir(d) else []
    return (
        sorted(int(n.split(".")[0]) for n in names if _is_entry(n)),
        sorted(
            int(n.split(".")[0]) for n in names if n.endswith(".checkpoint.json")
        ),
    )


def _read_entry(table_dir: str, version: int) -> dict:
    with open(os.path.join(_log_dir(table_dir), f"{version:08d}.json")) as f:
        return json.load(f)


def _entries(table_dir: str) -> list[dict]:
    return [_read_entry(table_dir, v) for v in _log_versions(table_dir)[0]]


def latest_version(table_dir: str) -> int:
    vs = _log_versions(table_dir)[0]
    return vs[-1] if vs else 0


# ---- checkpoints --------------------------------------------------------


def _ckpt_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:08d}.checkpoint.json")


def write_checkpoint(table_dir: str, version: int | None = None) -> int:
    """Consolidate the state at ``version`` (default: latest) into a
    checkpoint file. Returns the checkpointed version. Idempotent;
    safe to call at any time, from any number of writers."""
    if version is None:
        version = latest_version(table_dir)
    if version == 0:
        raise ValueError(f"nothing committed in {table_dir}")
    # builds from the previous checkpoint + suffix, so checkpointing
    # itself stays O(interval) at any commit count
    state = _resolve(table_dir, version)
    ckpt = {
        "version": version,
        "files": state["files_rel"],
        "schema": state["schema"],
        "commit_ts": state["commit_ts"],
    }
    storage.write_atomic(_ckpt_path(table_dir, version), json.dumps(ckpt))
    return version


# ---- state resolution ---------------------------------------------------


def _resolve(table_dir: str, version: int | None = None) -> dict:
    """Resolve (files, schema, commit_ts) at ``version`` (default:
    latest) from the NEWEST usable checkpoint plus the suffix of log
    entries after it — O(1) + suffix JSON reads instead of
    O(versions). ``n_log_reads`` in the result counts every JSON file
    opened (checkpoint included), the metric the replay test pins."""
    entries, ckpts = _log_versions(table_dir)
    target = (entries[-1] if entries else 0) if version is None else version
    n_reads = 0
    files: list[str] = []
    schema = None
    ts = None
    start_after = 0
    candidates = [v for v in ckpts if v <= target]
    if candidates:
        with open(_ckpt_path(table_dir, candidates[-1])) as f:
            ckpt = json.load(f)
        n_reads += 1
        files = list(ckpt["files"])
        schema = ckpt.get("schema")
        ts = ckpt.get("commit_ts")
        start_after = ckpt["version"]
    for v in entries:
        if v <= start_after or v > target:
            continue
        e = _read_entry(table_dir, v)
        n_reads += 1
        if e["op"] == "overwrite":
            files = list(e["files"])
        else:
            files.extend(e["files"])
        schema = e.get("schema", schema)
        ts = e.get("commit_ts", ts)
    return {
        "files_rel": files,
        "schema": schema,
        "commit_ts": ts,
        "version": target,
        "n_log_reads": n_reads,
    }


def _resolve_timestamp(table_dir: str, timestamp) -> int:
    """Newest version whose commit_ts <= ``timestamp`` (commit_ts
    values compare as their native type — keep one type per table).
    Checkpoints bound the scan: if the newest checkpoint's commit_ts
    <= the bound, only entries after it are read."""
    start_after = 0
    for cv in reversed(_log_versions(table_dir)[1]):
        with open(_ckpt_path(table_dir, cv)) as f:
            ckpt = json.load(f)
        cts = ckpt.get("commit_ts")
        if cts is not None and cts <= timestamp:
            start_after = cv
            break
    best = start_after if start_after else None
    for v in _log_versions(table_dir)[0]:
        if v <= start_after:
            continue
        e = _read_entry(table_dir, v)
        ets = e.get("commit_ts")
        if ets is not None and ets <= timestamp:
            best = v
    if best is None:
        raise ValueError(
            f"no version at or before timestamp {timestamp!r} in {table_dir}"
        )
    return best


def plan_read(
    table_dir: str, version: int | None = None, timestamp=None
) -> dict:
    """The read plan an AS-OF read executes: resolved version, file
    list, recorded schema, and ``n_log_reads`` — how many JSON
    manifests resolution opened (checkpoint + suffix; the O(1)+suffix
    property tests pin)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = _resolve_timestamp(table_dir, timestamp)
    state = _resolve(table_dir, version)
    state["files"] = [
        os.path.join(table_dir, f) for f in state["files_rel"]
    ]
    return state


def files_as_of(
    table_dir: str, version: int | None = None, timestamp=None
) -> list[str]:
    """Resolve the visible data-file list at ``version`` / at
    ``timestamp`` (default: latest)."""
    return plan_read(table_dir, version, timestamp)["files"]


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """AS-OF read: a plain multi-path parquet scan over the resolved
    file list — pushdown and pruning apply as on any parquet read.
    The schema RECORDED at the resolved version is applied, so column
    evolution time-travels with the data (a column added later is
    absent here; files from before an addition read as NULL under a
    later version's schema)."""
    plan = plan_read(table_dir, version, timestamp)
    if not plan["files"]:
        raise ValueError(
            f"no files visible at version {version} in {table_dir}"
        )
    reader = spark.read
    if plan["schema"]:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(plan["schema"])))
    return reader.parquet(*plan["files"])


# ---- commit protocol ----------------------------------------------------


def commit_version(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    op: str = "append",
    commit_ts=None,
    checkpoint_interval: int = 10,
    max_retries: int = 50,
) -> int:
    """Commit ``df`` as the next version (op: 'append'|'overwrite').
    Returns the published version number.

    Protocol: data lands ONCE under a unique ``d-<token>`` directory
    (concurrent writers can never collide on data), then the log
    entry's ``storage.publish_exclusive`` is the atomic publish AND
    the concurrency CAS. On collision, an append re-reads the tail and
    retries the (KB-sized) publish — blind appends rebase cleanly by
    construction; an overwrite raises :class:`CommitConflict`
    because its outcome depends on state another writer just changed.
    A crash before publish leaves an invisible orphan directory —
    never a half-visible version — removable later via
    ``vacuum(sweep_orphans=True)``.

    ``commit_ts`` (caller-supplied so oracles can replay it; keep one
    comparable type per table) enables timestamp AS-OF reads. Every
    ``checkpoint_interval``-th version consolidates a checkpoint so
    reads stay O(1)+suffix at any commit count."""
    if op not in ("append", "overwrite"):
        raise ValueError(f"unknown op {op!r}")
    observed = latest_version(table_dir)
    token = uuid.uuid4().hex[:8]
    ddir = f"d-{token}"
    df.write.mode("errorifexists").parquet(os.path.join(table_dir, ddir))
    files = sorted(
        os.path.join(ddir, f)
        for f in os.listdir(os.path.join(table_dir, ddir))
        if f.endswith(".parquet")
    )
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    entry = {
        "version": 0,  # filled per attempt
        "op": op,
        "files": files,
        "schema": df.schema.json(),
    }
    if commit_ts is not None:
        entry["commit_ts"] = commit_ts
    for attempt in range(max_retries):
        cur = latest_version(table_dir)
        if op == "overwrite" and cur != observed:
            # another writer published since we observed the tail: a
            # blind overwrite linearized after it would silently
            # clobber that commit (lost update). Surface the typed
            # conflict; the caller re-reads and decides.
            raise CommitConflict(
                f"overwrite of {table_dir} lost the race: observed "
                f"version {observed}, tail moved to {cur}"
            )
        v = cur + 1
        entry["version"] = v
        try:
            storage.publish_exclusive(
                os.path.join(_log_dir(table_dir), f"{v:08d}.json"),
                json.dumps(entry),
            )
        except FileExistsError:
            time.sleep(0.01 * min(attempt + 1, 5))
            continue
        if checkpoint_interval and v % checkpoint_interval == 0:
            write_checkpoint(table_dir, v)
        return v
    raise CommitConflict(
        f"append to {table_dir} could not publish after "
        f"{max_retries} attempts"
    )


# ---- retention ----------------------------------------------------------


def vacuum(
    table_dir: str, keep_from_version: int, sweep_orphans: bool = False
) -> list[str]:
    """Retention: drop log entries BELOW ``keep_from_version`` whose
    files are unreferenced by any surviving version, and delete those
    files. Returns removed paths. The surviving history must start
    with an 'overwrite' (else older appends are still part of the
    visible set and are retained — widened automatically). Checkpoints
    below the retained range are deleted; a fresh checkpoint is
    written at the retention floor so post-vacuum reads stay
    O(1)+suffix without replaying from vanished entries.

    ``sweep_orphans=True`` additionally removes data directories
    referenced by NO log entry — crash leftovers of unpublished
    commits. Only safe when no writer is in flight (an in-flight
    writer's data dir is unreferenced until its publish), which is
    why it is opt-in, exactly like Delta's VACUUM retention window."""
    import shutil

    es = _entries(table_dir)
    if not es:
        return []
    survivors = [e for e in es if e["version"] >= keep_from_version]
    while survivors and survivors[0]["op"] != "overwrite":
        keep_from_version = survivors[0]["version"] - 1
        survivors = [e for e in es if e["version"] >= keep_from_version]
        if keep_from_version <= 1:
            return []
    referenced = {f for e in survivors for f in e["files"]}
    removed: list[str] = []
    for e in es:
        if e["version"] >= keep_from_version:
            continue
        for f in e["files"]:
            if f not in referenced:
                p = os.path.join(table_dir, f)
                if os.path.exists(p):
                    os.remove(p)
                removed.append(p)
        os.remove(os.path.join(_log_dir(table_dir), f"{e['version']:08d}.json"))
    # checkpoints that consolidate now-vacuumed history are dead —
    # they reference removed files and no read resolves through them
    for cv in _log_versions(table_dir)[1]:
        if cv < keep_from_version:
            os.remove(_ckpt_path(table_dir, cv))
    if sweep_orphans:
        live_dirs = {f.split(os.sep, 1)[0] for e in _entries(table_dir) for f in e["files"]}
        for name in os.listdir(table_dir):
            p = os.path.join(table_dir, name)
            if (
                os.path.isdir(p)
                and (name.startswith("d-") or name[:1] == "v" and name[1:].isdigit())
                and name not in live_dirs
                and name != "_log"
            ):
                shutil.rmtree(p)
                removed.append(p)
    # sweep emptied data dirs
    for name in os.listdir(table_dir):
        p = os.path.join(table_dir, name)
        if (
            (name.startswith("v") or name.startswith("d-"))
            and os.path.isdir(p)
            and not os.listdir(p)
        ):
            shutil.rmtree(p)
    # re-anchor reads: consolidate the retention floor so resolution
    # never needs the entries this pass just deleted
    write_checkpoint(table_dir, latest_version(table_dir))
    return removed
