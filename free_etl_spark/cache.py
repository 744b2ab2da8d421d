"""Session cache: the relations queries reuse across constructions.

One store per SparkSession holds them all: shingles, signatures and
edge relations (``relation``), the BPE fit and the unrolled stream
plans (``memo``), and the range-partitioned prefix relations
(``by_plan``). An entry sits in a slot and serves a lookup while the
lookup's key equals the key it was built under and none of its
source files changed since (one ``os.stat`` per source per lookup).

Replacement follows Spark's CacheManager, which serves a cached plan
to any later plan with the same result:

- Same key, source rewritten in place: the entry is released BEFORE
  the rebuild, or the new scan of that path is matched to the old
  blocks and the rebuild reads stale rows.
- Key changed (the plan changed): the entry is retired and released
  one generation later, because a handle of the previous construction
  may still execute. A prefix relation that lost its persist mid-flight
  would let its two plan branches sample their own range boundaries,
  and the offsets would describe another partitioning than the local
  sums (NTILE off by one near quartile boundaries at sf0.01). So a slot
  holds at most one live and one retired entry. A ``None`` key (no
  plan hash) never hits and always retires.

The store keeps JVM handles only, because a Python DataFrame holds its
session: a dropped session's entries go with it, and a daemon thread
frees their blocks (a weakref callback must not call into py4j on the
collecting thread). The lock guards the dicts and the source stats,
never ``build()``: a BPE fit runs ~1.8 s of jobs, and intake and soak
run queries from thread pools.
"""

from __future__ import annotations

import os
import queue
import threading
import weakref
from collections import namedtuple
from contextlib import suppress

from py4j.java_gateway import JavaObject
from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_Entry = namedtuple("_Entry", "key sources stamp value")

# session -> {slot: [live _Entry or None, retired _Entry or None]}
_STORE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()
_DROPPED: "queue.SimpleQueue[dict]" = queue.SimpleQueue()


def _stamp(paths) -> tuple:
    out = []
    for p in paths:
        try:
            st = os.stat(p)
            out.append((st.st_mtime_ns, st.st_size))
        except OSError:
            out.append(None)
    return tuple(out)


def _freeze(v):
    """A build's value with every DataFrame swapped for its JVM handle."""
    if isinstance(v, DataFrame):
        return v._jdf
    return tuple(map(_freeze, v)) if isinstance(v, tuple) else v


def _thaw(v, spark: SparkSession):
    if isinstance(v, JavaObject):
        return DataFrame(v, spark)
    return tuple(_thaw(x, spark) for x in v) if isinstance(v, tuple) else v


def release(value, unpersist: bool = True) -> None:
    """Free the blocks of a DataFrame, or of each one in a tuple: its
    persist (``unpersist``) and, for a localCheckpoint, the checkpoint
    RDD, which DataFrame.unpersist never reaches. A stopped context or
    another plan shape leaves nothing to free, so errors are swallowed."""
    v = _freeze(value)
    for jdf in v if isinstance(v, tuple) else (v,):
        if isinstance(jdf, JavaObject):
            if unpersist:
                with suppress(Py4JError):
                    jdf.unpersist(False)
            with suppress(Py4JError):
                jdf.queryExecution().logical().rdd().unpersist(False)


def _discard(dropped: dict) -> None:
    """Release retired, cleared or dropped entries ({slot: [entries]}).
    A persist is freed only when no entry of any session holds the same
    slot and key: persists live in the engine-wide CacheManager, so an
    equal plan of another session reads the very same blocks."""
    gone = [(slot, e) for slot, es in dropped.items() for e in es if e is not None]
    if not gone:
        return
    with _LOCK:
        held = {
            (slot, e.key)
            for slots in _STORE.values()
            for slot, pair in slots.items()
            for e in pair
            if e is not None and e.key is not None
        }
    for slot, e in gone:
        release(e.value, unpersist=(slot, e.key) not in held)


def _release_dropped() -> None:
    while True:
        _discard(_DROPPED.get())


_RELEASER = threading.Thread(target=_release_dropped, name="cache-release", daemon=True)


def lookup(spark: SparkSession, slot, key, build, sources):
    """The session's entry for ``slot`` when it was built under ``key``
    and its sources are unchanged; otherwise ``build()``'s value,
    stored under ``key``. ``sources()`` returns the paths the entry
    derives from; it is called on a miss only, before the build."""
    with _LOCK:
        slots = _STORE.get(spark)
        if slots is None:
            if _RELEASER.ident is None:
                _RELEASER.start()
            slots = _STORE[spark] = {}
            # SimpleQueue.put is safe inside a weakref callback
            weakref.finalize(spark, _DROPPED.put, slots).atexit = False
        pair = slots.setdefault(slot, [None, None])
        live = pair[0]
        same = live is not None and key is not None and live.key == key
        if same and _stamp(live.sources) == live.stamp:
            return _thaw(live.value, spark)
        if same:
            pair[0] = None
    if same:  # rewritten in place: release before the build
        release(live.value)
    paths = tuple(sources())
    stamp = _stamp(paths)
    value = build()
    with _LOCK:
        live, stale, won = pair[0], None, None
        if live is not None and key is not None and live.key == key:
            won = live if live.stamp == stamp else None
        elif live is not None:
            stale, pair[1] = pair[1], live
        if won is None:
            pair[0] = _Entry(key, paths, stamp, _freeze(value))
    if won is not None:
        # another thread built this entry first: keep it. A persist of
        # ours is its CacheManager entry; a checkpoint of ours is freed.
        release(value, unpersist=False)
        return _thaw(won.value, spark)
    _discard({slot: [stale]})
    return value


def memo(spark, sf_dir: str, tag: str, build, src_table="documents.parquet"):
    """``build()``'s value, kept per (session, tag, sf_dir) while every
    source table under ``sf_dir`` (one name or a list) is unchanged."""
    tables = (src_table,) if isinstance(src_table, str) else tuple(src_table)
    paths = [os.path.join(sf_dir, t) for t in tables]
    return lookup(spark, (tag, sf_dir), tables, build, lambda: paths)


def relation(spark, sf_dir: str, tag: str, build, src_table="documents.parquet"):
    """``memo`` of ``build()`` persisted MEMORY_AND_DISK."""
    persisted = lambda: build().persist(StorageLevel.MEMORY_AND_DISK)  # noqa: E731
    return memo(spark, sf_dir, tag, persisted, src_table)


def _sem_hash(df: DataFrame) -> int | None:
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except (AttributeError, Py4JError):  # non-JVM session, API drift
        return None  # never a hit


def _plan_sources(df: DataFrame) -> list[str]:
    """Root paths of the file relations in the analyzed plan, which
    (unlike the optimized plan) still shows them under cached subtrees."""
    out = []
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    except (AttributeError, Py4JError):  # non-JVM session: nothing to stat
        return out
    for i in range(leaves.size()):
        with suppress(Py4JError):  # not a file relation
            roots = leaves.apply(i).relation().location().rootPaths()
            out += [roots.apply(j).toUri().getPath() for j in range(roots.size())]
    return out


def by_plan(df: DataFrame, tag: str) -> DataFrame:
    """``df`` persisted MEMORY_AND_DISK in slot ``tag``, keyed on its
    analyzed plan's semanticHash: re-constructing the same query gets
    the same persisted relation back, so a live handle of an earlier
    construction keeps its materialization."""
    return lookup(
        df.sparkSession,
        tag,
        _sem_hash(df),
        lambda: df.persist(StorageLevel.MEMORY_AND_DISK),
        lambda: _plan_sources(df),
    )


def clear(spark: SparkSession) -> None:
    """Release and forget every entry of the session: the hook for
    plan-shape audits (a cached relation's printed plan embeds its
    child plan) and for timings that must include the builds."""
    with _LOCK:
        slots = dict(_STORE.get(spark) or {})
        if slots:
            _STORE[spark].clear()
    _discard(slots)
