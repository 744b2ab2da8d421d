"""Commit protocol for local lake and store paths: stage beside the
live path, then publish in one rename.

A writer builds ``live + BUILDING`` completely, then ``promote`` swaps
it in by rename-aside: live -> ``live + RETIRED``, staged -> live,
delete the retired copy. Every crash point leaves a state that
``heal`` resolves with one rule before the next write or read:

- a ``RETIRED`` copy beside a missing live path is restored (the crash
  fell between the two renames, and the copy is the complete old
  version);
- any other ``RETIRED`` or ``BUILDING`` leftover is deleted (a staged
  build is unpublished by construction; a retired copy beside a live
  path is superseded).

Small JSON stamps (markers, pointers, sidecar metadata) go through
``write_atomic``: a uniquely named temp file in the same directory,
then ``os.replace``, so concurrent writers never share a temp file and
readers see the old or the new bytes, never a prefix.

Built on ``os``: the protocol is correct only where a directory rename
is atomic, which holds for the local paths every caller writes.
"""

from __future__ import annotations

import os
import shutil
import uuid

BUILDING = "__building"
RETIRED = "__retired"


def heal(live: str) -> None:
    """Resolve the swap debris of ``live`` by the module's one rule."""
    retired = live + RETIRED
    if os.path.isdir(retired):
        if os.path.exists(live):
            shutil.rmtree(retired, ignore_errors=True)
        else:
            os.rename(retired, live)
    shutil.rmtree(live + BUILDING, ignore_errors=True)


def heal_tree(root: str) -> None:
    """``heal`` ``root`` and every swap found anywhere below it (the
    per-partition swaps of a partitioned table)."""
    heal(root)
    for dirpath, dirs, _files in os.walk(root):
        for d in list(dirs):
            for suffix in (RETIRED, BUILDING):
                if d.endswith(suffix):
                    heal(os.path.join(dirpath, d[: -len(suffix)]))
                    dirs.remove(d)


def promote(live: str, staged: str) -> None:
    """Publish the complete ``staged`` dir as ``live`` (rename-aside)."""
    retired = live + RETIRED
    if os.path.exists(live):
        os.rename(live, retired)
    os.rename(staged, live)
    shutil.rmtree(retired, ignore_errors=True)


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` in one step."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
