"""Publish protocols for local lake and store paths. Every writer that
makes something visible to readers goes through this module.

**Roll back: stage beside the live path, then publish in one rename.**
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

**Roll forward: a sealed stage of moves.** A change that touches many
live paths at once (an in-place index update) stages every new piece,
then ``seal``s the stage; the marker is written last, so a sealed stage
is complete. ``roll_forward`` then applies it with ``move_in`` moves,
and on re-entry after a crash it finishes a sealed stage (the moves are
idempotent) or discards an unsealed one; either way the stage goes.

**Files.** Small JSON stamps (markers, pointers, sidecar metadata) go
through ``write_atomic``: a uniquely named temp file in the same
directory, then ``os.replace``, so concurrent writers never share a
temp file and readers see the old or the new bytes, never a prefix.
``publish_exclusive`` is the create-once variant (a log entry): the
complete temp file is hard-linked to its name, which fails if the name
exists, so the link is also a compare-and-set between writers.

Built on ``os``: the protocols are correct only where a rename or link
is atomic, which holds for the local paths every caller writes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

BUILDING = "__building"
RETIRED = "__retired"
SEALED = "_sealed.json"


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


def seal(stage: str, meta: dict) -> None:
    """Mark the complete ``stage`` ready to roll forward with ``meta``;
    call it after the last staged write."""
    write_atomic(os.path.join(stage, SEALED), json.dumps(meta))


def roll_forward(stage: str, apply) -> None:
    """Finish or discard ``stage``: sealed -> ``apply(meta)``, unsealed
    -> nothing; then remove the stage. ``apply`` must be idempotent: a
    crash inside it leaves the stage sealed for the next call."""
    marker = os.path.join(stage, SEALED)
    if os.path.exists(marker):
        with open(marker) as f:
            apply(json.load(f))
    shutil.rmtree(stage, ignore_errors=True)


def move_in(src_dir: str, dst_dir: str) -> None:
    """Move every child of ``src_dir`` into ``dst_dir``, replacing a
    same-named child. A moved child leaves ``src_dir``, so re-running
    after a crash finishes the rest; a missing ``src_dir`` moves
    nothing."""
    if not os.path.isdir(src_dir):
        return
    os.makedirs(dst_dir, exist_ok=True)
    for name in sorted(os.listdir(src_dir)):
        dst = os.path.join(dst_dir, name)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.replace(os.path.join(src_dir, name), dst)


def _publish_via_temp(path: str, text: str, publish) -> None:
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x") as f:
            f.write(text)
        publish(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` in one step."""
    _publish_via_temp(path, text, os.replace)


def publish_exclusive(path: str, text: str) -> None:
    """Create ``path`` holding ``text``, all at once; raise
    ``FileExistsError`` if another writer created it first."""
    _publish_via_temp(path, text, os.link)
