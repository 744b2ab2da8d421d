"""Doc-count drift gate: the registered-query count appears in four
human-facing docs, and in r6, r7, AND r8 it went stale the same way —
a query landed after the last manual doc refresh. These tests derive
the expected count from the live registry so the docs cannot drift
silently again (VERDICT r8 "What's wrong" #3)."""

from __future__ import annotations

import os
import re

import free_etl_spark.queries as q

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(rel: str) -> str:
    with open(os.path.join(HERE, rel)) as f:
        return f.read()


def test_readme_query_count_current():
    n = len(q.QUERIES)
    text = _read("README.md")
    assert f"{n} registered queries" in text, (
        f"README.md must say '{n} registered queries' (run the doc "
        "refresh: update the count alongside new @query registrations)"
    )
    assert f"{n} operators" in text, (
        f"README.md registry row must say '{n} operators'"
    )


def test_oracle_doc_query_count_current():
    n = len(q.QUERIES)
    assert f"All {n} registered queries" in _read("docs/ORACLE.md")


def test_scale_doc_query_count_current():
    n = len(q.QUERIES)
    assert f"{n}/{n} value-checked" in _read("docs/SCALE.md")


def test_inventory_has_one_row_per_registered_query():
    """docs/INVENTORY.md is generated (tools/gen_inventory.py); it must
    carry exactly one table row per registered query — no more (ghost
    rows for deleted queries), no fewer (unregenerated after a new
    registration)."""
    text = _read("docs/INVENTORY.md")
    rows = {
        m.group(1)
        for m in re.finditer(r"^\| (\w+) \| \S+:\d+ \|", text, re.M)
    }
    registered = set(q.QUERIES)
    missing = registered - rows
    ghosts = rows - registered
    assert not missing, (
        f"INVENTORY.md missing {sorted(missing)} — run "
        "`python tools/gen_inventory.py`"
    )
    assert not ghosts, (
        f"INVENTORY.md has rows for unregistered queries "
        f"{sorted(ghosts)} — run `python tools/gen_inventory.py`"
    )


def test_no_stale_previous_count_anywhere():
    """The previous round's count must not survive anywhere in the four
    gated docs (catches a partial refresh that fixes one file and
    misses another)."""
    n = len(q.QUERIES)
    stale = [
        re.compile(rf"\b{m} registered queries\b")
        for m in range(max(0, n - 30), n)
    ]
    for rel in ("README.md", "docs/ORACLE.md", "docs/SCALE.md"):
        text = _read(rel)
        for pat in stale:
            assert not pat.search(text), f"{rel}: stale count {pat.pattern}"


def test_session_cache_lives_only_in_cache_py():
    """free_etl_spark/cache.py is the one home of session-cached
    relations: no other module may grow a module-level
    WeakKeyDictionary or ``*_CACHE`` store of its own. sqlrun._LAST_SF
    is exempt: it remembers a view registration, not a relation."""
    import ast

    root = os.path.join(HERE, "free_etl_spark")
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, HERE)
            if not fn.endswith(".py") or rel == "free_etl_spark/cache.py":
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, ast.AnnAssign):
                    targets = [node.target]
                else:
                    continue
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                if (rel, names) == ("free_etl_spark/sqlrun.py", ["_LAST_SF"]):
                    continue
                if any(n.endswith("_CACHE") for n in names) or (
                    "WeakKeyDictionary" in ast.unparse(node)
                ):
                    found.append(f"{rel}:{node.lineno} {names}")
    assert not found, f"session caches outside free_etl_spark/cache.py: {found}"


def test_commit_protocol_lives_only_in_storage_py():
    """free_etl_spark/storage.py is the one home of every publish: the
    rename-aside promote, its heal, the roll-forward moves and the
    atomic and exclusive file publishes. No other module may call
    ``os.rename``/``os.replace``/``os.link``, call any ``.rename(``
    method (Hadoop's ``FileSystem.rename`` included), or spell a swap
    suffix itself."""
    import ast

    from free_etl_spark.storage import BUILDING, RETIRED

    class Scan(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel = rel
            self.os_names = {"os"}

        def visit_Import(self, node):
            for a in node.names:
                if a.name == "os":
                    self.os_names.add(a.asname or "os")

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and (
                f.attr == "rename"
                or (
                    isinstance(f.value, ast.Name)
                    and f.value.id in self.os_names
                    and f.attr in ("replace", "link")
                )
            ):
                found.append(f"{self.rel}:{node.lineno} {ast.unparse(f)}")
            self.generic_visit(node)

        def visit_Constant(self, node):
            if node.value in (BUILDING, RETIRED):
                found.append(f"{self.rel}:{node.lineno} {node.value!r}")

    root = os.path.join(HERE, "free_etl_spark")
    found = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, HERE)
            if fn.endswith(".py") and rel != "free_etl_spark/storage.py":
                with open(path) as f:
                    Scan(rel).visit(ast.parse(f.read()))
    assert not found, f"commit protocol outside free_etl_spark/storage.py: {found}"
