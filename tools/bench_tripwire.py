"""Pre-snapshot bench-regression tripwire (VERDICT r8 task #3).

The r8 knn defect shipped because the last code change postdated the
last bench run. This tool closes that window: given a git base ref
(default: HEAD of the last committed round snapshot — pass explicitly
for other baselines), it finds every registered query whose source
changed since that ref, benches exactly those at sf0.1 on a warm
session, and FAILS (exit 1) if any runs > 2x its entry in the newest
stamped BENCH_QUERIES_r{N}.json (and is > 0.5 s absolute over it, so
sub-second noise can't trip it).

Change detection is function-level inside `free_etl_spark/queries/*`
(so touching one query in a 100-query module doesn't re-bench all
100), with two widening rules that keep it honest:
  * if module-level code or a non-query helper in a queries module
    changed, ALL queries in that module are re-benched;
  * if a non-queries engine module changed (operators/, streaming/,
    tables.py, ...), every queries module whose source imports it is
    re-benched in full;
  * if a queries module's HELPERS changed (or specific changed
    functions are imported elsewhere), every OTHER queries module
    importing from it is re-benched in full — cross-module helper
    exports like tpch_more.bought_baskets (consumed by graph.py) or
    dedup._shingles would otherwise reopen the stale-bench
    window this tool exists to close (ADVICE r9).

Usage:
    python tools/bench_tripwire.py [BASE_REF]         # default HEAD
    SPARK_GRAFT_SF_DIR=... python tools/bench_tripwire.py BASE_REF

Run it immediately BEFORE the end-of-round snapshot commit; a clean
exit means every query touched this session still performs within 2x
of its last stamped measurement.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

REL_THRESHOLD = 2.0
ABS_THRESHOLD_S = 0.5


def _git_changed_files(base: str) -> list[str]:
    out = subprocess.run(
        ["git", "diff", "--name-only", base, "--", "*.py"],
        cwd=HERE,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return [line.strip() for line in out.splitlines() if line.strip()]


def _git_show(base: str, rel: str) -> str | None:
    r = subprocess.run(
        ["git", "show", f"{base}:{rel}"],
        cwd=HERE,
        capture_output=True,
        text=True,
    )
    return r.stdout if r.returncode == 0 else None


def _top_level_funcs(src: str) -> dict[str, str]:
    """name -> exact source segment of each top-level def, WITH its
    decorators (get_source_segment starts at the ``def`` line, and
    _module_level_code blanks decorator lines — without prepending
    them here a decorator-only edit would be invisible)."""
    tree = ast.parse(src)
    out = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            decs = "\n".join(
                ast.get_source_segment(src, d) or ""
                for d in node.decorator_list
            )
            out[node.name] = decs + "\n" + (
                ast.get_source_segment(src, node) or ""
            )
    return out


def _module_level_code(src: str) -> str:
    """Source with every top-level def/class segment blanked — the
    residue is module-level code (constants, decorator args live in
    the def segment, imports, registry side effects)."""
    tree = ast.parse(src)
    lines = src.splitlines()
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            # include decorator lines in the blanked span: they belong
            # to the def, and get_source_segment excludes them, so
            # leaving them here would double-count a decorator edit
            first = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            for i in range(first - 1, node.end_lineno):
                lines[i] = ""
    # drop blank residue: a pure line-count shift inside a function
    # must not read as a module-level change (it previously widened
    # every in-function edit to the whole module)
    return "\n".join(line for line in lines if line.strip())


def _imports_from(src: str, modpath: str) -> tuple[set[str], bool]:
    """(specific names ``src`` imports from ``modpath``, whether it
    imports the module wholesale). Walks the full AST so imports
    nested inside function bodies (the queries-module convention for
    cross-module helpers) are seen."""
    parent, _, stem = modpath.rpartition(".")
    names: set[str] = set()
    whole = False
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom):
            if node.module == modpath:
                for a in node.names:
                    if a.name == "*":
                        whole = True
                    else:
                        names.add(a.name)
            elif node.module == parent and any(
                a.name == stem for a in node.names
            ):
                whole = True
        elif isinstance(node, ast.Import):
            if any(a.name == modpath for a in node.names):
                whole = True
    return names, whole


def affected_queries(base: str) -> tuple[set[str], list[str]]:
    """(query names to re-bench, human-readable reasons)."""
    import inspect

    import free_etl_spark.queries as q

    by_file: dict[str, dict[str, str]] = {}  # rel path -> {qname: funcname}
    for name, fn in q.QUERIES.items():
        src_fn = inspect.unwrap(fn)
        rel = os.path.relpath(inspect.getsourcefile(src_fn), HERE)
        by_file.setdefault(rel, {})[name] = src_fn.__name__

    changed = _git_changed_files(base)
    affected: set[str] = set()
    reasons: list[str] = []
    query_files = set(by_file)

    # pass 1: queries modules — function-level diff. Record what
    # changed per module so pass 2b can widen to cross-module
    # importers of the changed names.
    qmod_changes: dict[str, tuple[set[str], bool]] = {}  # rel -> (funcs, helper?)
    for rel in changed:
        if rel not in query_files:
            continue
        new_src = open(os.path.join(HERE, rel)).read()
        old_src = _git_show(base, rel)
        members = by_file[rel]
        if old_src is None:  # new module: everything in it is new
            affected |= set(members)
            reasons.append(f"{rel}: new module -> all {len(members)} queries")
            qmod_changes[rel] = (set(_top_level_funcs(new_src)), True)
            continue
        old_funcs = _top_level_funcs(old_src)
        new_funcs = _top_level_funcs(new_src)
        changed_funcs = {
            f
            for f in new_funcs
            if old_funcs.get(f) != new_funcs[f]
        } | (set(old_funcs) - set(new_funcs))
        query_funcs = set(members.values())
        helper_changed = bool(changed_funcs - query_funcs) or (
            _module_level_code(old_src) != _module_level_code(new_src)
        )
        qmod_changes[rel] = (changed_funcs, helper_changed)
        if helper_changed:
            affected |= set(members)
            reasons.append(
                f"{rel}: helper/module-level change -> all "
                f"{len(members)} queries"
            )
        else:
            hit = {n for n, f in members.items() if f in changed_funcs}
            if hit:
                affected |= hit
                reasons.append(f"{rel}: {sorted(hit)}")

    # pass 2: non-queries engine modules — widen to importing modules
    for rel in changed:
        if rel in query_files or not rel.startswith("free_etl_spark/"):
            continue
        modpath = rel[: -len(".py")].replace("/", ".")
        stem = os.path.basename(rel)[: -len(".py")]
        pat = re.compile(
            rf"(?:from|import)\s+{re.escape(modpath)}\b"
            rf"|from\s+free_etl_spark\.\w+\s+import\s+[^\n]*\b{re.escape(stem)}\b"
        )
        for qrel, members in by_file.items():
            src = open(os.path.join(HERE, qrel)).read()
            if pat.search(src):
                affected |= set(members)
                reasons.append(
                    f"{rel} changed -> {qrel} imports it -> all "
                    f"{len(members)} queries"
                )

    # pass 2b: changed queries modules as import SOURCES — a helper
    # one queries module exports to another (bought_baskets,
    # _shingles, ...) must widen to the consumer's queries too.
    for rel, (changed_funcs, helper_changed) in qmod_changes.items():
        modpath = rel[: -len(".py")].replace("/", ".")
        for qrel, members in by_file.items():
            if qrel == rel:
                continue
            names, whole = _imports_from(
                open(os.path.join(HERE, qrel)).read(), modpath
            )
            # widen when the importer pulls a changed name, or pulls
            # anything at all from a module whose helpers/module-level
            # code changed (a changed helper can sit under an
            # unchanged exported name — be conservative there).
            if (names & changed_funcs) or (
                (names or whole) and helper_changed
            ):
                if not set(members) <= affected:
                    affected |= set(members)
                    reasons.append(
                        f"{rel} exports changed -> {qrel} imports it -> "
                        f"all {len(members)} queries"
                    )
    return affected, reasons


def _prev_stamped() -> tuple[dict[str, float], str | None]:
    stamps = sorted(glob.glob(os.path.join(HERE, "BENCH_QUERIES_r*.json")))
    for path in reversed(stamps):
        try:
            d = json.load(open(path))
            return d.get("queries", {}), os.path.basename(path)
        except Exception:
            continue
    return {}, None


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    affected, reasons = affected_queries(base)
    for r in reasons:
        print(f"# {r}")
    if not affected:
        print(json.dumps({"tripwire": "clean", "n_affected": 0}))
        return 0

    prev_q, prev_src = _prev_stamped()
    import free_etl_spark.queries as q
    from free_etl_spark.session import get_spark
    from free_etl_spark.tables import ALL_TABLES, load_table

    # stamp-coverage report: an affected query with no prior stamp has
    # no regression baseline — it is benched and reported, but the
    # guard is blind to its history. Since r10 bench.py stamps the
    # FULL registry, a non-empty list here means either brand-new
    # queries (expected mid-round) or a bench run that predates them.
    unstamped = sorted(set(q.QUERIES) - set(prev_q))
    print(
        json.dumps(
            {
                "stamp_coverage": f"{len(q.QUERIES) - len(unstamped)}"
                f"/{len(q.QUERIES)}",
                "unstamped": unstamped,
            }
        )
    )

    spark = get_spark("bench-tripwire")
    for t in ALL_TABLES:
        load_table(spark, sf_dir, t).count()

    failures = []
    report = {}
    for name in sorted(affected):
        fn = q.QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        prev = prev_q.get(name)
        entry = {"now": round(best, 3), "prev": prev}
        if (
            prev is not None
            and best > REL_THRESHOLD * prev
            and best - prev > ABS_THRESHOLD_S
        ):
            entry["REGRESSION"] = True
            failures.append(name)
        report[name] = entry
        print(f"{name}: {best:.2f}s (prev {prev})")

    print(
        json.dumps(
            {
                "tripwire": "FAIL" if failures else "clean",
                "base": base,
                "prev_source": prev_src,
                "n_affected": len(affected),
                "failures": failures,
                "queries": report,
            }
        )
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
