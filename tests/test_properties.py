"""Property-based tests (hypothesis) for the custom operators whose
correctness doesn't reduce to a SQL oracle: the as-of join vs a
brute-force reference, and salted joins vs plain joins, over
adversarial key/timestamp distributions (duplicates, ties, empty
sides, hot keys)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from free_etl_spark.operators.asof import asof_join_backward
from free_etl_spark.operators.partitioning import salted_join

_KEYS = st.integers(min_value=0, max_value=2)
_TS = st.integers(min_value=0, max_value=20)

_left_rows = st.lists(st.tuples(_KEYS, _TS), min_size=0, max_size=12)
_right_rows = st.lists(st.tuples(_KEYS, _TS, st.integers(0, 99)), min_size=0, max_size=12)


def _brute_asof(left, right):
    # operator tie rule: greatest (rt, rv) struct wins among matches
    out = []
    for k, lt in left:
        best = None
        for rk, rt, rv in right:
            if rk == k and rt <= lt and (best is None or (rt, rv) > best):
                best = (rt, rv)
        out.append((k, lt, None if best is None else best[1]))
    return sorted(out, key=lambda r: (r[0], r[1], r[2] is None, r[2]))


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left=_left_rows, right=_right_rows)
def test_asof_join_matches_bruteforce(spark, left, right):
    ldf = spark.createDataFrame(
        pd.DataFrame(left, columns=["k", "lt"]), "k int, lt int"
    )
    rdf = spark.createDataFrame(
        pd.DataFrame(right, columns=["k", "rt", "rv"]), "k int, rt int, rv int"
    )
    got = asof_join_backward(
        ldf, rdf, on=["k"], left_ts="lt", right_ts="rt", payload_cols=["rv"]
    )
    rows = [
        (r["k"], r["lt"], r["asof_rv"]) for r in got.collect()
    ]
    assert sorted(rows, key=lambda r: (r[0], r[1], r[2] is None, r[2])) == _brute_asof(
        left, right
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    left=st.lists(st.tuples(_KEYS, st.integers(0, 9)), min_size=0, max_size=15),
    right=st.lists(st.tuples(_KEYS, st.integers(0, 9)), min_size=0, max_size=8),
    n_salts=st.integers(min_value=1, max_value=5),
)
def test_salted_join_matches_plain(spark, left, right, n_salts):
    ldf = spark.createDataFrame(
        pd.DataFrame(left, columns=["k", "lv"]), "k int, lv int"
    )
    rdf = spark.createDataFrame(
        pd.DataFrame(right, columns=["k", "rv"]), "k int, rv int"
    )
    plain = sorted(map(tuple, ldf.join(rdf, "k").select("k", "lv", "rv").collect()))
    salted = sorted(
        map(tuple, salted_join(ldf, rdf, "k", n_salts=n_salts).select("k", "lv", "rv").collect())
    )
    assert plain == salted


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label normalization
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return sorted((v, min(members)) for r, members in comp.items() for v in members)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    n_nodes=st.integers(min_value=1, max_value=12),
    edge_idx=st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=15),
)
def test_connected_components_matches_union_find(spark, n_nodes, edge_idx):
    from free_etl_spark.operators.components import connected_components

    edges = [(a % n_nodes, b % n_nodes) for a, b in edge_idx if a % n_nodes != b % n_nodes]
    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges_df = spark.createDataFrame(
        pd.DataFrame(edges or [], columns=["src", "dst"]), "src long, dst long"
    )
    got = sorted(map(tuple, connected_components(nodes_df, edges_df).collect()))
    assert got == _union_find_components(n_nodes, edges)


def test_connected_components_raises_when_not_converged(spark):
    """Min-label propagation moves a label one hop per round, so a
    60-node path needs 59 rounds: at the default 50 it must raise
    rather than return the path split into components."""
    from free_etl_spark.operators.components import connected_components

    nodes_df = spark.createDataFrame([(i,) for i in range(60)], "id long")
    edges_df = spark.createDataFrame([(i, i + 1) for i in range(59)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 50 rounds"):
        connected_components(nodes_df, edges_df).collect()


def _brute_asof_fwd(left, right):
    # forward tie rule: smallest (rt, rv) among rt >= lt matches
    out = []
    for k, lt in left:
        best = None
        for rk, rt, rv in right:
            if rk == k and rt >= lt and (best is None or (rt, rv) < best):
                best = (rt, rv)
        out.append((k, lt, None if best is None else best[1]))
    return sorted(out, key=lambda r: (r[0], r[1], r[2] is None, r[2]))


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left=_left_rows, right=_right_rows)
def test_asof_forward_matches_bruteforce(spark, left, right):
    from free_etl_spark.operators.asof import asof_join_forward

    ldf = spark.createDataFrame(pd.DataFrame(left, columns=["k", "lt"]), "k int, lt int")
    rdf = spark.createDataFrame(
        pd.DataFrame(right, columns=["k", "rt", "rv"]), "k int, rt int, rv int"
    )
    got = asof_join_forward(
        ldf, rdf, on=["k"], left_ts="lt", right_ts="rt", payload_cols=["rv"]
    )
    rows = [(r["k"], r["lt"], r["asof_rv"]) for r in got.collect()]
    assert sorted(rows, key=lambda r: (r[0], r[1], r[2] is None, r[2])) == _brute_asof_fwd(
        left, right
    )


def _brute_nearest(left, right):
    # right pre-deduped per (k, ts): max rv wins; then nearest by
    # |rt - lt|, ties to the backward (rt <= lt) side
    dedup: dict[tuple[int, int], int] = {}
    for rk, rt, rv in right:
        key = (rk, rt)
        dedup[key] = max(dedup.get(key, rv), rv)
    out = []
    for k, lt in left:
        back, fwd = None, None
        for (rk, rt), rv in dedup.items():
            if rk != k:
                continue
            if rt <= lt and (back is None or rt > back[0]):
                back = (rt, rv)
            if rt >= lt and (fwd is None or rt < fwd[0]):
                fwd = (rt, rv)
        if back is not None and (fwd is None or (lt - back[0]) <= (fwd[0] - lt)):
            pick = back
        else:
            pick = fwd
        out.append((k, lt, None if pick is None else pick[1]))
    return sorted(out, key=lambda r: (r[0], r[1], r[2] is None, r[2]))


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left=_left_rows, right=_right_rows)
def test_asof_nearest_matches_bruteforce(spark, left, right):
    from free_etl_spark.operators.asof import asof_join_nearest

    ldf = spark.createDataFrame(
        pd.DataFrame(left, columns=["k", "lt"]), "k int, lt int"
    )
    rdf = (
        spark.createDataFrame(
            pd.DataFrame(right, columns=["k", "rt", "rv"]), "k int, rt int, rv int"
        )
        .groupBy("k", "rt")
        .agg(F.max("rv").alias("rv"))
    )
    got = asof_join_nearest(
        ldf, rdf, on=["k"], left_ts="lt", right_ts="rt", payload_cols=["rv"]
    )
    rows = [(r["k"], r["lt"], r["asof_rv"]) for r in got.collect()]
    assert sorted(
        rows, key=lambda r: (r[0], r[1], r[2] is None, r[2])
    ) == _brute_nearest(left, right)


@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    data=st.binary(max_size=2048),
    ext=st.sampled_from([".csv", ".xlsx", ".txt", ""]),
)
def test_validate_and_normalize_never_raises(data, ext):
    """Op #25 global failure containment, fuzzed: arbitrary bytes under
    any extension must produce a FileCheck (acceptable or not), never
    an exception — a hostile upload cannot crash the intake loop."""
    from free_etl_spark.intake.config import load_cfg
    from free_etl_spark.intake.validate import validate_and_normalize

    chk = validate_and_normalize(f"fuzz{ext}", data, load_cfg({}))
    assert isinstance(chk.acceptable, bool)
    assert isinstance(chk.issues, list)
    if chk.acceptable:
        # an accepted file must round-trip: normalized bytes exist
        # whenever rows were parsed
        assert chk.row_count >= 0


@settings(max_examples=150, deadline=None)
@given(data=st.binary(max_size=1024))
def test_sniffers_never_raise(data):
    """Delimiter/encoding sniffers and raw-header checks must accept
    arbitrary byte heads (truncated multibyte sequences, NULs, empty)."""
    from free_etl_spark.intake.sniff import (
        check_headers,
        detect_csv_delimiter,
        detect_encoding,
        raw_header_fields,
    )

    delim = detect_csv_delimiter(data)
    assert delim in (",", ";", "\t", "|")
    enc = detect_encoding(data)
    assert isinstance(enc, str)
    fields = raw_header_fields(data, delim)
    assert isinstance(fields, list)
    assert isinstance(check_headers(fields), list)


# ── sequence packing vs brute force ──────────────────────────────────

_PACK_DOCS = st.lists(
    st.tuples(
        st.integers(0, 30),             # doc_id (dups possible → dedup below)
        st.sampled_from(["en", "de"]),  # lang
        st.integers(0, 40),             # token_cnt (0-token docs included)
    ),
    min_size=0,
    max_size=16,
)


def _brute_pack(rows, budget):
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])  # (lang, bin) -> [n_docs, sum_tokens]
    bylang = defaultdict(list)
    for doc_id, lang, tc in rows:
        bylang[lang].append((doc_id, tc))
    for lang, docs in bylang.items():
        running = 0
        for _, tc in sorted(docs):
            bin_id = running // budget
            agg[(lang, bin_id)][0] += 1
            agg[(lang, bin_id)][1] += tc
            running += tc
    return {k: tuple(v) for k, v in agg.items()}


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=_PACK_DOCS, budget=st.sampled_from([1, 7, 32]))
def test_pack_sequences_matches_bruteforce(spark, rows, budget):
    from free_etl_spark.queries.text import pack_sequences

    rows = list({r[0]: r for r in rows}.values())  # unique doc_id
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "lang", "token_cnt"]),
        "doc_id long, lang string, token_cnt long",
    )
    got = {
        (r["lang"], r["bin_id"]): (r["n_docs"], r["sum_tokens"])
        for r in pack_sequences(docs, budget).collect()
    }
    assert got == _brute_pack(rows, budget)


# ---- Welch t-test vs direct arithmetic --------------------------------

_WELCH_VALS = st.lists(
    st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
    min_size=2,
    max_size=12,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(a=_WELCH_VALS, b=_WELCH_VALS)
def test_welch_ttest_matches_direct_formula(spark, a, b):
    """The SQL/DataFrame Welch t and dof must match a direct Python
    evaluation of the textbook formulas on the same samples."""
    import math
    import statistics

    # degenerate variance pairs make t undefined; the operator emits
    # null there, the brute force skips them
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    ev = spark.createDataFrame(rows, "event_type string, value double")
    from free_etl_spark.queries.events import welch_group_stats, welch_pairs

    got = welch_pairs(welch_group_stats(ev)).first()
    va, vb = statistics.variance(a), statistics.variance(b)
    if va == 0 and vb == 0:
        assert got["t_stat"] is None  # zero pooled SE -> NULL, not error
        return
    se2_py = va / len(a) + vb / len(b)
    t_py = (statistics.fmean(a) - statistics.fmean(b)) / math.sqrt(se2_py)
    dof_py = se2_py**2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert math.isclose(got["t_stat"], round(t_py, 6), rel_tol=1e-6, abs_tol=2e-6)
    if not (va == 0 or vb == 0):
        assert math.isclose(got["dof"], round(dof_py, 4), rel_tol=1e-6, abs_tol=2e-4)


# ---- PageRank vs numpy power iteration --------------------------------

_EDGE_SET = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 4)),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(raw_edges=_EDGE_SET, iters=st.sampled_from([1, 2]))
def test_pagerank_matches_numpy_power_iteration(spark, raw_edges, iters):
    import numpy as np

    from free_etl_spark.queries.graph import pagerank

    # collapse duplicates into weights, like transition_edges does
    weights: dict[tuple[int, int], float] = {}
    for s_, d_ in raw_edges:
        weights[(s_, d_)] = weights.get((s_, d_), 0.0) + 1.0
    edges = spark.createDataFrame(
        [(f"n{s_}", f"n{d_}", w) for (s_, d_), w in weights.items()],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["r"] for r in pagerank(edges, iters).collect()}

    nodes = sorted({n for e in weights for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    outw = {}
    for (s_, d_), w in weights.items():
        outw[s_] = outw.get(s_, 0.0) + w
    for (s_, d_), w in weights.items():
        P[idx[d_], idx[s_]] = w / outw[s_]
    dangling = np.array([1.0 if u not in outw else 0.0 for u in nodes])
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dm = float(r @ dangling)
        r = 0.15 / n + 0.85 * (P @ r + dm / n)
    for u in nodes:
        assert abs(got[f"n{u}"] - r[idx[u]]) < 1e-9, (u, got, r)


_EDGE_PAIRS = [(a, b) for a in range(6) for b in range(a + 1, 6)]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edge_idx=st.sets(st.integers(0, len(_EDGE_PAIRS) - 1), min_size=1, max_size=15))
def test_triangle_counts_match_bruteforce(spark, edge_idx):
    """Compact-forward per-node triangle counts equal naive
    combination enumeration on random graphs up to 6 nodes."""
    from itertools import combinations

    from free_etl_spark.queries.graph import triangle_counts

    edges = [_EDGE_PAIRS[i] for i in sorted(edge_idx)]
    eset = {frozenset(e) for e in edges}
    nodes = sorted({n for e in edges for n in e})
    expect = {n: 0 for n in nodes}
    for a, b, c in combinations(nodes, 3):
        if (
            frozenset((a, b)) in eset
            and frozenset((b, c)) in eset
            and frozenset((a, c)) in eset
        ):
            expect[a] += 1
            expect[b] += 1
            expect[c] += 1
    und = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "a string, b string"
    )
    got = {
        r["node"]: r["tri_cnt"] for r in triangle_counts(und).collect()
    }
    assert got == {str(n): c for n, c in expect.items()}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    edge_idx=st.sets(st.integers(0, len(_EDGE_PAIRS) - 1), min_size=1, max_size=15),
    rounds=st.integers(1, 2),
)
def test_label_propagation_matches_bruteforce(spark, edge_idx, rounds):
    """Synchronous mode-label propagation with min tie-break equals a
    direct Python simulation."""
    from collections import Counter

    from free_etl_spark.queries.graph import label_propagation_rounds

    edges = [(str(a), str(b)) for a, b in (_EDGE_PAIRS[i] for i in sorted(edge_idx))]
    nbrs: dict[str, list[str]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {n: n for n in nbrs}
    for _ in range(rounds):
        new = {}
        for n, ns in nbrs.items():
            cnt = Counter(labels[m] for m in ns)
            # tie-break: highest count, then SMALLEST label
            top = max(cnt.values())
            new[n] = min(lab for lab, c in cnt.items() if c == top)
        labels = new
    nb = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
        "node string, nbr string",
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation_rounds(nb, rounds=rounds).collect()
    }
    assert got == labels


_DOC_TOK = st.lists(
    st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=24
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(_DOC_TOK, min_size=1, max_size=5))
def test_substring_spans_match_bruteforce(spark, docs):
    """Strided-window duplicated-span stats equal a direct Python
    computation, including the short-document clamp path."""
    from free_etl_spark.queries.dedup import _SPAN_K, _SPAN_STRIDE
    from free_etl_spark.queries.dedup import substring_span_stats

    def spans_of(toks):
        last = max(len(toks) - (_SPAN_K - 1), 1)
        # 1-based start positions, inclusive clamp — mirrors sequence()
        return [
            " ".join(toks[s - 1 : s - 1 + _SPAN_K])
            for s in range(1, last + 1, _SPAN_STRIDE)
        ]

    all_spans = [(i, sp) for i, toks in enumerate(docs) for sp in spans_of(toks)]
    from collections import defaultdict

    by_span = defaultdict(set)
    for i, sp in all_spans:
        by_span[sp].add(i)
    expect = {}
    for i, toks in enumerate(docs):
        sps = spans_of(toks)
        dup = sum(1 for sp in sps if len(by_span[sp]) >= 2)
        expect[i] = (len(sps), dup, dup * 2 >= len(sps))
    sdf = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_spans"], r["is_dup"])
        for r in substring_span_stats(sdf).collect()
    }
    assert got == expect


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(left=_left_rows, right=_right_rows, tol=st.integers(0, 8))
def test_asof_tolerance_masks_stale_matches(spark, left, right, tol):
    """tolerance= masks any carried match older than tol; otherwise
    identical to the untolerated as-of join."""
    ldf = spark.createDataFrame(
        pd.DataFrame(left, columns=["k", "lt"]), "k int, lt int"
    )
    rdf = spark.createDataFrame(
        pd.DataFrame(right, columns=["k", "rt", "rv"]), "k int, rt int, rv int"
    )
    got = asof_join_backward(
        ldf, rdf, on=["k"], left_ts="lt", right_ts="rt",
        payload_cols=["rv"], tolerance=tol,
    )
    rows = [(r["k"], r["lt"], r["asof_rt"], r["asof_rv"]) for r in got.collect()]
    expect = []
    for k, lt in left:
        best = None
        for rk, rt, rv in right:
            if rk == k and rt <= lt and (best is None or (rt, rv) > best):
                best = (rt, rv)
        if best is not None and lt - best[0] > tol:
            best = None
        expect.append((k, lt, None if best is None else best[0],
                       None if best is None else best[1]))
    key = lambda r: (r[0], r[1], r[2] is None, r[2] or 0, r[3] is None, r[3] or 0)  # noqa: E731
    assert sorted(rows, key=key) == sorted(expect, key=key)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "w"]), min_size=1, max_size=20),
        min_size=1,
        max_size=4,
    )
)
def test_cms_matches_hashlib_replication(spark, docs, tmp_path_factory):
    """The count-min sketch estimate equals a pure-Python hashlib
    replication (independent of both engines' SQL)."""
    import hashlib
    from collections import Counter

    from free_etl_spark.queries.relational import (
        _CMS_D,
        _CMS_W,
        agg_heavy_hitters_cms,
    )

    out_dir = str(tmp_path_factory.mktemp("cms") / "sf")
    sdf = spark.createDataFrame(
        [(i, " ".join(toks), "en", "s", 1) for i, toks in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sdf.write.parquet(out_dir + "/documents.parquet")

    exact = Counter(t for toks in docs for t in toks)
    total = sum(exact.values())
    sketch: dict[tuple[int, int], int] = {}
    for tok, c in exact.items():
        for d in range(_CMS_D):
            b = int(hashlib.md5(f"{d}|{tok}".encode()).hexdigest()[:8], 16) % _CMS_W
            sketch[(d, b)] = sketch.get((d, b), 0) + c
    expect = {}
    for tok, c in exact.items():
        est = min(
            sketch[
                (d, int(hashlib.md5(f"{d}|{tok}".encode()).hexdigest()[:8], 16) % _CMS_W)
            ]
            for d in range(_CMS_D)
        )
        if est * 200 >= total:
            expect[tok] = (c, est)
    got = {
        r["tok"]: (r["exact_cnt"], r["cms_est"])
        for r in agg_heavy_hitters_cms(spark, out_dir).collect()
    }
    assert got == expect


# ---- distributed XLSX round-trip (intake/xlsx_distributed.py) -------------

_cell_text = st.text(
    # printable unicode incl. multibyte, quotes, angle brackets; no
    # control chars (XML 1.0 cannot carry them) — the intake contract
    # is TEXT cells
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), min_codepoint=32
    ),
    max_size=24,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(_cell_text, _cell_text), min_size=1, max_size=12
    )
)
def test_xlsx_distributed_roundtrips_arbitrary_text(spark, rows, tmp_path_factory):
    """write_xlsx → binaryFile+mapInPandas read is IDENTITY for
    arbitrary printable unicode (multibyte, quotes, XML specials):
    escaping bugs anywhere in the writer's inline strings or the
    reader's ElementTree path surface as a mismatch here first."""
    import pandas as pd

    from free_etl_spark.intake.xlsx_distributed import read_xlsx_distributed
    from free_etl_spark.intake.xlsx_lite import write_xlsx

    d = tmp_path_factory.mktemp("xlsxprop")
    pdf = pd.DataFrame(rows, columns=["colx", "coly"])
    (d / "t.xlsx").write_bytes(write_xlsx(pdf))
    got = sorted(
        map(
            tuple,
            read_xlsx_distributed(
                spark, str(d / "*.xlsx"), columns=["colx", "coly"]
            ).collect(),
        )
    )
    assert got == sorted(map(tuple, pdf.itertuples(index=False, name=None)))


def test_density_cap_bounds_fanout_and_is_partition_stable(spark):
    """Density-axis cap invariants (VERDICT r11 task 2): on a
    synthetic HOT window (60 users all active in the same few hour
    buckets — the densification regime that drove kcore to decade
    exponent 1.71, docs/SCALE.md), the per-bucket keep count is
    exactly the cap, the pair fan-out is bounded at C(cap,2) per
    bucket, and the md5-ranked keep-set is IDENTICAL under a
    different input partitioning (no row_number nondeterminism)."""
    import pyspark.sql.functions as F

    from free_etl_spark.queries.graph import _capped_active, _capped_pairs

    rows = [
        (u, f"2024-03-0{d} 0{h}:00:00")
        for u in range(60)
        for d in (1, 2)
        for h in range(3)
    ]
    act = spark.createDataFrame(rows, "u long, b_s string").select(
        "u", F.col("b_s").cast("timestamp").alias("b")
    )
    cap = 8
    kept = _capped_active(act, "yyyy-MM-dd HH", cap)
    occ = kept.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    assert {r["n"] for r in occ.collect()} == {cap}

    pairs_per_bucket = (
        _capped_active(act, "yyyy-MM-dd HH", cap)
        .alias("x")
        .join(
            _capped_active(act, "yyyy-MM-dd HH", cap).alias("y"),
            (F.col("x.b") == F.col("y.b")) & (F.col("x.u") < F.col("y.u")),
        )
        .groupBy(F.col("x.b"))
        .count()
    )
    assert all(r["count"] == cap * (cap - 1) // 2 for r in pairs_per_bucket.collect())

    # partition-stability: same keep-set from a shuffled, repartitioned input
    keep1 = {(r["u"], str(r["b"])) for r in kept.collect()}
    act2 = act.orderBy(F.col("u").desc()).repartition(17, "u")
    keep2 = {
        (r["u"], str(r["b"]))
        for r in _capped_active(act2, "yyyy-MM-dd HH", cap).collect()
    }
    assert keep1 == keep2

    # edges from the capped relation never exceed the all-pairs bound
    # of the KEPT users (6 buckets x C(8,2)), and the >=2-bucket filter
    # holds: every emitted pair shared at least 2 kept buckets
    edges = _capped_pairs(kept)
    assert edges.count() <= 6 * cap * (cap - 1) // 2


# ── partition-grain backfill: sequence convergence (r12) ────────────

_pb_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # partition hit by append
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 99)),
            min_size=1,
            max_size=5,
        ),
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ops=_pb_ops)
def test_partitioned_step_converges_under_arbitrary_appends(
    spark, ops, tmp_path_factory
):
    """Property (VERDICT r11 task 6 family): for ANY sequence of
    appends, each run_partitioned_step run rebuilds exactly the
    partitions whose listings changed, and the materialized output
    always equals a direct recompute over the current source."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from free_etl_spark.plans.pipeline import run_partitioned_step

    root = str(tmp_path_factory.mktemp("pbprop"))
    src, lake = os.path.join(root, "src"), os.path.join(root, "lake")
    part_seq: dict[int, int] = {}

    def append(pk: int, rows: list[tuple[int, int]]) -> None:
        d = os.path.join(src, f"pk={pk}")
        os.makedirs(d, exist_ok=True)
        part_seq[pk] = part_seq.get(pk, 0) + 1
        papq.write_table(
            pa.table({"v": [v for _, v in rows]}),
            os.path.join(d, f"part-{part_seq[pk]}.parquet"),
        )

    def build(sp, inp):
        return inp.groupBy("pk").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("sv"),
        )

    # seed every partition once so listings exist
    for pk in range(4):
        append(pk, [(pk, pk)])
    run_partitioned_step(spark, "agg", src, "pk", build, lake)

    truth: dict[int, list[int]] = {pk: [pk] for pk in range(4)}
    for hit, rows in ops:
        append(hit, rows)
        for _, v in rows:
            truth[hit].append(v)
        m = run_partitioned_step(spark, "agg", src, "pk", build, lake)
        assert m["rebuilt"] == [f"pk={hit}"], m
        got = {
            r["pk"]: (r["n"], r["sv"])
            for r in spark.read.parquet(os.path.join(lake, "agg")).collect()
        }
        want = {pk: (len(vs), sum(vs)) for pk, vs in truth.items()}
        assert got == want
        # stamp file is valid json covering every live partition
        parts = json.load(
            open(os.path.join(lake, "agg", "_parts.json"))
        )
        assert sorted(parts) == [f"pk={i}" for i in range(4)]
