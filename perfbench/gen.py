"""Seeded input generator for the benchmark, kept apart from the harness.

Everything the program under test sees is written here, from a seed:

- ``write_tables``: the star-schema, ``events``, ``documents`` and
  ``embeddings`` parquet tables the registered queries read. They use
  the schemas, timestamp units (``events.ts`` in ns, the order and ship
  dates in ms) and value domains of the engine's test tables
  (FIXTURES.md family B), drawn from a FIXED table seed: the tables, and
  so each query's cost, are the same for every workload seed.
- ``landing_batches``: CSV uploads cut from those tables plus designed
  rejects and one small XLSX, with the audit each file must receive.
- ``curation_corpus``: document shards (CSV and one XLSX) with planted
  exact and near duplicates, one malformed upload, and the late shards.
- ``query_sample``: the query panel in seed-shuffled order.

The same seed gives byte-identical files. Run as a script to print the
sha256 of every generated file:  python3 perfbench/gen.py --seed 7
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import hashlib
import io
import json
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64


def _us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 10**6


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    """n whole-day timestamp[ms] drawn uniformly from [lo, hi] (microseconds)."""
    day = 86_400 * 10**6
    d = rng.integers(0, (hi - lo) // day + 1, n)
    return pa.array((lo + d * day) // 1000, pa.int64()).cast(pa.timestamp("ms"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def table_rows(sf: float) -> dict[str, int]:
    """Row counts of the engine's test tables at scale factor ``sf``."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": 2000 if sf >= 0.1 else 500,
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    keys = np.arange(np_)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, _us(1995, 1, 1), _us(2001, 8, 1), no),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, _us(1995, 1, 2), _us(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(_us(2024, 1, 1), _us(2024, 1, 31), ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts * 1000, pa.int64()).cast(pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [_doc_text(rng, int(k)) for k in rng.integers(10, 101, nd)]
    # planted duplicates: ~0.2 % exact copies, ~5 % near copies (" dup")
    for i in rng.choice(np.arange(1, nd), max(1, nd // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    emb = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float) -> dict[str, pa.Table]:
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(sf)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# --------------------------------------------------------------- intake


@dataclass
class Expected:
    """The audit a landing file must receive, and for an accepted file
    the row count and order-insensitive content hash of its data rows."""

    name: str
    acceptable: bool
    issues: list[str] = field(default_factory=list)
    issue_prefix: str = ""  # parse failures carry Spark's message after it
    rows: int = 0
    digest: str = ""


def rows_digest(df) -> str:
    """Order-insensitive hash of a table of strings (pandas), with its
    row count: the sum of per-row hashes mod 2**64."""
    import pandas as pd

    h = int(pd.util.hash_pandas_object(df, index=False).to_numpy().sum(dtype=np.uint64))
    return f"{h:016x}:{len(df)}"


def csv_bytes(header: list[str], rows: list[list[str]], sep: str = ",") -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=sep, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def xlsx_bytes(header: list[str], rows: list[list[str]]) -> bytes:
    """A minimal one-sheet workbook with inline strings (stdlib only)."""

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    def col(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    sheet_rows = []
    for ri, row in enumerate([header] + rows, start=1):
        cells = "".join(
            f'<c r="{col(ci)}{ri}" t="inlineStr"><is><t>{esc(v)}</t></is></c>'
            for ci, v in enumerate(row)
            if v != ""
        )
        sheet_rows.append(f'<row r="{ri}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    files = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>'
            + "".join(sheet_rows)
            + "</sheetData></worksheet>"
        ),
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in files.items():
            # fixed timestamp: the same seed gives byte-identical archives
            zf.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), body)
    return buf.getvalue()


def _as_strings(tbl: pa.Table, start: int, n: int) -> pa.Table:
    """Rows [start, start + n) with every column cast to string (dates
    without a time part)."""
    cols = []
    for c in tbl.slice(start, n).columns:
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.date32())
        cols.append(c.cast(pa.string()))
    return pa.table(cols, names=tbl.column_names)


def _lists(t: pa.Table) -> tuple[list[str], list[list[str]]]:
    return list(t.column_names), [list(r) for r in zip(*t.to_pydict().values())]


def _write_csv(t: pa.Table, path: str, sep: str) -> None:
    import pyarrow.csv as pacsv

    opts = pacsv.WriteOptions(delimiter=sep, quoting_style="none")
    pacsv.write_csv(t, path, opts)


def _write_oversize(lineitem: pa.Table, path: str, max_file_mb: int) -> None:
    """lineitem rows, repeated until the file is just over the cap."""
    buf = io.BytesIO()
    _write_csv(_as_strings(lineitem, 0, lineitem.num_rows), buf, ",")
    header, body = buf.getvalue().split(b"\n", 1)
    with open(path, "wb") as f:
        f.write(header + b"\n")
        while f.tell() <= max_file_mb * 1024 * 1024:
            need = max_file_mb * 1024 * 1024 + 256 * 1024 - f.tell()
            f.write(body[: body.index(b"\n", min(need, len(body) - 1)) + 1])


def landing_batches(
    tables: dict[str, pa.Table],
    out_dir: str,
    seed: int,
    n_batches: int,
    batch_mb: float,
    max_file_mb: int,
) -> list[tuple[str, list[Expected]]]:
    """Write ``n_batches`` landing directories under ``out_dir``.

    Each batch holds CSV uploads cut from lineitem/orders/customer at
    random offsets, a few large and many small (about ``batch_mb`` MB of
    CSV in all, delimiters varied), and the designed rejects: a
    malformed row (FAILFAST), a blank header, a duplicate header, a
    ``.txt`` upload, one file over ``max_file_mb``, plus one small XLSX.
    Returns [(batch_dir, expected audits sorted by file name)].
    """
    rng = np.random.default_rng(seed)
    sources = ["lineitem", "orders", "customer"]
    # bytes per CSV row of each source, to size cuts without writing
    per_row = {
        s: sum(len(v) + 1 for c in _as_strings(tables[s], 0, 200).columns
               for v in c.to_pylist()) / 200
        for s in sources
    }
    out = []
    for b in range(n_batches):
        bdir = os.path.join(out_dir, f"batch_{b:02d}")
        os.makedirs(bdir)
        exp: list[Expected] = []
        # 2 large files (~70 % of bytes) and 8 small ones; a fixed count,
        # because the per-file floor sets much of a batch's time
        n_large, n_small = 2, 8
        shares = np.concatenate(
            [
                0.7 * rng.dirichlet(np.ones(n_large)),
                0.3 * rng.dirichlet(np.ones(n_small)),
            ]
        )
        for i, share in enumerate(shares):
            src = sources[int(rng.integers(0, 3))] if i >= n_large else "lineitem"
            tbl = tables[src]
            n = max(20, min(tbl.num_rows, int(share * batch_mb * 1e6 / per_row[src])))
            start = int(rng.integers(0, tbl.num_rows - n + 1))
            cut = _as_strings(tbl, start, n)
            sep = [",", ",", ";", "\t", "|"][int(rng.integers(0, 5))]
            name = f"upload_{i:02d}_{src}.csv"
            _write_csv(cut, os.path.join(bdir, name), sep)
            exp.append(Expected(name, True, rows=n, digest=rows_digest(cut.to_pandas())))
        # designed rejects, each small and cut from customer
        hdr, rows = _lists(_as_strings(tables["customer"], int(rng.integers(0, 100)), 40))
        bad = [r[:] for r in rows]
        bad[int(rng.integers(0, 40))].append("extra_field")
        rejects = {
            "reject_malformed.csv": (csv_bytes(hdr, bad), [], "Failed to parse file: "),
            "reject_blank_header.csv": (
                csv_bytes([hdr[0], ""] + hdr[2:], rows),
                ["One or more column headers are blank."],
                "",
            ),
            "reject_dup_header.csv": (
                csv_bytes(hdr[:2] + [hdr[1]] + hdr[3:], rows),
                ["Duplicate column headers detected."],
                "",
            ),
            "reject_notes.txt": (
                csv_bytes(hdr, rows),
                ["Unsupported file type. Use CSV or XLSX."],
                "",
            ),
        }
        for name, (data, issues, prefix) in rejects.items():
            with open(os.path.join(bdir, name), "wb") as f:
                f.write(data)
            exp.append(Expected(name, False, issues, prefix))
        # one CSV just over the size cap (the program still parses it,
        # as the reference does), written once and linked into each batch
        over = os.path.join(bdir, "reject_oversize.csv")
        if b == 0:
            _write_oversize(tables["lineitem"], over, max_file_mb)
        else:
            os.link(os.path.join(out_dir, "batch_00", "reject_oversize.csv"), over)
        size_mb = os.path.getsize(over) / (1024 * 1024)
        exp.append(
            Expected(
                "reject_oversize.csv",
                False,
                [f"File exceeds max size ({size_mb:.1f} MB > {max_file_mb} MB)."],
            )
        )
        sheet = _as_strings(tables["orders"], int(rng.integers(0, 1000)), 30)
        xh, xrows = _lists(sheet)
        xrows[int(rng.integers(0, 30))][-1] = ""  # an empty cell stays ""
        sheet_df = sheet.to_pandas()
        sheet_df.iloc[:, :] = xrows
        with open(os.path.join(bdir, "upload_sheet.xlsx"), "wb") as f:
            f.write(xlsx_bytes(xh, xrows))
        exp.append(
            Expected("upload_sheet.xlsx", True, rows=30, digest=rows_digest(sheet_df))
        )
        exp.sort(key=lambda e: e.name)
        out.append((bdir, exp))
    return out


# ------------------------------------------------------------- curation


@dataclass
class Corpus:
    shard_dir: str  # landing dir of the initial shards
    late_paths: list[str]  # the late shards, each landed before a re-run
    docs: dict[int, str]  # doc_id -> text over every shard, late included
    late_ids: list[list[int]]  # the doc ids of each late shard


def _corpus_text(rng: np.random.Generator) -> str:
    """3-120 words from a 20 000-word Zipf vocabulary, so unrelated
    documents share few tokens and their simhashes differ widely."""
    ranks = np.minimum(rng.zipf(1.3, int(rng.integers(3, 121))), 20_000)
    return " ".join(f"w{r}" for r in ranks)


LATE_SHARDS = 3  # each lands on its own and is followed by a re-run
CURATION_REJECT = "upload_malformed.csv"  # the one upload intake must reject


def curation_corpus(out_dir: str, seed: int, n_docs: int, n_shards: int) -> Corpus:
    """Document shards (doc_id,text,source) with planted duplicates
    of earlier documents: exact copies, copies with one word repeated
    (same token set, so the same simhash) and copies with one word
    replaced. Copies are made of original documents only, never of
    other copies, so each near-duplicate component is a star around its
    original and connected_components takes about the same number of
    rounds for every seed. The last initial shard is an XLSX workbook,
    and the landing also holds ``CURATION_REJECT``, a malformed CSV
    whose documents never reach the lake. Each late shard (CSV) copies
    some of the initial originals and adds new documents."""
    rng = np.random.default_rng(seed + 7919)
    shard_dir = os.path.join(out_dir, "landing")
    os.makedirs(shard_dir)
    docs: dict[int, str] = {}
    originals: list[int] = []  # copies are made of these only

    def derived() -> str:
        words = docs[originals[int(rng.integers(0, len(originals)))]].split()
        r, k = rng.random(), int(rng.integers(0, len(words)))
        if r < 0.4:
            return " ".join(words)
        if r < 0.7:
            return " ".join(words[: k + 1] + words[k:])
        words[k] = f"w{int(rng.integers(1, 20_000))}"
        return " ".join(words)

    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            docs[i] = derived()
        else:
            docs[i] = _corpus_text(rng)
            originals.append(i)
    ids = list(docs)
    header = ["doc_id", "text", "source"]
    for s in range(n_shards):
        rows = [[str(i), docs[i], f"src{i % 7}"] for i in ids[s::n_shards]]
        if s == n_shards - 1:  # one upload is a workbook (the XLSX path)
            with open(os.path.join(shard_dir, f"shard_{s:02d}.xlsx"), "wb") as f:
                f.write(xlsx_bytes(header, rows))
            continue
        with open(os.path.join(shard_dir, f"shard_{s:02d}.csv"), "wb") as f:
            f.write(csv_bytes(header, rows))
    # and one is malformed: a row with an extra field, rejected whole
    bad = [[str(i), docs[i], f"src{i % 7}"] for i in ids[:40]]
    bad[int(rng.integers(0, 40))].append("extra_field")
    with open(os.path.join(shard_dir, CURATION_REJECT), "wb") as f:
        f.write(csv_bytes(header, bad))
    late_paths, late_ids = [], []
    for k in range(LATE_SHARDS):
        ids, rows = [], []
        for j in range(max(10, n_docs // (2 * n_shards))):
            i = len(docs)
            docs[i] = derived() if j % 3 == 0 else _corpus_text(rng)
            ids.append(i)
            rows.append([str(i), docs[i], f"src{i % 7}"])
        late_paths.append(os.path.join(out_dir, f"late_shard_{k}.csv"))
        with open(late_paths[-1], "wb") as f:
            f.write(csv_bytes(["doc_id", "text", "source"], rows))
        late_ids.append(ids)
    return Corpus(shard_dir, late_paths, docs, late_ids)


# ----------------------------------------------------------------- query


# One query per family, each passing its oracle on these tables. Together
# they cover the builders' paths and three of the four session caches:
# relational (tpch), a global ordered prefix over events
# (operators.prefix _PART_CACHE), the BPE encoder (queries.text
# _BPE_FIT_CACHE), simhash dedup (queries.dedup _RELATION_CACHE, hamming
# bands), pandas UDFs in Python workers, a stream-static join and the SQL
# runner. None writes outside the run's directories. The queries behind
# streaming.curation _STREAM_PLAN_CACHE (streaming_ann_probe,
# streaming_audio_fingerprint_probe) take 6-19 s cold and 3-6 s warm at
# sf0.1, more than the rest of the panel together, so they are left out.
QUERY_PANEL = [
    "tpch_q1_pricing_summary",
    "events_max_concurrency",
    "text_bpe_encode",
    "dedup_simhash_pairs",
    "udf_apply_in_pandas_zscore",
    "streaming_static_enrich",
    "sql_pipe_syntax",
]


def query_families() -> list[str]:
    return sorted({n.split("_")[0] for n in QUERY_PANEL})


def query_sample(seed: int) -> list[str]:
    """The query panel in seed-shuffled order. The order decides which
    query pays each first-use cost of the fresh session."""
    rng = np.random.default_rng(seed + 104729)
    return [QUERY_PANEL[i] for i in rng.permutation(len(QUERY_PANEL))]


def file_digests(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def main() -> None:
    import tempfile

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.001)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as d:
        tables = write_tables(os.path.join(d, "tables"), args.sf)
        landing_batches(tables, os.path.join(d, "intake"), args.seed, 2, 1.0, 1)
        curation_corpus(os.path.join(d, "curation"), args.seed, 200, 4)
        digests = file_digests(d)
    digests["query_sample"] = ",".join(query_sample(args.seed))
    print(json.dumps(digests, indent=1))


if __name__ == "__main__":
    main()
