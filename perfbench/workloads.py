"""The three workloads. Each is a closed loop: one client thread issues
an operation only after the previous one returned, on the program's own
session (``local[<cores>]``).

A workload function sets up, runs its timed loop for the requested
seconds, checks every output outside the timed regions, and returns a
``Result``. ``Result.e2e`` holds the end-to-end figures; ``Result.layer``
the per-layer ones, filled in by the traced run.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gen
import harness
import oracle
from tracing import EventLog, Recorder, covered

@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    traced: bool
    sf: float
    cores: int
    rec: Recorder
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(what)


@dataclass
class Result:
    e2e: dict[str, float]
    named: dict[str, float]  # the same figures under workload-specific names
    layer: dict[str, float] = field(default_factory=dict)


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (max, 0) when there are too few samples."""
    s = sorted(xs)
    k = len(s) - 10
    if k < 1:
        return s[-1], 0.0
    return s[k - 1], 100.0 * k / len(s)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _setup(ctx: Ctx, warm_up) -> dict[str, float]:
    """The set-up paid before the first timed operation: launch the JVM
    and start the session, then warm it. Returns its seconds, split."""
    import free_etl_spark.session  # noqa: F401  (imports are not set-up)

    t0 = time.perf_counter()
    with ctx.rec.span("session.start"):
        ctx.spark = harness.start_session()
    t1 = time.perf_counter()
    with ctx.rec.span("session.warm"):
        warm_up(ctx.spark)
    t2 = time.perf_counter()
    return {"setup_s": t2 - t0, "session.start_s": t1 - t0, "session.warm_s": t2 - t1}


def _job_group(spark, group: str, desc: str = "") -> None:
    spark.sparkContext.setJobGroup(group, desc)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


Windows = list[tuple[float, float]]  # (start, end) epoch seconds of timed operations


def _exec_layer(ctx: Ctx, windows: Windows, per: int) -> tuple[dict[str, float], list]:
    """Stop the session (which flushes the event log) and return exec.*
    per operation (``per`` of them) over the jobs submitted inside the
    timed ``windows``, and those jobs. The benchmark's own check jobs
    are left out."""
    app = ctx.spark.sparkContext.applicationId
    harness.stop_session(ctx.spark)
    ctx.spark = None
    log = EventLog(os.path.join(ctx.work, "eventlog"), app)
    jobs = [
        j for j in log.jobs.values()
        if j.group != "check" and any(t0 <= j.start <= t1 for t0, t1 in windows)
    ]
    return log.exec_metrics(jobs, windows, ctx.cores, per), jobs


def _tiny_landing(ctx: Ctx, slow_path: bool) -> str:
    """Small uploads the set-up ingests to warm the intake paths a
    workload takes: two clean CSVs (the fused write) and, with
    ``slow_path``, a malformed one (the FAILFAST reject) and an XLSX."""
    d = os.path.join(ctx.work, "warm_landing")
    os.makedirs(d)
    rows = [[str(j), f"x{j}", str(j * 0.5)] for j in range(200)]
    for i in range(2):
        with open(os.path.join(d, f"warm_{i}.csv"), "wb") as f:
            f.write(gen.csv_bytes(["a", "b", "c"], rows))
    if slow_path:
        with open(os.path.join(d, "warm_bad.csv"), "wb") as f:
            f.write(gen.csv_bytes(["a", "b", "c"], rows + [["1", "2", "3", "4"]]))
        with open(os.path.join(d, "warm_sheet.xlsx"), "wb") as f:
            f.write(gen.xlsx_bytes(["a", "b", "c"], rows[:20]))
    return d


def _warm_ingest(ctx: Ctx, slow_path: bool):
    from free_etl_spark.intake.config import load_cfg
    from free_etl_spark.intake.spark_intake import ingest_directory

    landing = _tiny_landing(ctx, slow_path)

    def warm(spark) -> None:
        out = os.path.join(ctx.work, "warm_out")
        ingest_directory(spark, landing, out, load_cfg({}))
        shutil.rmtree(out, ignore_errors=True)

    return warm


def _wrap_intake(rec: Recorder) -> None:
    rec.wrap("free_etl_spark.intake.spark_intake", "_precheck_csv", "intake.precheck")
    rec.wrap("free_etl_spark.intake.spark_intake", "normalize_to_csv", "intake.normalize")
    rec.wrap("free_etl_spark.intake.spark_intake", "validate_file", "intake.slow_path")


# ---------------------------------------------------------------- intake


def _check_batch(audits, expected: list[gen.Expected], out: str, seen: dict) -> list[str]:
    """Compare audits and normalized outputs with the generator's
    expectations; returns the files that failed. The first
    ingest of a batch is checked cell by cell; repeats must reproduce
    its output bytes."""
    from pyarrow import csv as pacsv
    import pyarrow as pa

    bad = []
    got = {a.original_name: a for a in audits}
    for e in expected:
        a = got.get(e.name)
        ok = a is not None and a.acceptable == e.acceptable
        if ok and not e.acceptable:
            ok = a.issues == e.issues if not e.issue_prefix else (
                len(a.issues) == 1 and a.issues[0].startswith(e.issue_prefix)
            )
        if ok and e.acceptable:
            path = os.path.join(out, os.path.splitext(e.name)[0] + ".csv")
            ok = a.row_count == e.rows and os.path.isfile(path)
            if ok and e.name in seen:
                ok = _sha(path) == seen[e.name]
            elif ok:
                with open(path) as f:
                    header = f.readline().rstrip("\n").split(",")
                tbl = pacsv.read_csv(
                    path,
                    convert_options=pacsv.ConvertOptions(
                        column_types={c: pa.string() for c in header}
                    ),
                )
                ok = gen.rows_digest(tbl.to_pandas()) == e.digest
                if ok:
                    seen[e.name] = _sha(path)
        if not ok:
            bad.append(f"{e.name}: {a.issues if a else 'no audit'}")
    return bad


def intake_batch(ctx: Ctx) -> Result:
    from free_etl_spark.intake.config import load_cfg
    from free_etl_spark.intake.spark_intake import ingest_directory

    tables = gen.build_tables(ctx.sf)
    cfg = load_cfg({})
    batch_mb = 5.0 if ctx.sf >= 0.1 else 0.5
    batches = gen.landing_batches(
        tables, os.path.join(ctx.work, "landing"), ctx.seed, 2, batch_mb, cfg.max_file_mb
    )
    sizes = [
        sum(os.path.getsize(os.path.join(b, e.name)) for e in exp if e.acceptable)
        for b, exp in batches
    ]
    del tables
    layer = _setup(ctx, _warm_ingest(ctx, slow_path=True))
    setup = layer.pop("setup_s")
    if ctx.traced:
        _wrap_intake(ctx.rec)
    times, mb, out_mb, seen, fanout = [], [], [], [{} for _ in batches], []
    windows: Windows = []
    t_start = time.time()
    i = 0
    while i < 3 or time.time() - t_start < ctx.seconds:
        src, exp = batches[i % len(batches)]
        # every upload lands under a new path, as real uploads do: the
        # session may keep plans of earlier files (rejects stay cached)
        bdir = os.path.join(ctx.work, "uploads", f"b{i}")
        os.makedirs(bdir)
        for e in exp:
            os.link(os.path.join(src, e.name), os.path.join(bdir, e.name))
        out = os.path.join(ctx.work, "out", f"b{i}")
        _job_group(ctx.spark, f"intake:b{i}")
        n0 = len(ctx.rec.spans)
        w0, t0 = time.time(), time.perf_counter()
        with ctx.rec.span("intake.batch"):
            audits, _ = ingest_directory(ctx.spark, bdir, out, cfg)
        dt = time.perf_counter() - t0
        windows.append((w0, time.time()))
        times.append(dt)
        mb.append(sizes[i % len(batches)] / 1e6)
        per_file = sum(
            s.end - s.start
            for s in ctx.rec.spans[n0:]
            if s.name in ("intake.precheck", "intake.normalize", "intake.slow_path")
        )
        fanout.append(per_file / dt)
        ctx.attempted += 1
        bad = _check_batch(audits, exp, out, seen[i % len(batches)])
        if bad:
            ctx.fail(f"intake batch {i}: {bad}")
        out_mb.append(_dir_bytes(out) / 1e6)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(bdir, ignore_errors=True)
        i += 1
    warm = times[1:]
    tail_v, tail_p = tail(warm)
    named = {
        "intake.batch_p50_s": _median(warm),
        "intake.batch_tail_s": tail_v,
        "intake.batch_tail_pct": tail_p,
        "intake.mb_per_s": sum(mb[1:]) / sum(warm),
        "intake.batches": len(times),
        "intake.batch_mb": statistics.mean(mb),
        "peak_rss_mb": harness.peak_rss_mb(),
    }
    e2e = {
        "setup_s": setup,
        "cold_s": times[0],
        "warm_s": named["intake.batch_p50_s"],
    }
    if ctx.traced:  # per warm batch
        rec, ww = ctx.rec, windows[1:]
        layer.update(
            {
                "intake.precheck_s": rec.total("intake.precheck", ww) / len(ww),
                "intake.normalize_s": rec.total("intake.normalize", ww) / len(ww),
                "intake.slow_path_s": rec.total("intake.slow_path", ww) / len(ww),
                "intake.files_in_flight": _median(fanout[1:]),
                "intake.files_rejected": sum(not e.acceptable for e in batches[0][1]),
                "intake.files_accepted": sum(e.acceptable for e in batches[0][1]),
                "intake.bytes_out_per_in": sum(out_mb) / sum(mb),
            }
        )
        layer.update(_exec_layer(ctx, ww, len(ww))[0])
    return Result(e2e, named, layer)


# ------------------------------------------------------------- query mix


# A timed query_mix run: SESSIONS fresh sessions, each a cold pass over
# the panel and then WARM_PASSES warm ones. The set-up runs the panel
# untimed first (see _warm_up).
SESSIONS = 2
WARM_PASSES = 1


def _run_query(ctx: Ctx, spark, name: str, tdir: str, group: str) -> tuple:
    """Construct, plan (traced runs only) and write one query to the
    ``noop`` sink; returns (DataFrame, construct, plan, write seconds)."""
    import free_etl_spark.queries as q

    _job_group(ctx.spark, group, "construct")
    t0 = time.perf_counter()
    with ctx.rec.span("queries.construct"):
        df = q.QUERIES[name](spark, tdir)
    t1 = time.perf_counter()
    if ctx.traced:
        with ctx.rec.span("plan.catalyst"):
            df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    _job_group(ctx.spark, group, "write")
    with ctx.rec.span("exec.write"):
        df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return df, t1 - t0, t2 - t1, t3 - t2


def _fresh_session(spark):
    """A fresh session of the running engine: the program's session
    caches start empty, and no relation an earlier session persisted is
    left in the engine's shared cache for it to reuse."""
    spark.catalog.clearCache()
    return spark.newSession()


def _warm_up(ctx: Ctx, names: list[str], tdir: str, took: dict):
    """The set-up's warm-up: one pass over the panel in the launch
    session. It reads every table, starts the Python workers and lets
    the JVM compile the panel's paths. A query that raises here is
    counted when it raises again in a timed pass."""
    def warm(spark) -> None:
        t0 = time.perf_counter()
        for name in names:
            try:
                _run_query(ctx, spark, name, tdir, f"q:{name}:launch")
            except Exception:
                pass
        took["query.launch_pass_s"] = time.perf_counter() - t0

    return warm


def _cache_entries() -> int:
    """Entries held by the program's session caches, where they exist."""
    n = 0
    for mod, attr in (
        ("free_etl_spark.queries.dedup", "_RELATION_CACHE"),
        ("free_etl_spark.operators.prefix", "_PART_CACHE"),
        ("free_etl_spark.streaming.curation", "_STREAM_PLAN_CACHE"),
        ("free_etl_spark.queries.text", "_BPE_FIT_CACHE"),
    ):
        cache = getattr(sys.modules.get(mod), attr, None)
        if cache is not None:
            n += sum(len(v) if isinstance(v, dict) else 1 for v in cache.values())
    return n


def query_mix(ctx: Ctx) -> Result:
    import free_etl_spark.queries as q
    from free_etl_spark.tables import ALL_TABLES

    tdir = os.path.join(ctx.work, "tables")
    gen.write_tables(tdir, ctx.sf)
    names = gen.query_sample(ctx.seed)
    took: dict[str, float] = {}
    layer = _setup(ctx, _warm_up(ctx, names, tdir, took))
    setup = layer.pop("setup_s")
    if ctx.traced:
        ctx.rec.wrap("free_etl_spark.operators.components", "connected_components", "operators.connected_components")
        ctx.rec.wrap("free_etl_spark.operators.hashing", "hamming_band_pairs", "operators.hamming_band_pairs")
    cold: dict[str, list[float]] = {n: [] for n in names}  # one per session
    warm: dict[str, list[float]] = {n: [] for n in names}
    cold_pass: list[float] = []  # Σ over the panel of each session's cold pass
    split = {"construct": 0.0, "plan": 0.0, "write": 0.0, "streaming": 0.0}
    raised: set[str] = set()
    last = {}  # each query's DataFrame of the last pass, for the check
    windows: Windows = []  # one per warm pass
    t_start = time.time()
    s = 0
    while s < SESSIONS or time.time() - t_start < ctx.seconds:
        spark = _fresh_session(ctx.spark)
        for p in range(1 + WARM_PASSES):
            w0 = time.time()
            total = 0.0
            for name in names:
                ctx.attempted += 1
                try:
                    df, c, pl, wr = _run_query(ctx, spark, name, tdir, f"q:{name}:s{s}p{p}")
                except Exception as e:  # one failed query must not end the run
                    raised.add(name)
                    ctx.fail(f"{name}: {str(e).splitlines()[0][:200] if str(e) else repr(e)}")
                    continue
                last[name] = df
                total += c + pl + wr
                if p == 0:
                    cold[name].append(c + pl + wr)
                    continue
                warm[name].append(c + pl + wr)
                split["construct"] += c
                split["plan"] += pl
                split["write"] += wr
                if q.QUERIES[name].__module__.startswith("free_etl_spark.streaming"):
                    split["streaming"] += c
            if p == 0:
                cold_pass.append(total)
            else:
                windows.append((w0, time.time()))
        s += 1
    peak_mb = harness.peak_rss_mb()
    cache_entries = _cache_entries()
    # correctness, untimed: the result of each query's last timed
    # DataFrame against its DuckDB oracle; the oracles run on a second
    # thread while Spark collects
    con = oracle.duckdb_over(tdir, ALL_TABLES)
    checked = [n for n in names if n not in raised]
    _job_group(ctx.spark, "check")
    with ThreadPoolExecutor(1) as pool:
        wants = {n: pool.submit(lambda sql: con.execute(sql).df(), q.ORACLES[n]) for n in checked}
        for name in checked:
            try:
                diff = oracle.frames_differ(last[name].toPandas(), wants[name].result())
            except Exception as e:
                diff = f"check raised {str(e).splitlines()[0][:200] if str(e) else repr(e)}"
            if diff:
                ctx.fail(f"{name}: {diff}", len(cold[name]) + len(warm[name]))
    con.close()
    ok = [n for n in names if n not in raised]
    cold_med = {n: _median(cold[n]) for n in ok}
    warm_med = {n: _median(warm[n]) for n in ok}
    for n in ok:
        print(f"query {n}: cold {cold_med[n]:.3f} s, warm {warm_med[n]:.3f} s", file=sys.stderr)
    print(f"cold passes: {', '.join(f'{t:.3f}' for t in cold_pass)} s", file=sys.stderr)
    warm_all = [t for n in ok for t in warm[n]]
    tail_v, tail_p = tail(warm_all)
    named = {
        "query.cold_total_s": _median(cold_pass),
        "query.warm_total_s": sum(warm_med.values()),
        "query.p50_s": _median(warm_all),
        "query.tail_s": tail_v,
        "query.tail_pct": tail_p,
        "query.launch_pass_s": took.get("query.launch_pass_s", 0.0),
        "query.sampled": len(names),
        "query.sessions": s,
        "peak_rss_mb": peak_mb,
    }
    e2e = {
        "setup_s": setup,
        "cold_s": named["query.cold_total_s"],
        "warm_s": named["query.warm_total_s"],
    }
    if ctx.traced:  # per warm pass
        warm_passes = len(windows)
        layer.update(
            {
                "queries.construct_s": split["construct"] / warm_passes,
                "streaming.construct_s": split["streaming"] / warm_passes,
                "plan.catalyst_s": split["plan"] / warm_passes,
                "exec.write_s": split["write"] / warm_passes,
                "cache.cold_penalty_s": sum(cold_med[n] - warm_med[n] for n in ok),
                "cache.entries": cache_entries,
                "operators.connected_components_s": ctx.rec.total(
                    "operators.connected_components", windows
                ) / warm_passes,
                "operators.hamming_band_pairs_s": ctx.rec.total(
                    "operators.hamming_band_pairs", windows
                ) / warm_passes,
            }
        )
        families: dict[str, float] = {}
        for n in ok:
            fam = n.split("_")[0]
            families[fam] = families.get(fam, 0.0) + warm_med[n]
        for fam in gen.query_families():
            layer[f"query.{fam}.warm_s"] = families.get(fam, 0.0)
        ex, jobs = _exec_layer(ctx, windows, warm_passes)
        eager = [j for j in jobs if j.group.startswith("q:") and j.desc == "construct"]
        layer["queries.eager_jobs"] = len(eager) / warm_passes
        layer.update(ex)
    return Result(e2e, named, layer)


# -------------------------------------------------- incremental curation

CURATION_SCHEMA = "doc_id string, text string, source string"
MIN_WORDS, MAX_WORDS = 5, 100
HAMMING_T = 3
CLEAN_STEPS = {"base_docs", "base_gated", "base_sig"}


def _simhash(df):
    """64-bit simhash of the distinct tokens of ``text``: 64 bits of
    md5 per token, per-bit ±1 vote, sign → bit (the shape of the
    engine's dedup_simhash, so DuckDB replays it exactly)."""
    from pyspark.sql import functions as F

    toks = df.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 16), 16, -10).cast("long")
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.shiftright("h", j).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(f"w{j}")
            for j in range(64)
        ]
    )
    sig = None
    for j in range(64):
        val = -9223372036854775808 if j == 63 else (1 << j)
        bit = F.when(F.col(f"w{j}") > 0, F.lit(val).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return votes.select("doc_id", sig.cast("long").alias("simhash64"))


def curation_steps(norm_base: str, norm_late: str):
    """load → length-window quality gate → exact dedup → simhash near-dup
    (hamming_band_pairs → connected_components) → keep-set shards. The
    initial and late uploads are separate sources, so a late file
    dirties only its own side and the steps after the union."""
    from pyspark.sql import functions as F
    from free_etl_spark.operators.components import connected_components
    from free_etl_spark.operators.hashing import hamming_band_pairs
    from free_etl_spark.plans.pipeline import Step

    def load(src):
        def build(spark, _inputs):
            return spark.read.schema(CURATION_SCHEMA).option("header", True).csv(src).select(
                F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
            )
        return build

    def gate(dep):
        def build(_spark, inputs):
            n = F.size(F.split("text", " "))
            return inputs[dep].filter((n >= MIN_WORDS) & (n <= MAX_WORDS))
        return build

    def sig(dep):
        return lambda _spark, inputs: _simhash(inputs[dep])

    def exact(_spark, inputs):
        both = inputs["base_gated"].unionByName(inputs["late_gated"])
        first = both.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
        return both.join(first.select("doc_id"), "doc_id")

    def sigs(_spark, inputs):
        both = inputs["base_sig"].unionByName(inputs["late_sig"])
        return both.join(inputs["exact"].select("doc_id"), "doc_id")

    def pairs(_spark, inputs):
        return hamming_band_pairs(inputs["sig"], "doc_id", "simhash64", HAMMING_T)

    def components(_spark, inputs):
        edges = inputs["pairs"].select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        return connected_components(inputs["exact"].select(F.col("doc_id").alias("id")), edges)

    def keep(_spark, inputs):
        canon = inputs["components"].filter(F.col("id") == F.col("component"))
        return inputs["exact"].join(canon.select(F.col("id").alias("doc_id")), "doc_id").repartition(8)

    return [
        Step("base_docs", load(norm_base), sources=[norm_base]),
        Step("late_docs", load(norm_late), sources=[norm_late]),
        Step("base_gated", gate("base_docs"), deps=["base_docs"]),
        Step("late_gated", gate("late_docs"), deps=["late_docs"]),
        Step("base_sig", sig("base_gated"), deps=["base_gated"]),
        Step("late_sig", sig("late_gated"), deps=["late_gated"]),
        Step("exact", exact, deps=["base_gated", "late_gated"]),
        Step("sig", sigs, deps=["exact", "base_sig", "late_sig"]),
        Step("pairs", pairs, deps=["sig"]),
        Step("components", components, deps=["exact", "pairs"]),
        Step("keep", keep, deps=["exact", "components"]),
    ]


def replay_keep_set(docs: dict[int, str]) -> tuple[list[int], int]:
    """The same chain in DuckDB (components by union-find over DuckDB's
    pairs): sorted kept doc ids and the near-dup pair count."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.register("docs", pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())}))
    con.execute(
        f"""CREATE TABLE exact AS
        WITH gated AS (SELECT * FROM docs
                       WHERE len(string_split(text, ' ')) BETWEEN {MIN_WORDS} AND {MAX_WORDS})
        SELECT min(doc_id) AS doc_id, any_value(text) AS text FROM gated GROUP BY text"""
    )
    pairs = con.execute(
        f"""WITH tok AS (SELECT DISTINCT doc_id, t.tok
                         FROM exact, UNNEST(string_split(text, ' ')) AS t(tok)),
        h AS (SELECT doc_id,
                     CAST(('0x' || substr(md5(tok), 1, 16))::UBIGINT::HUGEINT
                          - CASE WHEN ('0x' || substr(md5(tok), 1, 16))::UBIGINT
                                      >= 9223372036854775808::HUGEINT
                                 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
                          AS BIGINT) AS h FROM tok),
        b AS (SELECT doc_id, g.j, SUM(CASE WHEN (h >> g.j) & 1 = 1 THEN 1 ELSE -1 END) AS w
              FROM h CROSS JOIN generate_series(0, 63) AS g(j) GROUP BY doc_id, g.j),
        sig AS (SELECT doc_id,
                       CAST(SUM(CASE WHEN w > 0 THEN
                                  CASE WHEN j = 63 THEN (-9223372036854775807 - 1)::HUGEINT
                                       ELSE (1::BIGINT << j)::HUGEINT END
                                ELSE 0::HUGEINT END) AS BIGINT) AS s
                FROM b GROUP BY doc_id)
        SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id AND bit_count(xor(a.s, b.s)) <= {HAMMING_T}"""
    ).fetchall()
    ids = [r[0] for r in con.execute("SELECT doc_id FROM exact").fetchall()]
    con.close()
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted(i for i in ids if find(i) == i), len(pairs)


def curation_incremental(ctx: Ctx) -> Result:
    from free_etl_spark.intake.config import load_cfg
    from free_etl_spark.intake.spark_intake import ingest_directory
    from free_etl_spark.plans.pipeline import run_pipeline

    n_docs = 6000 if ctx.sf >= 0.1 else 300
    corpus = gen.curation_corpus(os.path.join(ctx.work, "corpus"), ctx.seed, n_docs, 8)
    # the keep-set expected after the full run and after each late shard
    late = {i for ids in corpus.late_ids for i in ids}
    landed = {i: t for i, t in corpus.docs.items() if i not in late}
    wants = [replay_keep_set(landed)[0]]
    for ids in corpus.late_ids:
        landed.update((i, corpus.docs[i]) for i in ids)
        keep, want_pairs = replay_keep_set(landed)
        wants.append(keep)
    uploads = os.listdir(corpus.shard_dir)
    n_uploads = len(uploads)
    in_bytes = sum(
        os.path.getsize(os.path.join(corpus.shard_dir, f)) for f in uploads
    ) + sum(os.path.getsize(p) for p in corpus.late_paths)
    cfg = load_cfg({})
    layer = _setup(ctx, _warm_ingest(ctx, slow_path=True))
    setup = layer.pop("setup_s")
    if ctx.traced:
        _wrap_intake(ctx.rec)
        ctx.rec.wrap("free_etl_spark.operators.components", "connected_components", "operators.connected_components")
        ctx.rec.wrap("free_etl_spark.operators.hashing", "hamming_band_pairs", "operators.hamming_band_pairs")
        ctx.rec.wrap("free_etl_spark.plans.pipeline", "_source_fingerprint", "pipeline.fingerprint")
    full, inc, lake_mb, norm_mb, built, skipped = [], [], [], [], [], []
    windows: Windows = []
    t_start = time.time()
    i = 0
    while i < 1 or time.time() - t_start < ctx.seconds:
        it = os.path.join(ctx.work, "cur", str(i))
        landing = os.path.join(it, "landing")
        norm_base, norm_late = os.path.join(it, "norm_base"), os.path.join(it, "norm_late")
        lake = os.path.join(it, "lake")
        shutil.copytree(corpus.shard_dir, landing)
        os.makedirs(norm_late)
        steps = curation_steps(norm_base, norm_late)
        for s in steps:  # tag each step's jobs with its job group
            s.build = _grouped(ctx, s.name, s.build)
        _job_group(ctx.spark, "curation:ingest")
        w0, t0 = time.time(), time.perf_counter()
        with ctx.rec.span("curation.full"):
            audits, _ = ingest_directory(ctx.spark, landing, norm_base, cfg)
            with ctx.rec.span("pipeline.run"):
                m1 = run_pipeline(ctx.spark, steps, lake)
        t1 = time.perf_counter()
        windows.append((w0, time.time()))
        ctx.attempted += 1
        problems = _check_audits(audits, n_uploads)
        problems += _check_curation(ctx, m1, lake, wants[0], set())
        if problems:
            ctx.fail(f"curation full {i}: {problems}")
        full.append(t1 - t0)
        n_built = sum(v["action"] == "built" for v in m1.values())
        for k, late_path in enumerate(corpus.late_paths):  # one late shard lands, the DAG re-runs
            late_landing = os.path.join(it, f"late{k}")
            os.makedirs(late_landing)
            shutil.copy(late_path, late_landing)
            _job_group(ctx.spark, "curation:ingest")
            w2, t2 = time.time(), time.perf_counter()
            with ctx.rec.span("curation.incremental"):
                ingest_directory(ctx.spark, late_landing, norm_late, cfg)
                with ctx.rec.span("pipeline.run"):
                    m2 = run_pipeline(ctx.spark, steps, lake)
            t3 = time.perf_counter()
            windows.append((w2, time.time()))
            ctx.attempted += 1
            problems = _check_curation(ctx, m2, lake, wants[k + 1], CLEAN_STEPS)
            if problems:
                ctx.fail(f"curation incremental {i}.{k}: {problems}")
            inc.append(t3 - t2)
            n_built += sum(v["action"] == "built" for v in m2.values())
            skipped.append(sum(v["action"] == "skipped" for v in m2.values()))
        lake_mb.append(_dir_bytes(lake) / 1e6)
        norm_mb.append((_dir_bytes(norm_base) + _dir_bytes(norm_late)) / 1e6)
        built.append(n_built)
        shutil.rmtree(it, ignore_errors=True)
        i += 1
    named = {
        "curation.full_s": _median(full),
        "curation.incremental_s": _median(inc),
        "curation.iterations": i,
        "peak_rss_mb": harness.peak_rss_mb(),
    }
    e2e = {
        "setup_s": setup,
        "cold_s": named["curation.full_s"],
        "warm_s": named["curation.incremental_s"],
    }
    if ctx.traced:  # per iteration (a full run and the re-run after each late shard)
        rec = ctx.rec
        layer.update(
            {
                "pipeline.run_s": rec.total("pipeline.run", windows) / i,
                "pipeline.self_s": rec.self_time("pipeline.run") / i,
                "pipeline.fingerprint_s": rec.total("pipeline.fingerprint", windows) / i,
                "pipeline.steps_built": statistics.mean(built),
                "pipeline.steps_skipped": statistics.mean(skipped),
                "pipeline.lake_mb_written": statistics.mean(lake_mb),
                "pipeline.write_amp": statistics.mean(lake_mb) * 1e6 / in_bytes,
                "curation.near_dup_pairs": want_pairs,
                "operators.connected_components_s": rec.total("operators.connected_components", windows) / i,
                "operators.hamming_band_pairs_s": rec.total("operators.hamming_band_pairs", windows) / i,
                "intake.precheck_s": rec.total("intake.precheck", windows) / i,
                "intake.normalize_s": rec.total("intake.normalize", windows) / i,
                "intake.slow_path_s": rec.total("intake.slow_path", windows) / i,
                "intake.files_accepted": n_uploads - 1 + len(corpus.late_paths),
                "intake.files_rejected": 1,
                "intake.bytes_out_per_in": statistics.mean(norm_mb) * 1e6 / in_bytes,
            }
        )
        ex, jobs = _exec_layer(ctx, windows, i)
        step_jobs = [j for j in jobs if j.group.startswith("curation:") and j.group != "curation:ingest"]
        layer["pipeline.step_write_s"] = _covered_jobs(step_jobs) / i
        layer.update(ex)
    return Result(e2e, named, layer)


def _grouped(ctx: Ctx, step: str, build):
    """A step builder that first tags the jobs that follow with the
    ``curation:<step>`` job group (run_pipeline writes right after)."""
    def wrapped(spark, inputs):
        _job_group(spark, f"curation:{step}")
        return build(spark, inputs)
    return wrapped


def _covered_jobs(jobs) -> float:
    return covered([(j.start, j.end) for j in jobs], float("-inf"), float("inf"))


def _check_audits(audits, n_uploads: int) -> list[str]:
    """Every upload of the curation landing is accepted, except the
    malformed one, which fails its FAILFAST parse."""
    problems = [] if len(audits) == n_uploads else [f"{len(audits)} audits for {n_uploads} uploads"]
    for a in audits:
        if a.original_name == gen.CURATION_REJECT:
            if a.acceptable or not (a.issues and a.issues[0].startswith("Failed to parse file: ")):
                problems.append(f"{a.original_name} not rejected: {a.issues}")
        elif not a.acceptable:
            problems.append(f"{a.original_name} rejected: {a.issues}")
    return problems


def _check_curation(ctx: Ctx, manifest: dict, lake: str, want: list[int], clean: set[str]) -> list[str]:
    _job_group(ctx.spark, "check")
    problems = []
    for step, rec in manifest.items():
        expect = "skipped" if step in clean else "built"
        if rec["action"] != expect:
            problems.append(f"{step} {rec['action']}, expected {expect}")
    got = sorted(r[0] for r in ctx.spark.read.parquet(os.path.join(lake, "keep")).select("doc_id").collect())
    if got != want:
        problems.append(f"keep-set has {len(got)} docs, replay {len(want)}")
    return problems


WORKLOADS = {
    "intake_batch": intake_batch,
    "query_mix": query_mix,
    "curation_incremental": curation_incremental,
}
