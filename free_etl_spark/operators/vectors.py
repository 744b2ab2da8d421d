"""Shared embedding-vector building blocks for the similarity/dedup
family. Every consumer's DuckDB oracle replays these EXACT semantics
(fold order, 6-dp rounding, the (distance, cent_id) tie-break), so a
change here must be mirrored in each oracle — which is the point of
having one implementation instead of four copies.

All expressions are JVM-side higher-order functions (zip_with +
aggregate folds); no Python stages.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from free_etl_spark import storage

# Above this, a codebook is no longer "small by construction" for
# driver round-trips / broadcasts (VERDICT r14 task 6): K = √N puts
# K×dim×8B at ~0.5 GB per kmeans iteration at 10^12 vectors. Guarded
# paths fall back to distributed forms (localCheckpoint lineage cut,
# unhinted join) instead of moving the codebook through the driver.
_CODEBOOK_DRIVER_CAP_BYTES = 64 << 20


def _codebook_fits_driver(k: int | None, dim: int | None) -> bool:
    if k is None or dim is None:
        return True  # tested scales: K=√N, a few hundred rows
    return k * dim * 8 <= _CODEBOOK_DRIVER_CAP_BYTES


@contextlib.contextmanager
def _maintenance_scope(spark):
    """Scoped confs for the store-maintenance operators (build/append/
    recluster), restored on exit — the run_to_completion precedent:

    - files.minPartitionNum = default parallelism: the corpus often
      arrives as ONE file smaller than maxPartitionBytes (sf0.1's
      embeddings.parquet is ~77 MB), so every argmin/encode pass was
      a single-task scan; a parallelism floor is scale-adaptive (a
      cluster session sizes default_parallelism to its cores) and a
      no-op when the input already splits.
    - AQE partition coalescing off: these plans shuffle kilobyte-wide
      rows far below the advisory size, so coalescing folded the
      partitioned store WRITES to 2-3 tasks (measured 0.8-1.2 s per
      write at sf0.1, ~4x slower than the 32-task form; file count is
      unchanged either way — one file per cell, keyed by the
      repartition). Skew-join handling stays on.

    Measured (tools/profile_recluster_jobs.py, sf0.1, warm): the two
    recluster shapes 25.1 s -> 19.8 s under these two confs."""
    from free_etl_spark.session import default_parallelism

    pairs = {
        "spark.sql.files.minPartitionNum": str(default_parallelism()),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev: dict[str, str | None] = {}
    for key, val in pairs.items():
        try:
            prev[key] = spark.conf.get(key)
        except Exception:
            prev[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, old in prev.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def probe_dim(df: DataFrame, col: str = "emb") -> int:
    """Embedding dimensionality, probed from one row (one tiny job).
    Passing the result as ``dim=`` to the distance/norm helpers swaps
    their interpreted zip_with/aggregate folds for UNROLLED expression
    trees that whole-stage codegen compiles — measured 5.7× on the N×K
    centroid assignment (19.5 s → 3.4 s for 2.8M 64-dim distances).
    Probing (instead of a constant) keeps the fast path correct if the
    corpus is regenerated with a different width."""
    row = df.select(F.size(col)).first()
    return int(row[0])


def l2_sq(a: str, b: str, dim: int | None = None) -> F.Column:
    """Σ (a_i - b_i)² — left-to-right summation (matches list_sum of
    list_transform in the oracles). With ``dim`` the sum is an
    unrolled codegen expression; without it, an interpreted fold. Both
    add the identical terms in the identical order, so they are
    bit-equal and oracle-compatible."""
    if dim is not None:
        expr = F.lit(0.0)
        for i in range(1, dim + 1):
            d = F.element_at(a, i) - F.element_at(b, i)
            expr = expr + d * d
        return expr
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: str, b: str, dim: int | None = None) -> F.Column:
    """Σ a_i·b_i with the same unrolled-vs-fold contract as l2_sq."""
    if dim is not None:
        expr = F.lit(0.0)
        for i in range(1, dim + 1):
            expr = expr + F.element_at(a, i) * F.element_at(b, i)
        return expr
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(col: str = "emb", dim: int | None = None) -> F.Column:
    """Euclidean norm of an array<double> column (same contract)."""
    if dim is not None:
        expr = F.lit(0.0)
        for i in range(1, dim + 1):
            x = F.element_at(col, i)
            expr = expr + x * x
        return F.sqrt(expr)
    return F.sqrt(F.aggregate(F.col(col), F.lit(0.0), lambda a, x: a + x * x))


def centroid_rank(
    vecs: DataFrame, cents: DataFrame, dim: int | None = None
) -> DataFrame:
    """Distance of every vector to every centroid, ranked per vector:
    (vec_id, cent_id, d2, rn) with rn = 1 the nearest centroid.

    ``cents`` is broadcast (the coarse codebook is small by
    construction), so the cross join is map-side; ties break on
    cent_id — the rule every oracle replays. Callers filter
    ``rn == 1`` for assignment or ``rn <= nprobe`` for probing.
    ``vecs``: (vec_id, emb); ``cents``: (cent_id, cemb)."""
    return (
        vecs.join(F.broadcast(cents))
        .select("vec_id", "cent_id", l2_sq("emb", "cemb", dim).alias("d2"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("vec_id").orderBy("d2", "cent_id")),
        )
    )


def assign_nearest(
    vecs: DataFrame,
    cents: DataFrame,
    dim: int | None = None,
    carry: tuple[str, ...] = (),
    with_d2: bool = False,
    k: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as ONE map-side broadcast pass plus
    a ``min_by`` aggregate: (vec_id, cent_id[, *carry]) where cent_id
    minimizes (d2, cent_id) — the IDENTICAL tie-break to
    ``centroid_rank(...).filter(rn == 1)`` (the rule every oracle
    replays), with two plan-shape wins over the window form
    (guide §2.3/§2.4):

    - the N×K ranked relation never crosses an Exchange: min_by does
      partial (map-side) aggregation, so the shuffle carries ~N
      pre-reduced rows instead of N×K rows + a window sort;
    - ``carry`` columns (constant per vec_id — e.g. the embedding
      payload) ride through the aggregate via first(), eliminating
      the join-back that used to shuffle the corpus payload a second
      time just to re-attach it to its own assignment.

    ``with_d2`` additionally returns the winning distance (the same
    ``min(struct(d2, cent_id))`` lexicographic tie-break, so the pair
    is the rn-1 row's, bit-for-bit) for drift/quantization audits.

    ``centroid_rank`` remains the primitive for rn <= nprobe probing,
    where the ranked relation itself is the output.

    ``k`` (when the caller knows the codebook size) guards the
    broadcast (VERDICT r14 task 6): past _CODEBOOK_DRIVER_CAP_BYTES
    the hint is dropped and the planner distributes the all-pairs
    join (nested-loop over codebook partitions) instead of pushing a
    multi-GB relation through the driver and every executor."""
    right = (
        F.broadcast(cents)
        if _codebook_fits_driver(k, dim)
        else cents
    )
    j = vecs.join(right).select(
        "vec_id", *carry, "cent_id", l2_sq("emb", "cemb", dim).alias("d2")
    )
    if with_d2:
        aggs = [F.min(F.struct("d2", "cent_id")).alias("nc")]
        aggs += [F.first(c).alias(c) for c in carry]
        return (
            j.groupBy("vec_id")
            .agg(*aggs)
            .select(
                "vec_id",
                F.col("nc.cent_id").alias("cent_id"),
                F.col("nc.d2").alias("d2"),
                *carry,
            )
        )
    aggs = [F.min_by("cent_id", F.struct("d2", "cent_id")).alias("cent_id")]
    aggs += [F.first(c).alias(c) for c in carry]
    return j.groupBy("vec_id").agg(*aggs)


def cosine_scored_pairs(
    cand: DataFrame,
    emb: DataFrame,
    left: str = "vec_a",
    right: str = "vec_b",
    dim: int | None = None,
) -> DataFrame:
    """Attach exact cosine (rounded to 6 dp, the oracle contract) to
    candidate id pairs: two joins keyed on the pair ids carry each
    side's embedding + norm onto the (few) candidate rows — cost is
    O(|cand|), never corpus².

    ``cand``: (left, right); ``emb``: (vec_id, emb). Returns
    (left, right, cosine)."""
    n = emb.select("vec_id", "emb", norm("emb", dim).alias("nrm"))
    na = n.select(
        F.col("vec_id").alias(left),
        F.col("emb").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    nb = n.select(
        F.col("vec_id").alias(right),
        F.col("emb").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cosine = F.round(
        dot("emb_a", "emb_b", dim) / (F.col("nrm_a") * F.col("nrm_b")), 6
    )
    return (
        cand.join(na, left)
        .join(nb, right)
        .select(left, right, cosine.alias("cosine"))
    )


# ---- corpus-scaled ANN parameters --------------------------------------
#
# Fixed bucketing constants make LSH/IVF candidate generation
# quadratic-over-a-constant (N²/K pairs) as the corpus grows; scaling
# them with N keeps per-bucket work bounded. Each formula is mirrored
# verbatim by a SQL expression on COUNT(*) in every consumer's oracle,
# so both engines derive the SAME parameter from the SAME corpus and
# results stay hash-comparable at any scale factor.

def scaled_centroid_k(n: int) -> int:
    """Coarse-quantizer size K ≈ √N (floor 16): per-bucket pairs
    ~(N/K)²·K = N²/K = N^1.5 total — the standard IVF candidate bound.
    Oracle mirror: GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS
    DOUBLE))) AS BIGINT)). FP-safe: IEEE sqrt cannot cross an integer
    boundary for n < 1e14 unless n is a perfect square, where it is
    exact in both engines."""
    import math

    return max(16, math.ceil(math.sqrt(n)))


def lsh_bits(n: int) -> int:
    """Sign bits per LSH band, ceil(log2 N) clamped to [8, 16]:
    expected bucket occupancy ~N/2^bits stays O(1) until the 16-bit
    cap (the 65536-bucket design dedup_simhash_pairs uses). Oracle
    mirror: LEAST(16, GREATEST(8, CAST(CEIL(LOG2(CAST(COUNT(*) AS
    DOUBLE))) AS INT))). Exact at powers of two in both engines."""
    import math

    return min(16, max(8, math.ceil(math.log2(max(n, 2)))))


def _localize_codebook(
    cent: DataFrame, k: int | None, dim: int | None
) -> DataFrame:
    """Collect a small codebook into a driver-local relation (doubles
    round-trip bit-identically through collect/createDataFrame): every
    downstream reference — broadcast build, ``_codebook`` write, the
    assignment pass — then reads K local rows instead of re-running
    the codebook's source scan per action. Returns ``cent`` unchanged
    past _CODEBOOK_DRIVER_CAP_BYTES (callers keep the distributed
    relation and its lineage)."""
    if not _codebook_fits_driver(k, dim):
        return cent
    return cent.sparkSession.createDataFrame(
        [
            (int(r.cent_id), [float(x) for x in r.cemb])
            for r in cent.collect()
        ],
        "cent_id bigint, cemb array<double>",
    )


def first_k_centroids(emb: DataFrame, k: int) -> DataFrame:
    """Deterministic codebook init: the first K vectors by vec_id —
    the mode every SQL oracle replays (trivially expressible as
    ``WHERE vec_id < K``)."""
    return emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
    )


def kmeans_centroids(
    emb: DataFrame, k: int, iters: int = 2, dim: int | None = None
) -> DataFrame:
    """Lloyd-refined codebook: deterministic first-K-by-id init, then
    ``iters`` assign→mean-update rounds (the emb_kmeans_2iter update
    shape, queries/similarity.py). Assignment is a broadcast argmin
    (map-side); each update shuffles only k×dims partial sums —
    independent of corpus size — and ``iters`` is a compile-time
    constant, so the whole refinement is one fixed DAG, no driver
    loop over data. A cluster that empties keeps its previous centroid
    (coalesce), so the codebook is always exactly K entries.

    Means are rounded to 6 dp per dimension, matching the
    emb_kmeans_2iter oracle contract, so a future SQL mirror can
    replay the refinement FP-stably."""
    cent = first_k_centroids(emb, k)
    for _ in range(iters):
        # one-pass assignment carrying the embedding: no N×K window,
        # no emb join-back per iteration (see assign_nearest)
        asn = assign_nearest(emb, cent, dim, carry=("emb",), k=k)
        upd = (
            asn.select("cent_id", F.posexplode("emb").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cemb_new")
            )
        )
        cent = cent.join(upd, "cent_id", "left").select(
            "cent_id",
            F.coalesce("cemb_new", "cemb").alias("cemb"),
        )
        # truncate the iterative lineage: each round otherwise embeds
        # the previous round's subtree TWICE (assignment join +
        # coalesce fallback), so the lazy plan re-executes earlier
        # rounds exponentially — and every downstream action (store
        # write, _codebook write, PQ sidecars) re-runs the whole
        # refinement again. The codebook is K×dim doubles — the same
        # size class the assignment broadcasts anyway — so a driver
        # round-trip is the cheap plan-cut (guide §3.3: materialise
        # an intermediate to truncate the plan). Exact: doubles
        # round-trip bit-identically through collect/createDataFrame.
        # GUARD (VERDICT r14 task 6): K grows as √N, so at 10^12
        # vectors K×dim×8B is ~0.5 GB per iteration through the
        # driver — past the cap the lineage cut is a localCheckpoint
        # (executor-side materialization, same exactness, no driver
        # round-trip).
        loc = _localize_codebook(cent, k, dim)
        cent = loc if loc is not cent else cent.localCheckpoint(eager=False)
    return cent


# ---- product quantization (residual PQ, the IVF+PQ serving codec) -----


def _pq_subs(col: str, m: int, sub: int) -> F.Column:
    """Slice an array column into M contiguous SUB-wide subvectors."""
    return F.array(*[F.slice(col, i * sub + 1, sub) for i in range(m)])


def _residuals(data: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cent_id, remb = emb − assigned centroid). ``data`` must
    carry (vec_id, emb, cent_id); centroids broadcast."""
    return data.join(
        F.broadcast(cent.select("cent_id", "cemb")), "cent_id"
    ).select(
        "vec_id",
        "cent_id",
        F.zip_with("emb", "cemb", lambda x, y: x - y).alias("remb"),
    )


def pq_codebook(res: DataFrame, m: int, sub: int, c: int) -> DataFrame:
    """Deterministic residual PQ codebook: the first C vectors' (by
    vec_id, the first_k_centroids convention every oracle replays as
    ``WHERE vec_id < C``) residuals, sliced into M subspaces. ``res``:
    (vec_id, remb). Returns (m, c, csub) — ``c`` is the codeword id
    (the donor vec_id), ``csub`` its SUB-dim residual slice."""
    return res.filter(F.col("vec_id") < c).select(
        F.col("vec_id").alias("c"),
        F.posexplode(_pq_subs("remb", m, sub)).alias("m", "csub"),
    )


def pq_encode(res: DataFrame, pq_cb: DataFrame, m: int, sub: int) -> DataFrame:
    """Encode residuals against a PQ codebook: per vector, per
    subspace, the codeword minimizing subspace L2 (ties on codeword
    id — the rule the sim_ivfpq oracle replays). Returns
    (vec_id, pq_code array<tinyint> ordered by subspace), the 8-byte
    serving representation (M=8 codes × 1 byte at C ≤ 128 — tinyint
    is SIGNED, so codeword ids above 127 would wrap negative;
    ivf_write rejects pq_c > 127 for exactly that reason, ADVICE
    r13).

    The argmin is a map-side broadcast join (the codebook is M×C rows)
    + a min-by-struct aggregate — one pass over the corpus, no
    all-pairs anything. The per-subspace minima land as ONE pivoted
    aggregate (groupBy vec_id, pivot m) instead of the former
    groupBy(vec_id, m) → groupBy(vec_id) pair, halving the Exchange
    count: partial aggregation reduces the N×M×C scored rows to N
    rows map-side, and the single shuffle carries those (guide §2.4).
    min(struct(d2, c)) per pivot cell is the identical (d2, c)
    tie-break the oracles replay."""
    vsub = res.select(
        "vec_id", F.posexplode(_pq_subs("remb", m, sub)).alias("m", "sub")
    )
    # unrolled SUB-term L2, same left-to-right add order as the fold
    d2 = F.lit(0.0)
    for i in range(1, sub + 1):
        d = F.element_at("sub", i) - F.element_at("csub", i)
        d2 = d2 + d * d
    enc = (
        vsub.join(F.broadcast(pq_cb), "m")
        .select("vec_id", "m", F.struct(d2.alias("d2"), "c").alias("dc"))
        .groupBy("vec_id")
        .pivot("m", list(range(m)))
        .agg(F.min("dc"))
    )
    return enc.select(
        "vec_id",
        F.array(
            *[F.col(f"`{i}`")["c"].cast("tinyint") for i in range(m)]
        ).alias("pq_code"),
    )


def _pq_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_pq_meta.json")


def pq_meta(path: str) -> dict | None:
    """PQ parameters of an ivf_write store ({"m", "sub", "c"}), or
    None when the store was written without a PQ layer."""
    import json
    import os

    p = _pq_meta_path(path)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _store_has_pq_codes(path: str) -> bool:
    """Driver-only probe: does the store's data schema carry a
    ``pq_code`` column? One pyarrow footer read of a single part file
    — replaces a Spark schema read, which cost a directory-listing
    job plus a footer job per append. Any part file is authoritative:
    ivf_write writes every file with the same schema, and append
    refuses to run before this very check passes."""
    import glob
    import os

    import pyarrow.parquet as pq

    parts = glob.glob(os.path.join(path, "cent_id=*", "*.parquet"))
    if not parts:
        return False
    return "pq_code" in set(pq.read_schema(parts[0]).names)


def _write_pq_sidecar(
    path: str, pq_cb: DataFrame, m: int, sub: int, c: int
) -> None:
    import json
    import os

    pq_cb.write.mode("overwrite").parquet(os.path.join(path, "_pq_codebook"))
    storage.write_atomic(
        _pq_meta_path(path), json.dumps({"m": m, "sub": sub, "c": c})
    )


def _decode_codes(coded: DataFrame, pq_cb: DataFrame) -> DataFrame:
    """(vec_id, cent_id, pq_code) → (vec_id, cent_id, dec): each row's
    M codeword subvectors looked up in the (broadcast, M×C-row) PQ
    codebook and concatenated in subspace order — the decoded
    residual. Pure lookup + flatten: no arithmetic, so materialized
    and on-the-fly decodes are bit-identical."""
    return (
        coded.select(
            "vec_id", "cent_id", F.posexplode("pq_code").alias("m", "c")
        )
        .withColumn("c", F.col("c").cast("long"))
        .join(F.broadcast(pq_cb), ["m", "c"])
        .groupBy("vec_id", "cent_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "csub"))),
                    lambda s: s["csub"],
                )
            ).alias("dec")
        )
    )


def _decoded_meta_path(path: str) -> str:
    import os

    return os.path.join(path, "_pq_decoded_meta.json")


def _store_listing_sig(spark, path: str) -> str:
    """Deterministic signature of the store's CURRENT data-file
    listing (metadata-only — no data read). The decoded sidecar is
    fresh iff the listing it was built from is the listing now."""
    import hashlib

    files = sorted(spark.read.parquet(path).inputFiles())
    return hashlib.md5("\n".join(files).encode()).hexdigest()


def _stamp_decoded(spark, path: str) -> None:
    """Record the store listing the decoded sidecar now matches."""
    import json

    storage.write_atomic(
        _decoded_meta_path(path),
        json.dumps({"sig": _store_listing_sig(spark, path)}),
    )


def write_decoded_sidecar(spark, path: str) -> None:
    """Materialize the decoded-residual relation of a PQ-coded store
    as ``{path}/_pq_decoded`` (partitioned by cent_id, like the store)
    plus a freshness meta recording the data-file-listing signature
    it was built from (VERDICT r13 task 6).

    Why: the streaming ANN probe's static side needs (vec_id,
    cent_id, decoded residual) — computing it per micro-batch decodes
    the whole corpus per trigger. Persisting it makes the per-trigger
    static side a plain pruned parquet read, refreshed only by
    append/recluster/compact. Trade-off (documented): the sidecar is
    dim-wide float64 — storage for compute, the standard serving-node
    cache materialized to disk; production would store float32.

    Crash-safe by the meta-last rule: data append/rewrite before the
    sig update means a crash leaves a STALE sig → readers fall back
    to on-the-fly decode, and the next maintenance call rebuilds."""
    import os

    if pq_meta(path) is None:
        raise ValueError(f"{path} has no PQ layer; nothing to decode")
    pq_cb = spark.read.parquet(os.path.join(path, "_pq_codebook"))
    store = spark.read.parquet(path).select("vec_id", "cent_id", "pq_code")
    _by_cell(_decode_codes(store, pq_cb)).write.mode(
        "overwrite"
    ).partitionBy("cent_id").parquet(os.path.join(path, "_pq_decoded"))
    _stamp_decoded(spark, path)


def pq_decoded(spark, path: str) -> DataFrame | None:
    """The materialized decoded-residual relation, or None when the
    sidecar is absent or STALE (its recorded listing signature no
    longer matches the store's data files — e.g. a crash between a
    data append and the sidecar refresh). Callers fall back to
    on-the-fly decode on None; values are bit-identical either way."""
    import json
    import os

    p = _decoded_meta_path(path)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            sig = json.load(f)["sig"]
    except Exception:
        return None
    if sig != _store_listing_sig(spark, path):
        return None
    return spark.read.parquet(os.path.join(path, "_pq_decoded")).select(
        "vec_id", "cent_id", "dec"
    )


def _by_cell(df: DataFrame) -> DataFrame:
    """Cluster rows by their IVF cell immediately before a
    partitionBy("cent_id") write (the Iceberg write.distribution-mode
    = hash pattern): every cell's rows land in ONE write task, so each
    cent_id directory receives one file per write instead of one per
    (task, cell) pair. Without this the persisted-assignment plans
    (whose pre-write stage keeps the join's task count) fanned the
    sf0.1 store out to ~25 files per cell — a 12x small-file blowup
    that taxed every subsequent partition-pruned probe and full-store
    scan. The one extra shuffle is build/maintenance-time only, keyed
    by the exact column the layout needs; cells are kmeans-balanced
    (~N/K rows), so no write-task skew."""
    return df.repartition("cent_id")


def ivf_write(
    emb: DataFrame,
    path: str,
    k: int | None = None,
    codebook: str = "kmeans",
    iters: int = 2,
    pq_m: int | None = None,
    pq_sub: int | None = None,
    pq_c: int = 64,
) -> DataFrame:
    """Write the corpus IVF-partitioned: assign each vector to its
    nearest of K coarse centroids (K = scaled_centroid_k(N) unless
    given) and partitionBy(cent_id) — the physical layout the IVF
    docstrings promise, making a probe a partition-pruned read instead
    of a corpus scan. Returns the centroid table so callers can rank
    probe targets without re-deriving it.

    ``codebook='kmeans'`` (default) Lloyd-refines the deterministic
    init for ``iters`` rounds — tighter clusters, better probe recall
    at equal nprobe; ``codebook='first_k'`` keeps the raw
    first-K-by-id init (the mode SQL oracles replay verbatim).

    With ``pq_m`` the store also persists the PQ serving layer
    (VERDICT r12 task 2): each row carries its M-byte residual
    ``pq_code`` (array<tinyint>, codes ~dim·8/M× smaller than the raw
    vector — at serving scale the codes ARE the store: an ADC scan
    reads ONLY this column, parquet column pruning never touches the
    raw embeddings), and the sidecars ``_pq_codebook`` (m, c, csub)
    + ``_pq_meta.json`` ride beside ``_codebook`` so append/recluster
    can encode without the caller carrying parameters.

    ``emb``: (vec_id, emb array<double>)."""
    if pq_m is not None and pq_c > 127:
        # pq_code is array<tinyint> (signed): a codeword id > 127
        # would silently wrap negative and every decode/ADC join on c
        # would drop those rows (ADVICE r13, medium). Fail at write
        # time instead of serving silently-wrong distances.
        raise ValueError(
            f"pq_c={pq_c} exceeds 127: pq_code is stored as signed "
            "tinyint; use pq_c <= 127"
        )
    with _maintenance_scope(emb.sparkSession):
        if k is None:
            # one job probes N and dim together (vs a count() pass and
            # a separate first() job — guide §1.2: two scalars, 1 scan)
            n, dim = emb.select(
                F.count(F.lit(1)), F.first(F.size("emb"))
            ).first()
            k = scaled_centroid_k(int(n))
            dim = int(dim)
        else:
            dim = probe_dim(emb)
        if codebook == "kmeans":
            cent = kmeans_centroids(emb, k, iters, dim)
        elif codebook == "first_k":
            # localized: the broadcast build and the _codebook write
            # below then read K driver-local rows instead of each
            # re-running the corpus filter scan (one action fewer,
            # and the remaining ones carry no scan)
            cent = _localize_codebook(first_k_centroids(emb, k), k, dim)
        else:
            raise ValueError(f"unknown codebook mode: {codebook!r}")
        payload = tuple(c for c in emb.columns if c != "vec_id")
        rows = assign_nearest(emb, cent, dim, carry=payload, k=k).select(
            "vec_id", *payload, "cent_id"
        )
        pq_cb = None
        asn_cached = None
        if pq_m is not None:
            if pq_sub is None:
                if dim % pq_m != 0:
                    # a defaulted pq_sub = dim // pq_m would silently
                    # drop the trailing dim % pq_m dimensions from
                    # every code and ADC distance (ADVICE r13).
                    # Callers who truly want truncation must pass
                    # pq_sub explicitly.
                    raise ValueError(
                        f"dim={dim} is not divisible by pq_m={pq_m}; "
                        "pass pq_sub explicitly to truncate trailing "
                        "dimensions"
                    )
                pq_sub = dim // pq_m
            # the assignment relation feeds the residuals, the PQ
            # codebook, the encode AND the final join-back — persist
            # it once instead of re-running the broadcast-argmin pass
            # per reference (guide §5: cache exactly the
            # reused-and-expensive relation)
            rows = asn_cached = rows.persist()
            res = _residuals(rows, cent)
            pq_cb = pq_codebook(res, pq_m, pq_sub, pq_c)
            rows = rows.join(pq_encode(res, pq_cb, pq_m, pq_sub), "vec_id")
        _by_cell(rows).write.mode("overwrite").partitionBy(
            "cent_id"
        ).parquet(path)
        # persist the codebook beside the data (underscore prefix =
        # hidden to Spark's file listing, like _SUCCESS) so ivf_append
        # can assign new vectors without the caller carrying the
        # centroid table
        import os

        cent.write.mode("overwrite").parquet(os.path.join(path, "_codebook"))
        if pq_cb is not None:
            _write_pq_sidecar(path, pq_cb, pq_m, pq_sub, pq_c)
            write_decoded_sidecar(emb.sparkSession, path)
        if asn_cached is not None:
            asn_cached.unpersist()
        return cent


def ivf_append(
    emb_new: DataFrame, path: str, cent: DataFrame | None = None
) -> DataFrame:
    """Incrementally add vectors to an existing ivf_write layout: assign
    each new vector to its nearest centroid of the EXISTING codebook
    (read from ``{path}/_codebook`` unless passed) and append into the
    cent_id-partitioned directory tree. No rebuild — committed cluster
    files are never rewritten, and partition-pruned probes see the new
    vectors immediately (a probe reads whole cent_id=N directories, so
    appended part-files inside them are picked up with no index
    maintenance). This is what a growing corpus needs: O(batch) work
    per append vs O(corpus) for a rebuild; periodic re-clustering only
    when codebook drift degrades probe recall
    (tests/test_ann_quality.py pins recall after append).

    A PQ-coded store (pq_m given at ivf_write) stays PQ-coded: the
    batch's residuals are encoded against the PERSISTED
    ``_pq_codebook`` — never a recomputed one, which would silently
    fork the code space between old and new part files.

    Returns the centroid table used, so callers can chain appends
    without re-reading the codebook."""
    import os

    meta = pq_meta(path)
    if meta is None and _store_has_pq_codes(path):
        # crash window (ADVICE r13): ivf_write writes the PQ-coded
        # data rows BEFORE the _pq_codebook/_pq_meta.json sidecars
        # (the data write clears the directory, so sidecars cannot go
        # first). A crash in between leaves coded rows with no
        # sidecar; appending UNCODED rows here would silently fork
        # the schema (null codes vanish from ADC scans). Fail loudly
        # — the store needs an ivf_write rebuild.
        raise RuntimeError(
            f"store {path} has a pq_code column but no _pq_meta.json "
            "sidecar (crashed ivf_write?); rebuild with ivf_write "
            "before appending"
        )
    with _maintenance_scope(emb_new.sparkSession):
        return _ivf_append_scoped(emb_new, path, cent, meta)


def _ivf_append_scoped(
    emb_new: DataFrame, path: str, cent: DataFrame | None, meta: dict | None
) -> DataFrame:
    import os

    if cent is None:
        cent = emb_new.sparkSession.read.parquet(
            os.path.join(path, "_codebook")
        )
    # dim from ONE codebook row (centroids share the corpus dim by
    # construction) — the former probe_dim(emb_new) was a first() job
    # over the batch scan
    dim = int(cent.select(F.size("cemb")).first()[0])
    payload = tuple(c for c in emb_new.columns if c != "vec_id")
    rows = assign_nearest(emb_new, cent, dim, carry=payload).select(
        "vec_id", *payload, "cent_id"
    )
    spark = emb_new.sparkSession
    pq_cb = None
    decoded_was_fresh = False
    asn_cached = None
    if meta is not None:
        pq_cb = spark.read.parquet(os.path.join(path, "_pq_codebook"))
        # persist the batch assignment (feeds residuals + encode +
        # join-back) AND the coded rows (consumed by both the data
        # append and the decoded-sidecar append below) — O(batch)
        rows = asn_cached = rows.persist()
        res = _residuals(rows, cent)
        rows = rows.join(
            pq_encode(res, pq_cb, meta["m"], meta["sub"]), "vec_id"
        ).persist()
        # probe sidecar freshness BEFORE the data append mutates the
        # listing: fresh → the batch's decoded rows can be appended
        # incrementally; stale/absent → full rebuild below
        decoded_was_fresh = pq_decoded(spark, path) is not None
    _by_cell(rows).write.mode("append").partitionBy("cent_id").parquet(path)
    if meta is not None:
        if decoded_was_fresh:
            # O(batch) sidecar maintenance: decode ONLY the appended
            # rows and append them, then re-stamp the sig (meta-last:
            # a crash in between leaves a stale sig → fallback+rebuild)
            _by_cell(
                _decode_codes(
                    rows.select("vec_id", "cent_id", "pq_code"), pq_cb
                )
            ).write.mode("append").partitionBy("cent_id").parquet(
                os.path.join(path, "_pq_decoded")
            )
            _stamp_decoded(spark, path)
        else:
            write_decoded_sidecar(spark, path)
        rows.unpersist()
    if asn_cached is not None:
        asn_cached.unpersist()
    return cent


def ivf_probe(spark, path: str, cent_ids: list[int]) -> DataFrame:
    """Read only the probed clusters of an ivf_write layout. The
    cent_id IN (...) predicate is a partition filter — Spark prunes
    every other cluster directory at planning time (asserted by
    tests/test_ann_quality.py via inputFiles), so probe cost is
    O(probed clusters) regardless of corpus size.

    Tombstone-aware: vec_ids deleted via ivf_delete but not yet
    compacted away are filtered with a broadcast anti-join against the
    (small, bounded-by-compaction) tombstone set — deletes are visible
    immediately, at zero rewrite cost."""
    df = spark.read.parquet(path).filter(F.col("cent_id").isin(cent_ids))
    tomb = ivf_tombstones(spark, path)
    if tomb is not None:
        df = df.join(F.broadcast(tomb), "vec_id", "left_anti")
    return df


def ivf_tombstones(spark, path: str) -> DataFrame | None:
    """The pending-delete set of an ivf_write layout: distinct vec_ids
    accumulated under ``{path}/_tombstones`` (underscore prefix =
    invisible to Spark's data-file listing, like ``_codebook``).
    Returns None when no deletes are pending — callers skip the
    anti-join entirely, so the read path pays nothing until the first
    delete."""
    import os

    tpath = os.path.join(path, "_tombstones")
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(tpath)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    df = spark.read.parquet(tpath).select("vec_id").distinct()
    return df if df.limit(1).count() else None


def ivf_delete(del_ids: DataFrame, path: str) -> None:
    """Logical delete from an ivf_write layout: append the keys as
    tombstone rows — the O(batch) half of the delete lifecycle. No
    cluster file is touched; ivf_probe masks tombstoned vectors via a
    broadcast anti-join until ivf_compact physically removes them.
    This is the LSM-style split every mutable columnar store uses
    (delete = cheap logical marker, compaction = amortized rewrite):
    at 100 TB a delete batch must not rewrite multi-TB partitions
    synchronously.

    ``del_ids``: any DataFrame with a ``vec_id`` column."""
    import os

    (
        del_ids.select("vec_id")
        .distinct()
        .write.mode("append")
        .parquet(os.path.join(path, "_tombstones"))
    )


def ivf_compact(spark, path: str) -> DataFrame:
    """Physically apply pending tombstones: rewrite ONLY the cluster
    partitions that actually contain tombstoned vectors (untouched
    cent_id directories keep their committed files byte-identical),
    then retire the tombstone set.

    The tombstone dir is the WAL, so compaction needs no marker of its
    own: the cleaned affected cells are written once, partitioned, to
    a stage beside the store; each staged ``cent_id=N`` replaces its
    live cell with ``storage.promote``; cells left empty are dropped;
    ``_tombstones`` is deleted last. ``storage.heal_tree`` on entry
    resolves a crashed swap and discards the stage, and until the
    tombstones go, a re-run recomputes only the cells that still hold
    tombstoned rows. Probes stay CORRECT the whole time — tombstones
    keep masking until the end — with one availability caveat: a
    cluster is briefly unreadable between the two renames of its
    promote, so run compaction as an offline maintenance step, as
    every LSM store does.

    Returns the per-cluster compaction report (cent_id, n_removed) so
    callers can audit what was rewritten. Cost: O(affected partitions),
    not O(corpus)."""
    import os
    import shutil

    storage.heal_tree(path)
    tomb = ivf_tombstones(spark, path)
    report_schema = "cent_id INT, n_removed BIGINT"
    if tomb is None:
        return spark.createDataFrame([], report_schema)
    data = spark.read.parquet(path)
    hit = (
        data.join(F.broadcast(tomb), "vec_id")
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    report = sorted((int(r.cent_id), int(r.n_removed)) for r in hit.collect())
    if report:
        affected = [cid for cid, _ in report]
        stage = path + storage.BUILDING
        clean = data.filter(F.col("cent_id").isin(affected)).join(
            F.broadcast(tomb), "vec_id", "left_anti"
        )
        _by_cell(clean).write.mode("overwrite").partitionBy("cent_id").parquet(
            stage
        )
        for cid in affected:
            cell = f"cent_id={cid}"
            if os.path.isdir(os.path.join(stage, cell)):
                storage.promote(os.path.join(path, cell), os.path.join(stage, cell))
            else:
                # a fully-tombstoned cluster stages nothing: drop its
                # live dir, or retiring the tombstones would resurrect it
                shutil.rmtree(os.path.join(path, cell))
        shutil.rmtree(stage)
    # retire the WAL last — see crash-safety note above
    shutil.rmtree(os.path.join(path, "_tombstones"))
    if report and pq_meta(path) is not None:
        # rows were physically removed: refresh the decoded-residual
        # sidecar (offline maintenance, same budget class as the
        # compaction rewrite itself)
        write_decoded_sidecar(spark, path)
    return spark.createDataFrame(report, report_schema)


def ivf_recluster(
    spark,
    path: str,
    k: int | None = None,
    codebook: str = "kmeans",
    iters: int = 2,
) -> DataFrame:
    """Rebuild the coarse codebook on the CURRENT corpus and atomically
    swap the whole store layout — the ACTION sim_ivf_drift_check
    triggers and sim_ivf_recluster_gain measures (VERDICT r11 task 3).
    ivf_append freezes the build-time codebook, so a grown corpus
    drifts: cells go hot (probe tail latency) and quantization error
    rises (recall). This rebuilds with K regrown to
    scaled_centroid_k(N_current) unless ``k`` is given, APPLIES any
    pending tombstones (the rebuilt store simply excludes them — the
    cheapest compaction there is), and publishes the new layout (data
    partitioned by cent_id + ``_codebook``) with ``storage.promote``
    after ``storage.heal`` resolved any crashed prior swap by its rule.
    A recluster recomputes from the live store, so a discarded
    interrupted build never loses data, and probes against a healed
    store are correct (pending tombstones keep masking until a swap
    completes, because the WAL is inside the store dir and travels
    with it).

    Cost at 100 TB: iters+1 broadcast-codebook argmin passes + iters
    k×dims mean shuffles + ONE full partitioned rewrite — the rewrite
    is the unavoidable part of re-laying-out a store and runs at the
    cluster's full write bandwidth. Run it when drift_check says so,
    not on a schedule. Returns the fresh codebook (read back from the
    promoted store, so a successful return proves the swap)."""
    path = path.rstrip("/")
    storage.heal(path)
    with _maintenance_scope(spark):
        return _ivf_recluster_scoped(spark, path, k, codebook, iters)


def _ivf_recluster_scoped(spark, path, k, codebook, iters) -> DataFrame:
    import os

    stage = path + storage.BUILDING
    data = spark.read.parquet(path)
    # stale per-row columns (the old assignment AND the old PQ codes —
    # both are functions of the centroids being replaced) are dropped;
    # the PQ layer is rebuilt below against the NEW centroids
    emb = data.select(
        *[c for c in data.columns if c not in ("cent_id", "pq_code")]
    )
    tomb = ivf_tombstones(spark, path)
    if tomb is not None:
        emb = emb.join(F.broadcast(tomb), "vec_id", "left_anti")
    if k is None:
        # one job probes N and dim together (guide §1.2)
        n, dim = emb.select(
            F.count(F.lit(1)), F.first(F.size("emb"))
        ).first()
        k = scaled_centroid_k(int(n))
        dim = int(dim)
    else:
        dim = probe_dim(emb)
    if codebook == "kmeans":
        cent = kmeans_centroids(emb, k, iters, dim)
    elif codebook == "first_k":
        cent = _localize_codebook(first_k_centroids(emb, k), k, dim)
    else:
        raise ValueError(f"unknown codebook mode: {codebook!r}")
    payload = tuple(c for c in emb.columns if c != "vec_id")
    rows = assign_nearest(emb, cent, dim, carry=payload, k=k).select(
        "vec_id", *payload, "cent_id"
    )
    meta = pq_meta(path)
    pq_cb = None
    asn_cached = None
    if meta is not None:
        # centroids moved ⇒ every residual moved ⇒ the old codes and
        # the old residual codebook are BOTH stale. Rebuild the
        # codebook deterministically (same params, new residuals) and
        # re-encode the whole corpus — skipping this would leave a
        # PQ-coded store silently serving distances against centroids
        # that no longer exist (VERDICT r12 task 2).
        # persist the assignment once: it feeds residuals, codebook,
        # encode and the join-back within the single stage write
        # (same rationale as ivf_write's PQ path)
        rows = asn_cached = rows.persist()
        res = _residuals(rows, cent)
        pq_cb = pq_codebook(res, meta["m"], meta["sub"], meta["c"])
        rows = rows.join(pq_encode(res, pq_cb, meta["m"], meta["sub"]), "vec_id")
    _by_cell(rows).write.mode("overwrite").partitionBy("cent_id").parquet(stage)
    cent.write.mode("overwrite").parquet(os.path.join(stage, "_codebook"))
    if pq_cb is not None:
        _write_pq_sidecar(stage, pq_cb, meta["m"], meta["sub"], meta["c"])
    storage.promote(path, stage)
    if meta is not None:
        # new centroids + new codes ⇒ the decoded-residual sidecar is
        # entirely new too; recluster already re-encodes O(corpus), so
        # one more decode map pass is within the same budget
        write_decoded_sidecar(spark, path)
    if asn_cached is not None:
        asn_cached.unpersist()
    return spark.read.parquet(os.path.join(path, "_codebook"))


def ivf_list_drift(spark, path: str) -> DataFrame:
    """Per-list drift of an ivf_write store: for every centroid, the
    L2² between its PERSISTED position and the 6-dp mean of its
    CURRENT members (pending tombstones excluded from the stats) —
    the per-list refinement of sim_ivf_drift_check's global ratios.
    Returns (cent_id, drift_d2, n_members). One posexplode mean pass
    over the corpus + a K×dim shuffle; no rewrite."""
    import os

    cent = spark.read.parquet(os.path.join(path, "_codebook"))
    data = spark.read.parquet(path).select("vec_id", "cent_id", "emb")
    tomb = ivf_tombstones(spark, path)
    if tomb is not None:
        data = data.join(F.broadcast(tomb), "vec_id", "left_anti")
    means = (
        data.select("cent_id", F.posexplode("emb").alias("pos", "x"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("memb")
        )
    )
    n = data.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        cent.join(means, "cent_id")
        .join(n, "cent_id")
        .select(
            "cent_id",
            F.round(l2_sq("cemb", "memb"), 6).alias("drift_d2"),
            "n_members",
        )
    )


def ivf_recluster_incremental(
    spark,
    path: str,
    drifted: list[int] | None = None,
    min_drift_d2: float | None = None,
) -> DataFrame:
    """Recluster ONLY the drifted lists of an ivf_write store (VERDICT
    r13 task 5): full ``ivf_recluster`` reassigns and rewrites the
    whole corpus (decade-3 e = 1.02 — rewrite-dominated); this applies
    one Lloyd step to the drifted cells and rewrites only the affected
    partitions, so maintenance cost is proportional to the drifted
    fraction, not the corpus.

    Steps:
      1. ``drifted`` defaults to lists whose ivf_list_drift drift_d2
         exceeds ``min_drift_d2`` (default: the mean drift across
         lists — callers with an SLA pass an absolute threshold).
      2. Each drifted centroid moves to the 6-dp mean of its current
         members (one restricted Lloyd update; centroid IDs — and
         therefore partition keys — never change meaning).
      3. The new argmin is computed for EVERY row against the updated
         codebook — compute-only (map-side broadcast, no shuffle, no
         rewrite; the same O(N·K) pass class as the drift audit).
         Restricting reassignment to rows in drifted lists leaks
         recall — a row whose nearest centroid is now a MOVED one
         would be probed at the moved cell but stored elsewhere
         (measured 0.80 vs 0.92 recall@5); global argmin keeps
         storage consistent with probe routing. Recall parity with
         full recluster is pinned in tests/test_ann_quality.py.
      4. REWRITE set = drifted ∪ sources of moved rows (their
         partitions lose rows / need re-encoding — their full new
         contents are staged). Destinations OUTSIDE that set are
         APPEND-ONLY: the handful of moved-in rows land as new part
         files next to the committed ones (the ivf_append mechanic) —
         a destination partition is never rewritten just to gain two
         rows. This is what makes maintenance IO proportional to the
         drifted fraction + moved rows instead of the eviction
         fan-out × partition size (measured: 0.57 → ~0.05 corpus
         fraction on the hot-clump benchmark, docs/SCALE.md). Movers
         and drifted-list stayers re-encode against the PERSISTED PQ
         codebook (their residuals changed with their centroid);
         everything else keeps its bytes.
      5. The decoded-residual sidecar gets the SAME treatment
         (rewrite partitions replaced, appended rows' decodes moved
         in), ``_codebook`` is replaced with the updated centroids and
         the freshness sig is re-stamped.

    Crash safety: everything — rewritten partitions, appended part
    files, sidecar partitions/appends, the new codebook — is staged
    first, then ``storage.seal``ed with the emptied cids, and
    ``storage.roll_forward`` applies the stage with ``storage.move_in``
    moves (a staged cell replaces its live one; staged append files,
    named by the stage job's UUID, join theirs). Re-entry finishes a
    sealed stage and discards an unsealed one (recomputed from the
    untouched live store). The sig is stamped last, so a crash
    anywhere leaves the sidecar detectably stale (readers fall back
    to on-the-fly decode).

    Tombstoned rows are excluded from drift statistics but carried
    through the rewrite unchanged (they stay masked; ivf_compact is
    the operation that physically removes them).

    Returns the updated codebook read back from the promoted store."""
    import os
    import shutil

    stage = path.rstrip("/") + "__recluster_inc_stage"
    decoded = os.path.join(path, "_pq_decoded")

    def _apply(mark: dict) -> None:
        for cid in mark["emptied"]:
            for root in (path, decoded):
                cell = os.path.join(root, f"cent_id={cid}")
                if os.path.isdir(cell):
                    shutil.rmtree(cell)
        # the rewrite dir also carries the new ``_codebook``
        storage.move_in(os.path.join(stage, "rewrite"), path)
        storage.move_in(os.path.join(stage, "rewrite_dec"), decoded)
        for sub, root in (("append", path), ("append_dec", decoded)):
            sdir = os.path.join(stage, sub)
            if not os.path.isdir(sdir):
                continue
            for cell in os.listdir(sdir):
                if cell.startswith("cent_id="):
                    storage.move_in(
                        os.path.join(sdir, cell), os.path.join(root, cell)
                    )
        if pq_meta(path) is not None:
            _stamp_decoded(spark, path)

    storage.roll_forward(stage, _apply)

    with _maintenance_scope(spark):
        cent = spark.read.parquet(os.path.join(path, "_codebook"))
        # dim from one codebook row (same width as the corpus by
        # construction) — the former probe_dim over the store paid a
        # directory listing + a first() scan job
        dim = int(cent.select(F.size("cemb")).first()[0])
        if drifted is None:
            drift = ivf_list_drift(spark, path)
            if min_drift_d2 is None:
                # robust default: 3× the MEDIAN drift. The mean is pulled
                # up by the very cells we want to select, and a
                # non-converged Lloyd baseline gives every list a small
                # background drift — 3×median separates genuine drift
                # from that noise floor (measured: 1 of 45 lists selected
                # on a hot-clump store vs 9 of 45 with an above-mean rule)
                row = drift.agg(
                    F.expr("percentile(drift_d2, 0.5)").alias("med")
                ).first()
                min_drift_d2 = 3.0 * float(row[0] or 0.0)
            drifted = [
                int(r.cent_id)
                for r in drift.filter(F.col("drift_d2") > min_drift_d2)
                .select("cent_id")
                .collect()
            ]
        if not drifted:
            return cent
        # 2. one restricted Lloyd step: drifted centroids -> member mean
        data = spark.read.parquet(path)
        live_stats = data.select("vec_id", "cent_id", "emb")
        tomb = ivf_tombstones(spark, path)
        if tomb is not None:
            live_stats = live_stats.join(F.broadcast(tomb), "vec_id", "left_anti")
        new_pos = (
            live_stats.filter(F.col("cent_id").isin(drifted))
            .select("cent_id", F.posexplode("emb").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cemb_new")
            )
        )
        cent_upd = cent.join(new_pos, "cent_id", "left").select(
            "cent_id", F.coalesce("cemb_new", "cemb").alias("cemb")
        )
        # Localize the updated codebook (driver cap honored — K counted
        # from the store's cell directories, no job): it is referenced by
        # the broadcast argmin, the PQ re-encode residuals AND the staged
        # ``_codebook`` write, and as a lazy join each reference
        # re-ran the member-mean pass over the drifted cells.
        k_store = sum(
            1 for d in os.listdir(path) if d.startswith("cent_id=")
        )
        cent_upd = _localize_codebook(cent_upd, k_store, dim)
        # 3. GLOBAL argmin against the updated codebook — compute-only
        # (map-side broadcast, no shuffle of data, NO rewrite; the same
        # O(N·K) pass class as the drift audit itself). Restricting the
        # reassignment to rows in drifted lists was measured to leak
        # recall: a row in an undrifted list whose nearest centroid is
        # now a MOVED one would be probed at the moved cell but stored
        # elsewhere (0.80 vs 0.92 recall@5 in the pinned test). The
        # REWRITE below stays proportional to actually-moved rows.
        #
        # The argmin is ONE assign_nearest-shaped pass (broadcast codebook
        # + min_by partial agg) that CARRIES the row payload and the old
        # assignment, and the N-row result is persisted: the former
        # asn_new → changed → in_rw/keep/moved chain re-executed the full
        # N×K window + three vec_id shuffle joins inside every downstream
        # job (srcs collect, rewrite write, append write — measured 3-4
        # recomputations per call, guide §5 "caching is worth it when a
        # DataFrame is reused and recomputing is expensive").
        payload = [c for c in data.columns if c != "cent_id"]
        cand = cent_upd.select(F.col("cent_id").alias("cand_cid"), "cemb")
        if _codebook_fits_driver(k_store, dim):
            cand = F.broadcast(cand)
        scored = (
            data.join(cand)
            .select(
                *payload,
                F.col("cent_id").alias("old_cent"),
                "cand_cid",
                l2_sq("emb", "cemb", dim).alias("d2"),
            )
            .groupBy("vec_id")
            .agg(
                F.min_by("cand_cid", F.struct("d2", "cand_cid")).alias(
                    "new_cent"
                ),
                F.first("old_cent").alias("old_cent"),
                *[F.first(c).alias(c) for c in payload if c != "vec_id"],
            )
            .persist()
        )
        srcs = {
            int(r.old_cent)
            for r in scored.filter(F.col("old_cent") != F.col("new_cent"))
            .select("old_cent")
            .distinct()
            .collect()
        }
        rewrite_set = sorted(set(drifted) | srcs)
        # 4. stage the rewrite partitions' full new contents and the
        # append-only destinations' moved-in rows (see docstring step 4).
        # All movers originate inside rewrite_set (srcs ⊆ rewrite_set);
        # keep/moved are now plain FILTERS on the persisted scored
        # relation — no joins.
        meta = pq_meta(path)
        datacols = data.columns
        keep = (
            scored.filter(F.col("old_cent") == F.col("new_cent"))
            .filter(F.col("old_cent").isin(rewrite_set))
            .select(*payload, F.col("old_cent").alias("cent_id"))
            .select(*datacols)
        )
        moved = (
            scored.filter(F.col("old_cent") != F.col("new_cent"))
            .select(
                *[c for c in payload if not (meta and c == "pq_code")],
                F.col("new_cent").alias("cent_id"),
            )
        )
        pq_cb = None
        if meta is not None:
            # re-encode movers AND drifted-list stayers (their residuals
            # changed with their centroid); undrifted stayers keep codes
            pq_cb = spark.read.parquet(os.path.join(path, "_pq_codebook"))
            stay_drifted = keep.filter(F.col("cent_id").isin(drifted))
            keep = keep.filter(~F.col("cent_id").isin(drifted))
            reenc = moved.unionByName(stay_drifted.drop("pq_code"))
            res = _residuals(reenc, cent_upd)
            moved = reenc.join(
                pq_encode(res, pq_cb, meta["m"], meta["sub"]), "vec_id"
            ).select(*keep.columns)
        rewrite_rows = keep.filter(
            F.col("cent_id").isin(rewrite_set)
        ).unionByName(moved.filter(F.col("cent_id").isin(rewrite_set)))
        append_rows = moved.filter(~F.col("cent_id").isin(rewrite_set))
        _by_cell(rewrite_rows).write.mode("overwrite").partitionBy("cent_id").parquet(
            os.path.join(stage, "rewrite")
        )
        _by_cell(append_rows).write.mode("overwrite").partitionBy("cent_id").parquet(
            os.path.join(stage, "append")
        )
        if meta is not None:
            _by_cell(
                _decode_codes(
                    rewrite_rows.select("vec_id", "cent_id", "pq_code"), pq_cb
                )
            ).write.mode("overwrite").partitionBy("cent_id").parquet(
                os.path.join(stage, "rewrite_dec")
            )
            _by_cell(
                _decode_codes(
                    append_rows.select("vec_id", "cent_id", "pq_code"), pq_cb
                )
            ).write.mode("overwrite").partitionBy("cent_id").parquet(
                os.path.join(stage, "append_dec")
            )
        cent_upd.write.mode("overwrite").parquet(
            os.path.join(stage, "rewrite", "_codebook")
        )
        scored.unpersist()
        emptied = [
            c
            for c in rewrite_set
            if not os.path.isdir(os.path.join(stage, "rewrite", f"cent_id={c}"))
        ]
        storage.seal(stage, {"emptied": emptied})
    # 5. apply + retire
    storage.roll_forward(stage, _apply)
    return spark.read.parquet(os.path.join(path, "_codebook"))
