"""Similarity search over the embeddings table (north-star extension —
SURVEY.md §2B "similarity search").

- sim_cosine_topk: brute-force cosine top-k — the exactness baseline.
  The query side is tiny and broadcast; the candidate scan is a single
  map-side pass, so even brute force parallelizes linearly (the 100 TB
  constraint is the per-query candidate volume, addressed by LSH).
- sim_ann_lsh: bucketed random-projection LSH approximate neighbor
  pairs — the scale path (candidates only within matching hash
  buckets). md5-derived literal planes make it fully value-oracled;
  bits-per-band and the IVF centroid count scale with the corpus
  (operators.vectors.lsh_bits / scaled_centroid_k), mirrored by
  COUNT(*) expressions in the oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from free_etl_spark import cache, storage
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table

_K = 10
_N_QUERIES = 5


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < {_N_QUERIES}),
    p AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             ROUND(list_sum(list_transform(list_zip(q.embedding, c.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                   / (q.nrm * c.nrm), 6) AS cosine
      FROM q JOIN n c ON q.vec_id <> c.vec_id
    )
    SELECT qid, cid, cosine, CAST(rn AS BIGINT) AS rank
    FROM (SELECT qid, cid, cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
          FROM p)
    WHERE rn <= {_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a small query set (ids < 5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    n = emb.select("vec_id", "embedding", nrm.alias("nrm"))
    q = n.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = n.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "c_emb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = F.round(dot / (F.col("q_nrm") * F.col("c_nrm")), 6)
    pairs = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select("qid", "cid", cosine.alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _K)
    )


_LSH_DIM = 64        # embedding dimensionality (embeddings.parquet)
_LSH_BANDS = 4       # hash tables
_LSH_MAX_BITS = 16   # planes generated per band; ceil(log2 N) of them used
_LSH_COS_T = 0.4     # exact-cosine verify threshold on candidates


def _lsh_planes() -> list[list[float]]:
    """Deterministic random hyperplanes: coefficient (p, d) is derived
    from md5(f"{p}|{d}") mapped to [-1, 1). Computed once at
    query-build time and inlined as LITERALS into both the Spark plan
    and the oracle SQL, so both engines hash with bit-identical
    planes — the same trick dedup_minhash_lsh uses for Jaccard.
    _LSH_MAX_BITS planes per band are generated; only the corpus-scaled
    first lsh_bits(N) of each band participate in the key."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8], 16) / 2**31 - 1.0
            for d in range(_LSH_DIM)
        ]
        for p in range(_LSH_BANDS * _LSH_MAX_BITS)
    ]


def _lsh_oracle() -> str:
    planes = _lsh_planes()

    def lit(vals: list[float]) -> str:
        return "[" + ", ".join(repr(v) for v in vals) + "]"

    def dot(p: int) -> str:
        return (
            f"list_sum(list_transform(list_zip(emb, {lit(planes[p])}), "
            "z -> z[1] * z[2]))"
        )

    # bit i participates only when i < the corpus-scaled bit count
    # (parm.bits — the SQL mirror of operators.vectors.lsh_bits)
    band_keys = ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN {i} < parm.bits"
            f" AND {dot(b * _LSH_MAX_BITS + i)} >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(_LSH_MAX_BITS)
        )
        + f") AS k{b}"
        for b in range(_LSH_BANDS)
    )
    bands_union = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, k{b} AS band_key FROM keys"
        for b in range(_LSH_BANDS)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS (
      SELECT LEAST(16, GREATEST(8,
               CAST(CEIL(LOG2(CAST(COUNT(*) AS DOUBLE))) AS INT))) AS bits
      FROM embeddings
    ),
    keys AS (SELECT vec_id, {band_keys} FROM v CROSS JOIN parm),
    bands AS ({bands_union}),
    cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             FROM bands a JOIN bands b
               ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.vec_id < b.vec_id),
    n AS (SELECT vec_id, emb,
                 SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM v)
    SELECT c.vec_a, c.vec_b,
           ROUND(list_sum(list_transform(list_zip(a.emb, b.emb),
                 z -> z[1] * z[2])) / (a.nrm * b.nrm), 6) AS cosine
    FROM cand c JOIN n a ON a.vec_id = c.vec_a JOIN n b ON b.vec_id = c.vec_b
    WHERE ROUND(list_sum(list_transform(list_zip(a.emb, b.emb),
                z -> z[1] * z[2])) / (a.nrm * b.nrm), 6) >= {_LSH_COS_T}
    """


@query("sim_ann_lsh", oracle=_lsh_oracle())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-neighbor pairs via sign-random-projection LSH,
    fully deterministic (md5-derived literal planes → DuckDB replays
    bucketing AND the exact-cosine verify, so the whole pipeline is
    value-oracled):

    1. 4 bands × lsh_bits(N) sign bits — the bit count scales as
       ceil(log2 N) clamped to [8, 16], so bucket occupancy stays O(1)
       up to the 65536-bucket cap (the dedup_simhash_pairs design);
       coefficients inlined as literals from md5(plane|dim), and the
       oracle derives the same bit count from COUNT(*)
    2. per vector: bit i of band b = sign of dot(emb, plane); band key
       packs the bits → 2^bits buckets per band
    3. candidates: vectors sharing any (band_id, band_key) bucket —
       cost scales with bucket collisions, not |corpus|²
    4. verify: exact cosine ≥ τ on candidates only.

    At 100 TB the band join is an equi-join on a compact key and the
    verify touches only candidate pairs — same shape as
    dedup_minhash_lsh. Recall/occupancy are pinned by
    tests/test_ann_quality.py."""
    from free_etl_spark.operators.vectors import cosine_scored_pairs, lsh_bits

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # corpus-scaled bit count: one metadata-cheap count at build time
    # (the oracle computes the identical value from COUNT(*))
    bits = lsh_bits(emb.count())
    cand = lsh_candidate_pairs(emb, bits)
    # NB: the unrolled-dim fast path is deliberately NOT used here —
    # it wins on map-side centroid assignment but measured slower
    # inside the post-join pair-scoring projection (38.8 s vs 31.0 s
    # at the 10x probe), so pair scoring keeps the fold.
    return cosine_scored_pairs(cand, emb).filter(F.col("cosine") >= _LSH_COS_T)


def lsh_band_keys(emb: DataFrame, bits: int) -> DataFrame:
    """(vec_id, band_id, band_key) bucket assignments — the reusable
    LSH core (sim_ann_lsh's steps 1-2), also driven directly by
    tests/test_ann_quality.py for occupancy and planted-near-dup
    recall gates. ``emb``: (vec_id, emb array<double>)."""
    planes = _lsh_planes()
    # all band dots in ONE higher-order expression over a 3D literal
    # plane array (bands × planes × dims), producing the band keys
    # as a single array column. Emitting k0..k3 as separate projections
    # would let Catalyst inline the shared dot computation once per
    # key (4× the work); posexplode evaluates the array exactly once
    # per row and yields (band_id, band_key) directly. The literal is
    # built as ONE SQL string parsed JVM-side: composing it from
    # thousands of nested F.lit/F.array calls costs a py4j round-trip
    # per element (~8s of driver time at 64 planes × 64 dims).
    #
    # Do NOT "optimize" this into unrolled element_at chains (the
    # vectors.py dot/l2_sq fast path): that trick wins 5.7× for ONE
    # 64-term dot per row, but 64 planes × 64 dims in one projection
    # is a ~16k-node expression — Janino fails to compile it, Spark
    # retries then falls back to interpreted for the whole stage, and
    # the query measured ~25× SLOWER (49s vs 1.8s at sf0.1). The
    # interpreted fold over a literal array is the right form at this
    # plane count.
    def _arr(vals) -> str:
        return "array(" + ", ".join(vals) + ")"

    planes3d = F.expr(
        _arr(
            _arr(
                _arr(repr(c) + "D" for c in planes[b * _LSH_MAX_BITS + i])
                for i in range(bits)
            )
            for b in range(_LSH_BANDS)
        )
    )
    band_keys = F.transform(
        planes3d,
        lambda band: F.aggregate(
            F.transform(
                band,
                lambda p, i: F.when(
                    F.aggregate(
                        F.zip_with("emb", p, lambda x, y: x * y),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    >= 0,
                    F.pow(F.lit(2.0), i).cast("int"),  # 2^i exact for i ≤ 15
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )
    return emb.select(
        "vec_id", F.posexplode(band_keys).alias("band_id", "band_key")
    )


def lsh_candidate_pairs(emb: DataFrame, bits: int) -> DataFrame:
    """Distinct (vec_a, vec_b) id pairs sharing any LSH bucket —
    sim_ann_lsh's step 3 (candidate generation), an equi-join on the
    compact (band_id, band_key) key."""
    bands = lsh_band_keys(emb, bits)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    return (
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col("ba.vec_id") < F.col("bb.vec_id")),
        )
        .select(F.col("ba.vec_id").alias("vec_a"), F.col("bb.vec_id").alias("vec_b"))
        .distinct()
    )


_IVF_NPROBE = 4   # clusters searched per query
_IVF_TOPK = 5

# SQL mirror of operators.vectors.scaled_centroid_k: K ≈ √N, floor 16
_SCALED_K_SQL = (
    "SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))"
    " AS k FROM embeddings"
)


def _ivf_nearest4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-nprobe nearest-centroid ranking (vec_id, cent_id, d2, rn)
    for the corpus-scaled IVF codebook — the shared relation under
    sim_ivf_topk, sim_range_search, dedup_embedding_cosine, and
    dedup_semdedup_keep, persisted via the session relation cache
    (the r9 bought_baskets/pcm_frames pattern: one build per
    (session, corpus), every consumer reads the persisted relation).
    Cached POST-filter at rn <= _IVF_NPROBE, so the persisted
    relation is O(nprobe·N) rows — never the N×K ranking input."""
    from free_etl_spark.operators.vectors import (
        centroid_rank,
        probe_dim,
        scaled_centroid_k,
    )

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        cent = emb.filter(
            F.col("vec_id") < scaled_centroid_k(emb.count())
        ).select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"))
        return (
            centroid_rank(emb, cent, probe_dim(emb))
            .filter(F.col("rn") <= _IVF_NPROBE)
            .select("vec_id", "cent_id", "d2", "rn")
        )

    return cache.relation(
        spark, sf_dir, "ivf_nearest4", build, src_table="embeddings.parquet"
    )


@query(
    "sim_ivf_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS ({_SCALED_K_SQL}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    asn AS (  -- coarse assignment: nearest centroid by L2
      SELECT vec_id, cent_id FROM (
        SELECT v.vec_id, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(list_zip(v.emb, cent.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id) AS rn
        FROM v CROSS JOIN cent)
      WHERE rn = 1
    ),
    probe AS (  -- per query: the nprobe nearest centroids
      SELECT vec_id AS qid, cent_id FROM (
        SELECT v.vec_id, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(list_zip(v.emb, cent.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id) AS rn
        FROM v CROSS JOIN cent)
      WHERE rn <= {_IVF_NPROBE} AND vec_id < {_N_QUERIES}
    ),
    nn AS (SELECT vec_id, emb,
                  SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM v),
    cand AS (
      SELECT p.qid, a.vec_id AS cid
      FROM probe p JOIN asn a ON a.cent_id = p.cent_id AND a.vec_id <> p.qid
    )
    SELECT qid, cid, cosine, CAST(rn AS INT) AS rnk FROM (
      SELECT c.qid, c.cid,
             ROUND(list_sum(list_transform(list_zip(q.emb, t.emb),
                   z -> z[1] * z[2])) / (q.nrm * t.nrm), 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
               ROUND(list_sum(list_transform(list_zip(q.emb, t.emb),
                     z -> z[1] * z[2])) / (q.nrm * t.nrm), 6) DESC, c.cid) AS rn
      FROM cand c JOIN nn q ON q.vec_id = c.qid JOIN nn t ON t.vec_id = c.cid)
    WHERE rn <= {_IVF_TOPK}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (north-star "IVF or LSH-bucketed variant"):
    deterministic coarse quantizer (centroids = the first K vectors,
    K ≈ √N corpus-scaled — scaled_centroid_k, mirrored by the oracle's
    COUNT(*) expression), every vector assigned to its nearest centroid
    (argmin over a broadcast centroid table — map-side only), queries
    probe their 4 nearest clusters and rank candidates by exact cosine.
    With K = √N the total candidate volume is N²/K = N^1.5, the
    standard IVF bound — not quadratic-over-a-constant. At 100 TB the
    corpus is written cluster-partitioned (operators.vectors.ivf_write)
    so probes are partition-pruned reads; here clusters live in one
    DataFrame. Recall vs the exact top-k is pinned by
    tests/test_ann_quality.py."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    ranked = _ivf_nearest4(spark, sf_dir)
    asn = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    probe = (
        ranked.filter((F.col("rn") <= _IVF_NPROBE) & (F.col("vec_id") < _N_QUERIES))
        .select(F.col("vec_id").alias("qid"), "cent_id")
    )
    nrm = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x)
    )
    nn = emb.select("vec_id", "emb", nrm.alias("nrm"))
    cand = probe.join(asn, "cent_id").filter(
        F.col("vec_id") != F.col("qid")
    ).select("qid", F.col("vec_id").alias("cid"))
    q = nn.select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    t = nn.select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("t_emb"), F.col("nrm").alias("t_nrm")
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "t_emb", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(t, "cid")
        .select("qid", "cid", F.round(dot / (F.col("q_nrm") * F.col("t_nrm")), 6).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _IVF_TOPK)
        .select("qid", "cid", "cosine", "rnk")
    )


_KM_K = 8


@query(
    "emb_kmeans_2iter",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cent_id, emb AS cemb FROM v WHERE vec_id < {_KM_K}),
    a1 AS (
      SELECT vec_id, cent_id FROM (
        SELECT v.vec_id, c0.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(list_zip(v.emb, c0.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c0.cent_id) AS rn
        FROM v CROSS JOIN c0)
      WHERE rn = 1
    ),
    upd AS (
      SELECT a1.cent_id, g.i AS dim, ROUND(AVG(v.emb[g.i]), 6) AS m
      FROM a1 JOIN v USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
      GROUP BY a1.cent_id, g.i
    ),
    c1 AS (SELECT cent_id, list(m ORDER BY dim) AS cemb FROM upd GROUP BY cent_id),
    a2 AS (
      SELECT vec_id, cent_id, d2 FROM (
        SELECT v.vec_id, c1.cent_id,
               list_sum(list_transform(list_zip(v.emb, c1.cemb),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(list_zip(v.emb, c1.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c1.cent_id) AS rn
        FROM v CROSS JOIN c1)
      WHERE rn = 1
    )
    SELECT vec_id, cent_id, ROUND(d2, 6) AS d2 FROM a2
    """,
)
def emb_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means over the embedding corpus
    (deterministic init: centroids = the first 8 vectors) — the
    clustering step a curation pipeline runs before per-cluster
    sampling/pruning. Unlike sim_ivf_topk (fixed coarse quantizer),
    this executes the centroid UPDATE: assign (broadcast argmin,
    map-side) → recompute centroids (posexplode + per-(cent,dim)
    partial-aggregated mean, rounded to 6dp in both engines so the
    replay is FP-stable) → reassign. Per iteration the shuffle
    carries k×64 partial sums — independent of corpus size; the
    iteration count is a constant, so the whole job is a fixed DAG
    (no driver loop). The oracle unrolls both iterations in SQL."""
    from free_etl_spark.operators.vectors import assign_nearest, probe_dim

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )

    cent0 = emb.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
    )
    dim = probe_dim(emb)
    # one-pass broadcast+min_by assignment carrying the embedding —
    # no N×K window, no join-back of the corpus to its own assignment
    # (identical (d2, cent_id) tie-break; see operators.vectors
    # .assign_nearest and plans/r14/emb_kmeans_2iter_*.txt)
    a1 = assign_nearest(emb, cent0, dim, carry=("emb",))
    upd = (
        a1.select("cent_id", F.posexplode("emb").alias("pos", "x"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
    )
    cent1 = upd.groupBy("cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cemb")
    )
    return assign_nearest(emb, cent1, dim, with_d2=True).select(
        "vec_id", "cent_id", F.round("d2", 6).alias("d2")
    )


@query(
    "emb_centroid_by_label",
    oracle="""
    SELECT label,
           CAST(g.i AS INT) AS dim,
           ROUND(AVG(CAST(embedding[g.i] AS DOUBLE)), 6) AS mean_val,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    GROUP BY label, g.i
    """,
)
def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (training-data curation staple:
    class prototypes for outlier pruning, distillation targets, and
    cluster drift monitoring). posexplode → (label, dim, value) long
    form, then a plain aggregate — the shuffle carries |labels|×64
    partial sums thanks to map-side combine, independent of corpus
    size; at 100 TB this is the only shape that doesn't require an
    array-typed aggregation buffer. dim is 1-based to match SQL list
    indexing."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg("v"), 6).alias("mean_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


@query(
    "emb_outlier_zscore",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    upd AS (
      -- dim bound derives from len(emb) (zipped unnest), not a
      -- hardcoded 64: regenerating the corpus at another width keeps
      -- oracle parity with the Spark side's probe_dim()
      SELECT label, dim, ROUND(AVG(val), 6) AS m FROM (
        SELECT label, unnest(generate_series(1, len(emb))) AS dim,
               unnest(emb) AS val
        FROM v
      ) GROUP BY label, dim
    ),
    cent AS (SELECT label, list(m ORDER BY dim) AS cemb FROM upd
             GROUP BY label),
    d AS (
      SELECT v.vec_id, v.label,
             SQRT(list_sum(list_transform(list_zip(v.emb, c.cemb),
                  z -> (z[1] - z[2]) * (z[1] - z[2])))) AS dist
      FROM v JOIN cent c USING (label)
    ),
    s AS (SELECT label, AVG(dist) AS mu, STDDEV_POP(dist) AS sd
          FROM d GROUP BY label)
    SELECT d.vec_id, d.label, ROUND(d.dist, 6) AS dist,
           ROUND(CASE WHEN s.sd IS NULL OR s.sd = 0 THEN 0.0
                 ELSE (d.dist - s.mu) / s.sd END, 6) AS z,
           ROUND(CASE WHEN s.sd IS NULL OR s.sd = 0 THEN 0.0
                 ELSE (d.dist - s.mu) / s.sd END, 6) >= 2.0 AS is_outlier
    FROM d JOIN s USING (label)
    """,
)
def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class embedding outlier detection (the mislabeled-
    example pruner of a curation pipeline): distance of each vector
    to its OWN class centroid, z-scored within the class; z >= 2
    flags the candidate mislabels/outliers. Three passes, all
    partial-aggregated: class centroids (|labels|x64 shuffle rows,
    means rounded to 6dp on both engines so the replay is FP-stable
    — same contract as emb_kmeans_2iter), per-class distance
    mean/stddev (|labels| rows), then a map-side scoring join of the
    two broadcast dimension tables. Per-class stats come from a
    groupBy + broadcast join, NOT a window over the class partition —
    at 100 TB a class can hold billions of rows and a window would
    funnel each class through one task. The z threshold compares the
    ROUNDED z (round-before-compare, as the cosine gates do) so a
    last-ulp stddev difference can't flip the boundary."""
    from free_etl_spark.operators.vectors import l2_sq, probe_dim

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    dim = probe_dim(emb)
    cent = (
        emb.select("label", F.posexplode("emb").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cemb")
        )
    )
    d = emb.join(F.broadcast(cent), "label").select(
        "vec_id", "label", F.sqrt(l2_sq("emb", "cemb", dim)).alias("dist")
    )
    s = d.groupBy("label").agg(
        F.avg("dist").alias("mu"), F.stddev_pop("dist").alias("sd")
    )
    z = F.round(
        F.when(F.col("sd").isNull() | (F.col("sd") == 0), 0.0).otherwise(
            (F.col("dist") - F.col("mu")) / F.col("sd")
        ),
        6,
    )
    return d.join(F.broadcast(s), "label").select(
        "vec_id",
        "label",
        F.round("dist", 6).alias("dist"),
        z.alias("z"),
        (z >= 2.0).alias("is_outlier"),
    )


@query(
    "sim_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             GREATEST(list_aggregate(list_transform(embedding,
                      x -> ABS(CAST(x AS DOUBLE))), 'max'), 1e-12) AS scale
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(ROUND(emb[1] / scale * 127.0) AS INT) AS q0,
           CAST(ROUND(emb[2] / scale * 127.0) AS INT) AS q1,
           ROUND(ABS(CAST(ROUND(emb[1] / scale * 127.0) AS DOUBLE)
                     * scale / 127.0 - emb[1]), 6) AS recon_err0
    FROM s
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (per-vector absmax
    scale): 4x storage reduction for a 100 TB embedding corpus with
    bounded reconstruction error — the preprocessing step before
    int8 ANN search. All JVM-side array arithmetic; the oracle
    replays the scale/round/reconstruct pipeline exactly."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    absmax = F.aggregate(
        F.col("emb"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.greatest(absmax, F.lit(1e-12))
    q = lambda i: F.round(F.element_at("emb", i) / F.col("scale") * 127.0).cast("int")  # noqa: E731
    out = emb.withColumn("scale", scale)
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        q(1).alias("q0"),
        q(2).alias("q1"),
        F.round(
            F.abs(
                q(1).cast("double") * F.col("scale") / 127.0
                - F.element_at("emb", 1)
            ),
            6,
        ).alias("recon_err0"),
    )


_PQ_M = 8        # subspaces (64-dim embedding -> 8 x 8-dim subvectors)
_PQ_SUB = 8      # dims per subspace
_PQ_C = 64       # codewords per subspace (codebook = first C vectors' subvectors)
_PQ_TOPK = 10
_PQ_R_FLOOR = 50  # ADC shortlist size = max(floor, N/10), corpus-scaled


def _pq_oracle() -> str:
    sub = "[m * {s} + 1 : m * {s} + {s}]".format(s=_PQ_SUB)
    dist = (
        f"list_sum(list_transform(list_zip(v.emb{sub}, cb.cemb{sub}),"
        " z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    pdot = (
        f"list_sum(list_transform(list_zip(q.emb{sub}, cb.cemb{sub}),"
        " z -> z[1] * z[2]))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
    cb AS (SELECT vec_id AS c, emb AS cemb FROM v WHERE vec_id < {_PQ_C}),
    codes AS (
      SELECT vec_id, m, c FROM (
        SELECT v.vec_id, ms.m, cb.c,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, ms.m
                                  ORDER BY {dist}, cb.c) AS rn
        FROM v CROSS JOIN ms CROSS JOIN cb)
      WHERE rn = 1
    ),
    cbsq AS (
      SELECT ms.m, cb.c,
             list_sum(list_transform(cb.cemb{sub}, x -> x * x)) AS sq
      FROM cb CROSS JOIN ms
    ),
    rnorm AS (
      SELECT codes.vec_id, SQRT(SUM(cbsq.sq)) AS rnrm
      FROM codes JOIN cbsq ON codes.m = cbsq.m AND codes.c = cbsq.c
      GROUP BY codes.vec_id
    ),
    q AS (SELECT vec_id AS qid, emb,
                 SQRT(list_sum(list_transform(emb, x -> x * x))) AS qnrm
          FROM v WHERE vec_id < {_N_QUERIES}),
    lut AS (
      SELECT q.qid, ms.m, cb.c, {pdot} AS pdot
      FROM q CROSS JOIN ms CROSS JOIN cb
    ),
    adc AS (
      SELECT lut.qid, codes.vec_id AS cid, SUM(lut.pdot) AS adc_dot
      FROM codes JOIN lut ON codes.m = lut.m AND codes.c = lut.c
      WHERE codes.vec_id <> lut.qid
      GROUP BY lut.qid, codes.vec_id
    ),
    parm AS (SELECT GREATEST({_PQ_R_FLOOR}, COUNT(*) // 10) AS r
             FROM embeddings),
    ranked AS (
      SELECT adc.qid, adc.cid,
             ROUND(adc.adc_dot / (q.qnrm * rnorm.rnrm), 6) AS adc_cosine,
             ROW_NUMBER() OVER (PARTITION BY adc.qid ORDER BY
               ROUND(adc.adc_dot / (q.qnrm * rnorm.rnrm), 6) DESC, adc.cid) AS rn
      FROM adc JOIN q ON q.qid = adc.qid
      JOIN rnorm ON rnorm.vec_id = adc.cid
    ),
    nn AS (SELECT vec_id, emb,
                  SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM v),
    shortlist AS (
      SELECT r.qid, r.cid, r.adc_cosine,
             ROUND(list_sum(list_transform(list_zip(a.emb, b.emb),
                   z -> z[1] * z[2])) / (a.nrm * b.nrm), 6) AS exact_cosine
      FROM ranked r JOIN nn a ON a.vec_id = r.qid JOIN nn b ON b.vec_id = r.cid
      WHERE r.rn <= (SELECT r FROM parm)
    )
    SELECT qid, cid, adc_cosine, exact_cosine, CAST(rn AS INT) AS rnk FROM (
      SELECT qid, cid, adc_cosine, exact_cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY exact_cosine DESC, cid) AS rn
      FROM shortlist)
    WHERE rn <= {_PQ_TOPK}
    """


@query("sim_pq_topk", oracle=_pq_oracle())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) — the fourth member
    of the ANN family next to brute force, LSH, and IVF. The 64-dim
    space splits into M=8 8-dim subspaces; each subspace has a C=64
    codeword codebook (deterministically the first C vectors'
    subvectors, the same first-K-by-id quantizer convention as IVF, so
    DuckDB replays it); every vector encodes as its per-subspace
    nearest codeword. Queries score candidates via ADC (asymmetric
    distance computation): a per-query lookup table of
    query-subvector · codeword partial dots (M×C = 512 entries) turns
    each candidate's approximate dot product into M table lookups —
    the candidate scan reads M small codes per vector (8 B here,
    vs 512 B of raw floats), which is PQ's entire point at 100 TB:
    the code relation is ~64× smaller than the corpus. ADC ranks a
    corpus-scaled shortlist (R = max(50, N/10), mirrored by the
    oracle's COUNT(*) expression — isotropic synthetic vectors are
    PQ's worst case, so R scales with N to hold recall; clustered
    real embeddings would need a smaller R) whose raw vectors alone
    are fetched for the exact cosine re-rank to top-k — the standard
    two-stage PQ serving shape. Approximate cosine normalizes by the
    RECONSTRUCTED norm (the true norm is unknown to a code-only
    scan). Plan shape: codebook (64 rows), LUT (512·5 rows) and
    queries (5) all broadcast; encoding is one map pass over the
    corpus; the ADC aggregation is the only corpus-sized shuffle.
    Recall@10 vs the exact answer is pinned by
    tests/test_ann_quality.py."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    subs = F.array(
        *[F.slice("emb", m * _PQ_SUB + 1, _PQ_SUB) for m in range(_PQ_M)]
    )
    vsub = emb.select("vec_id", F.posexplode(subs).alias("m", "sub"))
    cb = emb.filter(F.col("vec_id") < _PQ_C).select(
        F.col("vec_id").alias("c"), F.posexplode(subs).alias("m", "csub")
    )
    # unrolled 8-term distance (identical add order to the oracle's
    # list_sum fold): the encode join is map-side (broadcast codebook),
    # the context where the codegen-native form wins (see vectors.py
    # probe_dim note)
    d2 = F.lit(0.0)
    for _i in range(1, _PQ_SUB + 1):
        _d = F.element_at("sub", _i) - F.element_at("csub", _i)
        d2 = d2 + _d * _d
    # argmin as a hash aggregate (min over (d2, c) structs — struct
    # ordering gives the same deterministic (distance, codeword)
    # tie-break as the oracle's ROW_NUMBER) instead of a row_number
    # window: no sort, and the N×C candidate rows partial-aggregate
    # map-side down to N×M code rows before the shuffle.
    codes = (
        vsub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", F.struct(d2.alias("d2"), "c").alias("dc"))
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("dc"))
        .select("vec_id", "m", F.col("dc.c").alias("c"))
    )
    cbsq = cb.select(
        "m",
        "c",
        F.aggregate(
            F.col("csub"), F.lit(0.0), lambda a, x: a + x * x
        ).alias("sq"),
    )
    rnorm = (
        codes.join(F.broadcast(cbsq), ["m", "c"])
        .groupBy("vec_id")
        .agg(F.sqrt(F.sum("sq")).alias("rnrm"))
    )
    full_nrm = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x)
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.posexplode(subs).alias("m", "qsub"),
    )
    qn = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), full_nrm.alias("qnrm")
    )
    pdot = F.aggregate(
        F.zip_with("qsub", "csub", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    lut = q.join(F.broadcast(cb), "m").select("qid", "m", "c", pdot.alias("pdot"))
    adc = (
        codes.join(F.broadcast(lut), ["m", "c"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("pdot").alias("adc_dot"))
    )
    ranked = (
        adc.join(F.broadcast(qn), "qid")
        .join(rnorm, adc.cid == rnorm.vec_id)
        .select(
            "qid",
            "cid",
            F.round(F.col("adc_dot") / (F.col("qnrm") * F.col("rnrm")), 6).alias(
                "adc_cosine"
            ),
        )
    )
    shortlist_r = max(_PQ_R_FLOOR, emb.count() // 10)
    w = Window.partitionBy("qid").orderBy(F.col("adc_cosine").desc(), F.col("cid"))
    top = ranked.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= shortlist_r
    )
    nn = emb.select("vec_id", "emb", full_nrm.alias("nrm"))
    a = nn.select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = nn.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    exact = F.aggregate(
        F.zip_with("a_emb", "b_emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        top.join(F.broadcast(a), "qid")
        .join(b, "cid")
        .select(
            "qid",
            "cid",
            "adc_cosine",
            F.round(exact / (F.col("a_nrm") * F.col("b_nrm")), 6).alias(
                "exact_cosine"
            ),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("exact_cosine").desc(), F.col("cid")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("qid", "cid", "adc_cosine", "exact_cosine", "rnk")
    )


_HN_K = 5


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < {_N_QUERIES}),
    p AS (
      SELECT q.vec_id AS qid, q.label AS q_label,
             c.vec_id AS neg_id, c.label AS neg_label,
             ROUND(list_sum(list_transform(list_zip(q.emb, c.emb),
                   z -> z[1] * z[2])) / (q.nrm * c.nrm), 6) AS cosine
      FROM q JOIN n c ON q.label <> c.label
    )
    SELECT qid, q_label, neg_id, neg_label, cosine, CAST(rn AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, neg_id) AS rn FROM p)
    WHERE rn <= {_HN_K}
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar vectors carrying a DIFFERENT label — the
    negatives that actually teach an embedding model (random negatives
    are trivially separable; the hard ones sit near the decision
    boundary). Same broadcast-query scan shape as sim_cosine_topk
    with a label-inequality predicate pushed into the join; at
    corpus scale the candidate side would route through the LSH/IVF
    bucket index first (sim_ann_lsh / sim_ivf_topk) — this is the
    exactness baseline over the label partition."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    nrm = F.sqrt(F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x))
    n = emb.select("vec_id", "label", "emb", nrm.alias("nrm"))
    q = n.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = n.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    dot_qc = F.aggregate(
        F.zip_with("q_emb", "c_emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("q_label") != F.col("neg_label"))
        .select(
            "qid",
            "q_label",
            "neg_id",
            "neg_label",
            F.round(dot_qc / (F.col("q_nrm") * F.col("c_nrm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("neg_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _HN_K)
    )


_MRL_DIMS = 32        # truncation prefix (matryoshka-style)
_MRL_SHORTLIST = 100  # truncated-space candidates per query
_MRL_K = 5           # final exact-reranked neighbors


@query(
    "sim_matryoshka_rerank",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, emb,
             SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm,
             SQRT(list_sum(list_transform(emb[1:{_MRL_DIMS}], x -> x * x)))
               AS tnrm
      FROM e
    ),
    q AS (SELECT * FROM n WHERE vec_id < {_N_QUERIES}),
    tp AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             ROUND(list_sum(list_transform(
                     list_zip(q.emb[1:{_MRL_DIMS}], c.emb[1:{_MRL_DIMS}]),
                     z -> z[1] * z[2])) / (q.tnrm * c.tnrm), 6) AS tcos,
             ROUND(list_sum(list_transform(list_zip(q.emb, c.emb),
                     z -> z[1] * z[2])) / (q.nrm * c.nrm), 6) AS cosine
      FROM q JOIN n c ON q.vec_id <> c.vec_id
    ),
    short AS (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY tcos DESC, cid) AS trn
      FROM tp
    )
    SELECT qid, cid, cosine, CAST(rn AS BIGINT) AS rank
    FROM (SELECT qid, cid, cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, cid) AS rn
          FROM short WHERE trn <= {_MRL_SHORTLIST})
    WHERE rn <= {_MRL_K}
    """,
)
def sim_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-embedding shortlist + exact re-rank (the Matryoshka-
    representation serving pattern): candidate generation scores only
    the first 32 of 64 dimensions — a 2x FLOP cut, and with the
    prefix stored as its own column a 2x scan-bytes cut — then the
    exact full-dimension cosine re-ranks the 100-candidate shortlist
    to a final top-5 (dims/shortlist sized empirically: 32/100 gives
    mean recall@5 0.92 on this corpus where an untrained 16-dim
    slice with a 50 shortlist managed only 0.64). At 100 TB the
    truncated pass is the only corpus-wide work and is ~prefix/full
    cheaper than brute force; the re-rank touches 100 rows per query. Shortlist membership and
    both rankings order by 6dp-ROUNDed cosines with cid tie-breaks,
    so both engines cut identical candidate sets. In this corpus the
    16-dim prefix is an unnormalized slice (no MRL training), so the
    shortlist is a genuine approximation; the oracle replays the
    same approximation, and tests/test_ann_quality.py pins its
    recall against the exact top-k."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    trunc = F.slice(F.col("emb"), 1, _MRL_DIMS)
    sumsq = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x
    )
    n = emb.select(
        "vec_id",
        "emb",
        F.sqrt(sumsq(F.col("emb"))).alias("nrm"),
        F.sqrt(sumsq(trunc)).alias("tnrm"),
    )
    q = n.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("tnrm").alias("q_tnrm"),
    )
    c = n.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("tnrm").alias("c_tnrm"),
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    tcos = F.round(
        dot(F.slice(F.col("q_emb"), 1, _MRL_DIMS), F.slice(F.col("c_emb"), 1, _MRL_DIMS))
        / (F.col("q_tnrm") * F.col("c_tnrm")),
        6,
    )
    cosine = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")),
        6,
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select("qid", "cid", tcos.alias("tcos"), cosine.alias("cosine"))
    )
    wt = Window.partitionBy("qid").orderBy(F.desc("tcos"), "cid")
    short = pairs.withColumn("trn", F.row_number().over(wt)).filter(
        F.col("trn") <= _MRL_SHORTLIST
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return (
        short.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= _MRL_K)
        .select("qid", "cid", "cosine", "rank")
    )


@query(
    "sim_ivf_append",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    base AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
    newb AS (SELECT * FROM v WHERE vec_id % 10 = 0),
    kk AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                    AS BIGINT)) AS k FROM base),
    cent AS (
      SELECT vec_id AS cent_id, emb AS cemb FROM base
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)
    ),
    a_base AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM base b CROSS JOIN cent c)
      WHERE rn = 1
    ),
    a_new AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM newb b CROSS JOIN cent c)
      WHERE rn = 1
    )
    SELECT nb.cent_id, nb.n_base,
           CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new
    FROM (SELECT cent_id, COUNT(*) AS n_base FROM a_base GROUP BY cent_id) nb
    LEFT JOIN (SELECT cent_id, COUNT(*) AS n_new FROM a_new GROUP BY cent_id) nn
      USING (cent_id)
    """,
)
def sim_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance (operators.vectors.ivf_append):
    new vectors (every 10th vec_id stands in for an arriving batch) are
    assigned to the EXISTING base-corpus codebook — the map-side argmin
    against the broadcast centroid table — and appended into the
    cent_id-partitioned layout without a rebuild. The query exposes the
    relational core of the append (per-cluster base vs appended
    occupancy) so DuckDB replays the assignment exactly; the physical
    layout semantics (append-only part files, unchanged partition
    pruning, post-append recall) are pinned by
    tests/test_ann_quality.py::test_ivf_append_findable_and_pruned.

    Shape at 100 TB: appends cost O(batch × K) map-side distance work +
    one partitioned write of the batch; committed cluster files are
    never rewritten, probes need no index maintenance."""
    from free_etl_spark.operators.vectors import (
        assign_nearest,
        probe_dim,
        scaled_centroid_k,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base = emb.filter(F.col("vec_id") % 10 != 0)
    newb = emb.filter(F.col("vec_id") % 10 == 0)
    k = scaled_centroid_k(base.count())
    cent = (
        base.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"))
    )
    dim = probe_dim(emb)
    # one-pass broadcast+min_by assignment (identical (d2, cent_id)
    # tie-break to the former window rank; see operators.vectors
    # .assign_nearest) — the N×K ranked relation never crosses an
    # Exchange on either side of the append
    a_base = assign_nearest(base, cent, dim).select("cent_id")
    a_new = assign_nearest(newb, cent, dim).select("cent_id")
    nb = a_base.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_base"))
    nn = a_new.groupBy("cent_id").agg(F.count(F.lit(1)).alias("n_new"))
    return nb.join(nn, "cent_id", "left").select(
        "cent_id",
        "n_base",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
    )


@query(
    "emb_dimension_variance",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    d AS (
      SELECT g.i AS dim, emb[g.i] AS x
      FROM v CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    stats AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
             SUM(x * x) AS sxx
      FROM d GROUP BY dim
    ),
    var AS (
      SELECT CAST(dim AS INT) AS dim,
             sxx / n - (sx / n) * (sx / n) AS raw_var
      FROM stats
    ),
    tot AS (SELECT SUM(raw_var) AS tv FROM var)
    SELECT dim, ROUND(raw_var, 6) AS variance,
           ROUND(SUM(raw_var) OVER (ORDER BY raw_var DESC, dim) / tot.tv, 6)
             AS cum_frac
    FROM var, tot
    """,
)
def emb_dimension_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding variance with cumulative variance
    fraction (descending) — the diagnostic behind truncation choices
    like the Matryoshka 32-of-64 shortlist (sim_matryoshka_rerank):
    if the top-k raw dimensions carry most of the variance, prefix
    truncation is cheap. One posexplode + one groupBy on dim (64
    groups); the cum_frac window runs over the 64-row,
    DIMENSION-bounded variance relation — the legitimate global
    window case (state never grows with the corpus). Variance from
    explicit (n, Σx, Σx²) so both engines evaluate the identical
    expression."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        )
    )
    stats = emb.groupBy((F.col("pos") + 1).cast("int").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    raw_var = (
        F.col("sxx") / F.col("n")
        - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
    )
    var = stats.select("dim", raw_var.alias("raw_var"))
    tot = var.agg(F.sum("raw_var").alias("tv"))
    w = Window.orderBy(F.col("raw_var").desc(), F.col("dim"))
    return (
        var.join(F.broadcast(tot))
        .select(
            "dim",
            F.round("raw_var", 6).alias("variance"),
            F.round(F.sum("raw_var").over(w) / F.col("tv"), 6).alias(
                "cum_frac"
            ),
        )
    )


_RRF_K = 60
_RRF_TOPK = 10


def _hybrid_rrf_oracle() -> str:
    import free_etl_spark.queries.text  # noqa: F401  (force registration)
    from free_etl_spark.registry import ORACLES as _ALL

    bm25_sql = _ALL["text_bm25_search"].strip().rstrip(";")
    return f"""
    WITH lex AS ({bm25_sql}),
    lexr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
      FROM lex
    ),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    n AS (SELECT vec_id, emb,
                 SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm
          FROM v),
    q AS (SELECT emb, nrm FROM n WHERE vec_id = 0),
    cos AS (
      SELECT n.vec_id,
             ROUND(list_sum(list_transform(list_zip(n.emb, q.emb),
                   z -> z[1] * z[2])) / (n.nrm * q.nrm), 6) AS cosine
      FROM n, q WHERE n.vec_id <> 0
    ),
    sem AS (SELECT vec_id, cosine FROM cos
            ORDER BY cosine DESC, vec_id LIMIT 20),
    semr AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS r_sem
      FROM sem
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             CAST(COALESCE(l.r_lex, 0) AS INT) AS r_lex,
             CAST(COALESCE(s.r_sem, 0) AS INT) AS r_sem,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.r_lex), 0)
                 + COALESCE(1.0 / ({_RRF_K} + s.r_sem), 0), 6) AS rrf
      FROM lexr l FULL OUTER JOIN semr s USING (doc_id)
    )
    SELECT doc_id, r_lex, r_sem, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
    """


@query("sim_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion — the
    lexical+semantic fusion modern retrieval stacks ship: the BM25
    top-20 (text_bm25_search's fixed query) and the cosine top-20 for
    the query embedding (vec 0) fuse by RRF(d) = Σ 1/(60 + rank_i(d)),
    so a document strong in EITHER ranking surfaces without score
    calibration between incomparable scales (the reason RRF beats
    weighted score sums in practice). Scale: each leg ends in a
    TakeOrdered top-20 — the rank windows then run over 20-row,
    K-bounded relations, and the fusion is a 20x20 full-outer join;
    nothing rank-orders the corpus."""
    from free_etl_spark.queries.text import text_bm25_search

    lex20 = text_bm25_search(spark, sf_dir)
    w_lex = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    lexr = lex20.select(
        "doc_id", F.row_number().over(w_lex).cast("int").alias("r_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    nrm = F.sqrt(F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x))
    n = emb.select("vec_id", "emb", nrm.alias("nrm"))
    q = n.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    dot = F.aggregate(
        F.zip_with("emb", "q_emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cos = (
        n.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dot / (F.col("nrm") * F.col("q_nrm")), 6).alias("cosine"),
        )
    )
    sem20 = cos.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(20)
    w_sem = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    semr = sem20.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_sem).cast("int").alias("r_sem"),
    )
    fused = lexr.join(semr, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("r_lex", F.lit(0)).cast("int").alias("r_lex"),
        F.coalesce("r_sem", F.lit(0)).cast("int").alias("r_sem"),
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("r_sem")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(
        _RRF_TOPK
    )


@query(
    "emb_power_iteration",
    oracle="""
    WITH long AS (
      SELECT vec_id, g.i AS dim, CAST(embedding[g.i] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    mu AS (SELECT dim, ROUND(AVG(val), 6) AS m FROM long GROUP BY dim),
    c AS (
      SELECT vec_id, long.dim, ROUND(val - mu.m, 6) AS cv
      FROM long JOIN mu ON long.dim = mu.dim
    ),
    s1 AS (
      SELECT vec_id, ROUND(SUM(cv) / 8.0, 6) AS s FROM c GROUP BY vec_id
    ),
    w1 AS (
      SELECT dim, ROUND(SUM(c.cv * s1.s), 6) AS w
      FROM c JOIN s1 ON c.vec_id = s1.vec_id GROUP BY dim
    ),
    n1 AS (SELECT sqrt(SUM(w * w)) AS n FROM w1),
    v1 AS (SELECT dim, ROUND(w / n1.n, 6) AS v FROM w1 CROSS JOIN n1),
    s2 AS (
      SELECT c.vec_id, ROUND(SUM(c.cv * v1.v), 6) AS s
      FROM c JOIN v1 ON c.dim = v1.dim GROUP BY c.vec_id
    ),
    w2 AS (
      SELECT dim, ROUND(SUM(c.cv * s2.s), 6) AS w
      FROM c JOIN s2 ON c.vec_id = s2.vec_id GROUP BY dim
    ),
    n2 AS (SELECT sqrt(SUM(w * w)) AS n FROM w2),
    v2 AS (SELECT dim, ROUND(w / n2.n, 6) AS v FROM w2 CROSS JOIN n2),
    flip AS (
      SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sgn
      FROM v2 ORDER BY abs(v) DESC, dim LIMIT 1
    ),
    tot AS (SELECT SUM(cv * cv) AS ss FROM c)
    SELECT CAST(v2.dim AS INT) AS dim,
           ROUND(v2.v * flip.sgn, 6) AS loading,
           FLOOR(n2.n / tot.ss * 1e6) / 1e6 AS eigen_share
    FROM v2 CROSS JOIN flip CROSS JOIN n2 CROSS JOIN tot
    """,
)
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus via two
    matrix-free power iterations: w = C'(Cv) computed as two chained
    aggregations over the (vec, dim, centered-value) long form — the
    covariance matrix itself is never materialized, which is the
    point at 100 TB (the shuffled state per iteration is one scalar
    per vector plus one scalar per dimension). Deterministic init
    v0 = 1/8 per dim; intermediates are ROUND(6)-stabilized at every
    aggregate (the emb_kmeans_2iter recipe) so both engines walk the
    identical FP trajectory; the sign is canonicalized by making the
    largest-|loading| component positive. eigen_share is the
    Rayleigh-quotient estimate ||C'Cv|| / tr(C'C) — the fraction of
    variance the top component explains. Fixed DAG, no driver
    loop."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    long = emb.select(
        "vec_id", F.posexplode("emb").alias("pos", "val")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
    mu = long.groupBy("dim").agg(F.round(F.avg("val"), 6).alias("m"))
    # the centered long form feeds FIVE consumers (s1, w1, s2, w2, and
    # the trace); without lineage truncation each one replays the
    # posexplode + centering join and the iteration DAG fans out
    # multiplicatively (VERDICT r8: 1.9 -> 2.2 -> 2.8 s creep across
    # rounds). It is N*d rows of three scalars — the cheapest thing in
    # the job to materialize (lazily: first action triggers it).
    c = long.join(F.broadcast(mu), "dim").select(
        "vec_id", "dim", F.round(F.col("val") - F.col("m"), 6).alias("cv")
    ).localCheckpoint(eager=False)
    s1 = c.groupBy("vec_id").agg(
        F.round(F.sum("cv") / 8.0, 6).alias("s")
    )
    w1 = (
        c.join(s1, "vec_id")
        .groupBy("dim")
        .agg(F.round(F.sum(F.col("cv") * F.col("s")), 6).alias("w"))
    )
    n1 = w1.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("n"))
    v1 = w1.join(F.broadcast(n1)).select(
        "dim", F.round(F.col("w") / F.col("n"), 6).alias("v")
    )
    s2 = (
        c.join(F.broadcast(v1), "dim")
        .groupBy("vec_id")
        .agg(F.round(F.sum(F.col("cv") * F.col("v")), 6).alias("s"))
    )
    w2 = (
        c.join(s2, "vec_id")
        .groupBy("dim")
        .agg(F.round(F.sum(F.col("cv") * F.col("s")), 6).alias("w"))
    )
    n2 = w2.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("n"))
    v2 = w2.join(F.broadcast(n2)).select(
        "dim", F.round(F.col("w") / F.col("n"), 6).alias("v")
    )
    flip = (
        v2.orderBy(F.abs(F.col("v")).desc(), "dim")
        .limit(1)
        .select(
            F.when(F.col("v") < 0, -1.0).otherwise(1.0).alias("sgn")
        )
    )
    tot = c.agg(F.sum(F.col("cv") * F.col("cv")).alias("ss"))
    return (
        v2.join(F.broadcast(flip))
        .join(F.broadcast(n2))
        .join(F.broadcast(tot))
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("v") * F.col("sgn"), 6).alias("loading"),
            (F.floor(F.col("n") / F.col("ss") * 1e6) / 1e6).alias(
                "eigen_share"
            ),
        )
    )


@query(
    "emb_centroid_drift",
    oracle="""
    WITH halves AS (
      SELECT vec_id, label, CAST(vec_id % 2 AS INT) AS half,
             g.i AS dim, CAST(embedding[g.i] AS DOUBLE) AS val
      FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
    ),
    cents AS (
      SELECT label, half, dim, ROUND(AVG(val), 6) AS c
      FROM halves GROUP BY label, half, dim
    ),
    n_per AS (
      SELECT label,
             CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 0
                                      THEN vec_id END) AS BIGINT) AS n_a,
             CAST(COUNT(DISTINCT CASE WHEN vec_id % 2 = 1
                                      THEN vec_id END) AS BIGINT) AS n_b
      FROM embeddings GROUP BY label
    ),
    paired AS (
      SELECT a.label, SUM(a.c * b.c) AS dot,
             SUM(a.c * a.c) AS na2, SUM(b.c * b.c) AS nb2
      FROM cents a JOIN cents b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 0 AND b.half = 1
      GROUP BY a.label
    )
    SELECT p.label, n.n_a, n.n_b,
           FLOOR(dot / sqrt(na2 * nb2) * 1e6) / 1e6 AS cos_sim
    FROM paired p JOIN n_per n ON n.label = p.label
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift check: cosine similarity between each label's
    centroid computed over the even-id half of the corpus vs the odd
    half — the sanity monitor a retraining pipeline runs to see
    whether a class's representation moved between two snapshots
    (here the halves stand in for old/new). Long-form per-(label,
    half, dim) means are ROUND(6)-stabilized (the kmeans recipe)
    then one 64-row-per-label self-join forms the cosine; nothing is
    ever vector-count-sized on one node. A healthy corpus shows
    cos_sim ~= 1; a drifted class drops."""
    emb = load_table(spark, sf_dir, "embeddings")
    halves = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    ).select("vec_id", "label", "half", (F.col("pos") + 1).alias("dim"), "val")
    cents = halves.groupBy("label", "half", "dim").agg(
        F.round(F.avg("val"), 6).alias("c")
    )
    n_per = emb.groupBy("label").agg(
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 0, F.col("vec_id"))
        )
        .cast("long")
        .alias("n_a"),
        F.countDistinct(
            F.when(F.col("vec_id") % 2 == 1, F.col("vec_id"))
        )
        .cast("long")
        .alias("n_b"),
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("cb")
    )
    paired = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
        )
    )
    return paired.join(n_per, "label").select(
        "label",
        "n_a",
        "n_b",
        (
            F.floor(
                F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")) * 1e6
            )
            / 1e6
        ).alias("cos_sim"),
    )


@query(
    "sim_knn_classifier",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    test AS (SELECT * FROM n WHERE vec_id % 5 = 0),
    train AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
    p AS (
      SELECT t.vec_id AS qid, t.label AS true_label,
             c.label AS cand_label,
             ROW_NUMBER() OVER (
               PARTITION BY t.vec_id
               ORDER BY list_sum(list_transform(
                          list_zip(t.embedding, c.embedding),
                          z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                        / (t.nrm * c.nrm) DESC, c.vec_id
             ) AS rn
      FROM test t JOIN train c ON TRUE
    ),
    votes AS (
      SELECT qid, true_label, cand_label,
             COUNT(*) AS v
      FROM p WHERE rn <= {_K} GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT qid, true_label, cand_label AS pred_label
      FROM (SELECT qid, true_label, cand_label,
                   ROW_NUMBER() OVER (PARTITION BY qid
                     ORDER BY v DESC, cand_label) AS pr
            FROM votes)
      WHERE pr = 1
    )
    SELECT true_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred GROUP BY true_label
    """,
)
def sim_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label classification audit over the embedding table: hold
    out every fifth vector, predict its label by majority vote of its
    {_K} nearest training neighbors (cosine, vec_id tie-break; label
    ties resolve to the smaller label), and report per-label test
    count and correct count — the standard embedding-quality probe
    (if kNN can't recover labels, the embeddings won't retrieve). The
    brute-force score here is the EXACTNESS baseline, same contract
    as sim_cosine_topk: the train scan is map-side against the
    broadcast holdout (a fixed probe set by definition); the scale
    path for a full-corpus sweep is the IVF route (sim_ivf_topk) with
    identical vote/argmax tail. Cosine folds run sequentially over 64
    dims in both engines — bit-identical doubles, no rounding
    needed before the rank. The dot product stays in the JVM
    zip_with/aggregate fold form: the r8 experiment that unrolled it
    into 64 element_at terms regressed the query 3.76× under the
    driver bench (BENCH_QUERIES_r08: 17.82 s vs r7's 4.74 s) and was
    reverted — do not re-unroll without a stamped BENCH_QUERIES_r*
    number from a fresh session.

    Residual cost is SUITE CONTENTION, not plan cost (VERDICT r9 task
    #4, measured r10): isolated best-of-4 at sf0.1 is 4.15 s; five
    full-suite r10 runs of IDENTICAL code measured 4.86–6.43 s (the
    shipped BENCH_QUERIES_r10 carries 4.86) — the spread is
    host/suite variance, the same band the also_bought study
    measured. No code change; the form is identical to r7's 4.74 s
    measurement."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    n = emb.select("vec_id", "label", "embedding", nrm.alias("nrm"))
    test = n.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    train = n.filter(F.col("vec_id") % 5 != 0)
    dot = F.aggregate(
        F.zip_with("qemb", "embedding", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = (
        train.join(F.broadcast(test))
        .select(
            "qid",
            "true_label",
            F.col("label").alias("cand_label"),
            F.col("vec_id").alias("cid"),
            (dot / (F.col("qnrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "cid")
    votes = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _K)
        .groupBy("qid", "true_label", "cand_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    wp = Window.partitionBy("qid").orderBy(F.col("v").desc(), "cand_label")
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
    )
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.when(F.col("cand_label") == F.col("true_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )


@query(
    "emb_silhouette",
    oracle="""
    WITH cd AS (
      SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
      GROUP BY label, i
    ),
    cents AS (
      SELECT label, list(c ORDER BY i) AS cent FROM cd GROUP BY label
    ),
    d AS (
      SELECT e.vec_id, e.label AS own_label, c.label AS clabel,
             sqrt(list_sum(list_transform(
                    list_zip(e.embedding, c.cent),
                    z -> (CAST(z[1] AS DOUBLE) - z[2])
                         * (CAST(z[1] AS DOUBLE) - z[2])))) AS dist
      FROM embeddings e CROSS JOIN cents c
    ),
    ab AS (
      SELECT vec_id, own_label,
             MAX(CASE WHEN clabel = own_label THEN dist END) AS a,
             MIN(CASE WHEN clabel <> own_label THEN dist END) AS b
      FROM d GROUP BY vec_id, own_label
    )
    SELECT own_label AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           FLOOR(AVG((b - a) / GREATEST(a, b)) * 1e4) / 1e4
             AS avg_silhouette
    FROM ab GROUP BY own_label
    """,
)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label — the
    cluster-quality audit for labeled embeddings: a = distance to own
    centroid, b = nearest other centroid, s = (b-a)/max(a,b); mean s
    near 1 means tight well-separated classes, near 0 means the
    labels don't separate in embedding space (the 'are these labels
    learnable' probe). Centroids come from one (label, dim)-keyed
    aggregate over the exploded long form (64*labels rows — never a
    per-vector window); each vector then scores against the
    BROADCAST label-count-sized centroid relation map-side. This is
    the O(n*k) medoid-free variant — the O(n^2) full silhouette is
    exactly what doesn't survive a large corpus. FLOOR-4 absorbs
    centroid summation-order ulps."""
    emb = load_table(spark, sf_dir, "embeddings")
    long = emb.select(
        "label", F.posexplode("embedding").alias("i", "v")
    )
    cd = long.groupBy("label", "i").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    cents = cd.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s["c"],
        ).alias("cent")
    )
    c = cents.select(
        F.col("label").alias("clabel"), F.col("cent")
    )
    diff2 = F.zip_with(
        "embedding",
        "cent",
        lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc),
    )
    d = (
        emb.join(F.broadcast(c))
        .select(
            "vec_id",
            F.col("label").alias("own_label"),
            "clabel",
            F.sqrt(
                F.aggregate(diff2, F.lit(0.0), lambda a, x: a + x)
            ).alias("dist"),
        )
    )
    ab = d.groupBy("vec_id", "own_label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("own_label"), F.col("dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("own_label"), F.col("dist"))
        ).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return ab.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (F.floor(F.avg(s) * 1e4) / 1e4).alias("avg_silhouette"),
    )


@query(
    "sim_sparse_cosine_topk",
    oracle="""
    WITH tokc AS (
      SELECT doc_id, tk, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
            FROM documents)
      WHERE tk <> '' GROUP BY doc_id, tk
    ),
    n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    idf AS (
      SELECT tk, ln(n_docs.n / COUNT(*)) AS idf
      FROM tokc CROSS JOIN n_docs GROUP BY tk, n_docs.n
      HAVING COUNT(*) <= 50
    ),
    w AS (
      SELECT tokc.doc_id, tokc.tk, tokc.tf * idf.idf AS wt
      FROM tokc JOIN idf ON idf.tk = tokc.tk
    ),
    nrm AS (
      SELECT doc_id, sqrt(SUM(wt * wt)) AS nn FROM w GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(a.wt * b.wt) AS dot,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM w a JOIN w b ON a.tk = b.tk AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b, p.n_shared,
             p.dot / (na.nn * nb.nn) AS cosine
      FROM pairs p
      JOIN nrm na ON na.doc_id = p.doc_a
      JOIN nrm nb ON nb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, n_shared,
           FLOOR(cosine * 1e6) / 1e6 AS cosine
    FROM scored ORDER BY cosine DESC, doc_a, doc_b LIMIT 25
    """,
)
def sim_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE-vector cosine similarity over tf-idf document vectors
    via the inverted index — the retrieval-side sibling of the dense
    cosine family: the dot product decomposes over shared tokens, so
    a token-keyed self-join + sum computes every nonzero pair
    WITHOUT materializing vectors (the trick behind every sparse
    search engine; dense cosine can't decompose this way). Tokens
    with document frequency > 50 are dropped at the idf stage — both
    the standard stop-word effect and the df-cap that bounds the
    join's C(df,2) fan-out (same escape hatch as the Jaccard
    family). Norms join back doc-keyed; top-25 is TakeOrdered on the
    exact cosine with doc-id tie-breaks."""
    docs = load_table(spark, sf_dir, "documents")
    tokc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
        .filter(F.col("tk") != "")
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    idf = (
        tokc.groupBy("tk")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .join(F.broadcast(n_docs))
        .select("tk", F.log(F.col("n") / F.col("df")).alias("idf"))
    )
    w = tokc.join(idf, "tk").select(
        "doc_id", "tk", (F.col("tf") * F.col("idf")).alias("wt")
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nn")
    )
    a = w.alias("a")
    b = w.select(
        F.col("doc_id").alias("doc_b"),
        F.col("tk").alias("tkb"),
        F.col("wt").alias("wtb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("a.tk") == F.col("tkb"))
            & (F.col("a.doc_id") < F.col("doc_b")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), "doc_b")
        .agg(
            F.sum(F.col("a.wt") * F.col("wtb")).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    scored = (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    return (
        scored.orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(25)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.floor(F.col("cosine") * 1e6) / 1e6).alias("cosine"),
        )
    )


_MMR_K = 5
_MMR_SHORTLIST = 30
_MMR_QID = 1


def _mmr_oracle(k: int) -> str:
    """Unrolled DuckDB oracle for ``sim_mmr_rerank``: one
    (selected-set, max-sim, argmax) CTE block per round — the same
    pinned-round unroll pattern as the BPE trainer. Cosines use the
    identical list_zip/list_sum fold as the Spark zip_with/aggregate
    form, so scores are bit-identical and the per-round argmax agrees
    without rounding."""
    dot = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))"
    )
    sql = [
        f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
             SQRT({dot.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ),
    q AS (SELECT embedding AS qe, nrm AS qn FROM n WHERE vec_id = {_MMR_QID}),
    cand AS (
      SELECT * FROM (
        SELECT n.vec_id, n.label, n.embedding, n.nrm,
               {dot.format(a='n.embedding', b='q.qe')} / (n.nrm * q.qn) AS rel
        FROM n CROSS JOIN q WHERE n.vec_id <> {_MMR_QID}
      ) ORDER BY rel DESC, vec_id LIMIT {_MMR_SHORTLIST}
    )"""
    ]
    pair = dot.format(a="c.embedding", b="s.embedding")
    for r in range(1, k + 1):
        prev_sel = (
            " UNION ALL ".join(
                f"SELECT * FROM p{i}" for i in range(1, r)
            )
            if r > 1
            else None
        )
        if prev_sel is None:
            sql.append(f"""
    , m1 AS (
      SELECT vec_id, label, rel, 0.0 AS maxsim FROM cand
    )""")
        else:
            sql.append(f"""
    , sel{r} AS ({prev_sel})
    , m{r} AS (
      SELECT c.vec_id, c.label, c.rel,
             MAX({pair} / (c.nrm * s.nrm)) AS maxsim
      FROM cand c JOIN (SELECT cand.* FROM cand
                        JOIN sel{r} ON sel{r}.vec_id = cand.vec_id) s
        ON c.vec_id <> s.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r})
      GROUP BY c.vec_id, c.label, c.rel
    )""")
        sql.append(f"""
    , p{r} AS (
      SELECT {r} AS rank, vec_id, label, rel,
             0.7 * rel - 0.3 * maxsim AS mmr
      FROM m{r}
      ORDER BY 0.7 * rel - 0.3 * maxsim DESC, vec_id LIMIT 1
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM p{r}" for r in range(1, k + 1))
    sql.append(f"""
    SELECT CAST(rank AS INT) AS rank, vec_id, label,
           rel AS relevance, mmr AS mmr_score
    FROM ({union}) ORDER BY rank""")
    return "".join(sql)


@query("sim_mmr_rerank", oracle=_mmr_oracle(_MMR_K))
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversity-aware
    retrieval tail every RAG/recommendation stack runs after ANN:
    from a cosine top-{_MMR_SHORTLIST} shortlist for a fixed probe
    vector, iteratively select {_MMR_K} items maximizing
    0.7*relevance - 0.3*max-similarity-to-already-selected
    (Carbonell & Goldstein 1998), so near-duplicate hits don't crowd
    the result page. Ties break on vec_id; the first pick reduces to
    plain argmax relevance (empty selected set -> maxsim 0).

    Scale shape: the shortlist is the ANN output (sim_ivf_topk /
    sim_pq_topk are the scale path) — per query it is a BOUNDED
    relation ({_MMR_SHORTLIST} rows), so the k selection rounds cost
    k tiny broadcast-nested-loop joins against the <=k-row selected
    set, with one-row argmax fetches as the only driver state (the
    kmeans/BPE coordination pattern). The shortlist is
    localCheckpointed once so rounds don't replay the corpus scan.
    Cosines stay in the JVM zip_with/aggregate fold — bit-identical
    to the oracle's list fold, so scores and argmaxes agree without
    rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    n = emb.select("vec_id", "label", "embedding", nrm.alias("nrm"))
    q = n.filter(F.col("vec_id") == _MMR_QID).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cand = (
        n.filter(F.col("vec_id") != _MMR_QID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "embedding",
            "nrm",
            (dot("embedding", "qe") / (F.col("nrm") * F.col("qn"))).alias(
                "rel"
            ),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_SHORTLIST)
    ).localCheckpoint(eager=True)

    selected: list[tuple] = []
    for r in range(1, _MMR_K + 1):
        if not selected:
            scored = cand.select(
                "vec_id", "label", "rel", F.lit(0.0).alias("maxsim")
            )
        else:
            sel_ids = [s[1] for s in selected]
            sel = cand.filter(F.col("vec_id").isin(sel_ids)).select(
                F.col("vec_id").alias("sid"),
                F.col("embedding").alias("se"),
                F.col("nrm").alias("sn"),
            )
            scored = (
                cand.filter(~F.col("vec_id").isin(sel_ids))
                .join(F.broadcast(sel))
                .select(
                    "vec_id",
                    "label",
                    "rel",
                    (dot("embedding", "se") / (F.col("nrm") * F.col("sn"))).alias(
                        "sim"
                    ),
                )
                .groupBy("vec_id", "label", "rel")
                .agg(F.max("sim").alias("maxsim"))
            )
        mmr = F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("maxsim")
        best = (
            scored.select("vec_id", "label", "rel", mmr.alias("mmr"))
            .orderBy(F.col("mmr").desc(), "vec_id")
            .first()
        )
        selected.append(
            (r, best["vec_id"], best["label"], best["rel"], best["mmr"])
        )
    return spark.createDataFrame(
        selected,
        "rank int, vec_id long, label int, relevance double, mmr_score double",
    )


_RANGE_COS_T = 0.3  # radius: ~1-6 matches/query at sf0.01, ~11-16 at sf0.1


@query(
    "sim_range_search",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS ({_SCALED_K_SQL}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    rnk AS (
      SELECT v.vec_id, cent.cent_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, cent.cemb),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id) AS rn
      FROM v CROSS JOIN cent),
    asn AS (SELECT vec_id, cent_id FROM rnk WHERE rn = 1),
    probe AS (SELECT vec_id AS qid, cent_id FROM rnk
              WHERE rn <= {_IVF_NPROBE} AND vec_id < {_N_QUERIES}),
    nn AS (SELECT vec_id, emb,
                  SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM v),
    cand AS (
      SELECT p.qid, a.vec_id AS cid
      FROM probe p JOIN asn a ON a.cent_id = p.cent_id AND a.vec_id <> p.qid
    )
    SELECT qid, cid, cosine FROM (
      SELECT c.qid, c.cid,
             ROUND(list_sum(list_transform(list_zip(q.emb, t.emb),
                   z -> z[1] * z[2])) / (q.nrm * t.nrm), 6) AS cosine
      FROM cand c JOIN nn q ON q.vec_id = c.qid JOIN nn t ON t.vec_id = c.cid)
    WHERE cosine >= {_RANGE_COS_T}
    ORDER BY qid, cid
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (threshold) similarity search — the top-k family's
    complement (VERDICT r9 task #7b): return EVERY candidate whose
    exact cosine clears the radius, not a fixed count. Same IVF
    layout as sim_ivf_topk (coarse centroids K ≈ √N, nearest-cell
    assignment, nprobe-pruned probes), so at 100 TB the scan touches
    only the probed cells of the cluster-partitioned corpus
    (operators.vectors.ivf_write) — the radius filter replaces the
    per-qid ranking window, making this strictly cheaper than top-k
    (no shuffle after the candidate join: filter + map only).

    Exactness note: like every IVF query, recall < 1 by construction —
    a true neighbor assigned to an unprobed cell is missed; the oracle
    replays the same probe set, so the driver compares identical
    semantics."""
    from free_etl_spark.operators.vectors import (
        cosine_scored_pairs,
        probe_dim,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    ranked = _ivf_nearest4(spark, sf_dir)
    asn = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    probe = ranked.filter(
        (F.col("rn") <= _IVF_NPROBE) & (F.col("vec_id") < _N_QUERIES)
    ).select(F.col("vec_id").alias("qid"), "cent_id")
    cand = (
        probe.join(asn, "cent_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"))
    )
    return (
        cosine_scored_pairs(cand, emb, "qid", "cid", probe_dim(emb))
        .filter(F.col("cosine") >= _RANGE_COS_T)
        .select("qid", "cid", "cosine")
    )


@query(
    "sim_ivf_recall_curve",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS ({_SCALED_K_SQL}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    rnk AS (
      SELECT v.vec_id, cent.cent_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, cent.cemb),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id) AS rn
      FROM v CROSS JOIN cent),
    asn AS (SELECT vec_id, cent_id FROM rnk WHERE rn = 1),
    nn AS (SELECT vec_id, emb,
                  SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM v),
    exact AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.emb, c.emb),
                       z -> z[1] * z[2])) / (q.nrm * c.nrm) DESC,
                 c.vec_id) AS ern
        FROM nn q JOIN nn c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {_N_QUERIES})
      WHERE ern <= {_IVF_TOPK}),
    cand AS (
      SELECT p.vec_id AS qid, a.vec_id AS cid, p.rn AS probe_rank
      FROM rnk p JOIN asn a ON a.cent_id = p.cent_id AND a.vec_id <> p.vec_id
      WHERE p.rn <= {_IVF_NPROBE} AND p.vec_id < {_N_QUERIES}),
    depth AS (
      SELECT qid, cid,
             unnest(generate_series(probe_rank, {_IVF_NPROBE})) AS nprobe
      FROM cand),
    ivf AS (
      SELECT qid, cid, nprobe FROM (
        SELECT d.qid, d.cid, d.nprobe,
               ROW_NUMBER() OVER (PARTITION BY d.qid, d.nprobe ORDER BY
                 list_sum(list_transform(list_zip(q.emb, t.emb),
                       z -> z[1] * z[2])) / (q.nrm * t.nrm) DESC,
                 d.cid) AS irn
        FROM depth d JOIN nn q ON q.vec_id = d.qid JOIN nn t ON t.vec_id = d.cid)
      WHERE irn <= {_IVF_TOPK})
    SELECT CAST(nprobe AS INT) AS nprobe,
           CAST(COUNT(e.qid) AS BIGINT) AS n_hits,
           CAST(COUNT(e.qid) AS DOUBLE)
             / ({_N_QUERIES} * {_IVF_TOPK}) AS recall
    FROM ivf i LEFT JOIN exact e ON e.qid = i.qid AND e.cid = i.cid
    GROUP BY nprobe
    ORDER BY nprobe
    """,
)
def sim_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k curve of the IVF index vs the exact top-k, per probe
    depth 1..nprobe — ANN quality as a FIRST-CLASS QUERY (not only a
    test pin): for each probe depth p, the IVF top-k from cells
    ranked <= p is intersected with the brute-force top-k, and the
    curve reports hits and recall per depth. This is the audit a
    production vector store runs after every reindex: pick nprobe from
    the measured recall/latency frontier, don't guess it.

    Scale shape: the candidate relation carries each (qid, cid) once
    with its MINIMUM sufficient depth (probe_rank), then explodes to
    the <= nprobe depths it participates in — bounded by
    nprobe, not corpus; cosine is computed once per candidate row off
    the shared _ivf_nearest4 session relation. The exact side is the
    5-query broadcast brute force (the pinned exactness baseline).
    Integer hits divided once per group — engine-deterministic."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    nrm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x))
    nn = emb.select("vec_id", "emb", nrm.alias("nrm"))
    q_side = nn.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    t_side = nn.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("t_emb"),
        F.col("nrm").alias("t_nrm"),
    )
    dot = F.aggregate(
        F.zip_with("q_emb", "t_emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # exact top-k (brute force over the corpus for the 5 probe qids)
    scored_all = (
        F.broadcast(q_side)
        .join(t_side, F.col("qid") != F.col("cid"))
        .select("qid", "cid", (dot / (F.col("q_nrm") * F.col("t_nrm"))).alias("cos"))
    )
    we = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    exact = (
        scored_all.withColumn("ern", F.row_number().over(we))
        .filter(F.col("ern") <= _IVF_TOPK)
        .select("qid", "cid")
    )
    # IVF candidates off the shared nearest-centroid relation, each
    # tagged with the minimum probe depth that reaches it
    ranked = _ivf_nearest4(spark, sf_dir)
    asn = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    probes = ranked.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "cent_id", F.col("rn").alias("probe_rank")
    )
    cand = (
        probes.join(asn, "cent_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"), "probe_rank")
    )
    scored_cand = (
        cand.join(F.broadcast(q_side), "qid")
        .join(t_side, "cid")
        .select(
            "qid",
            "cid",
            "probe_rank",
            (dot / (F.col("q_nrm") * F.col("t_nrm"))).alias("cos"),
        )
    )
    deep = scored_cand.select(
        "qid",
        "cid",
        "cos",
        F.explode(
            F.sequence(F.col("probe_rank"), F.lit(_IVF_NPROBE))
        ).alias("nprobe"),
    )
    wi = Window.partitionBy("qid", "nprobe").orderBy(F.col("cos").desc(), "cid")
    ivf = (
        deep.withColumn("irn", F.row_number().over(wi))
        .filter(F.col("irn") <= _IVF_TOPK)
        .select("qid", "cid", "nprobe")
    )
    hit = F.when(F.col("e_qid").isNotNull(), 1).otherwise(0)
    joined = ivf.join(
        F.broadcast(
            exact.select(
                F.col("qid").alias("e_qid"), F.col("cid").alias("e_cid")
            )
        ),
        (F.col("qid") == F.col("e_qid")) & (F.col("cid") == F.col("e_cid")),
        "left",
    )
    return (
        joined.groupBy(F.col("nprobe").cast("int").alias("nprobe"))
        .agg(
            F.sum(hit).cast("long").alias("n_hits"),
            (
                F.sum(hit).cast("double")
                / F.lit(_N_QUERIES * _IVF_TOPK)
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


@query(
    "sim_ivf_build_stats",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS ({_SCALED_K_SQL}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    rnk AS (
      SELECT v.vec_id, cent.cent_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, cent.cemb),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id) AS rn
      FROM v CROSS JOIN cent),
    asn AS (SELECT vec_id, cent_id FROM rnk WHERE rn = 1),
    cells AS (
      SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS sz
      FROM asn GROUP BY cent_id)
    SELECT CAST((SELECT k FROM parm) AS BIGINT) AS n_centroids,
           CAST(COUNT(*) AS BIGINT) AS n_occupied,
           CAST(SUM(sz) AS BIGINT) AS n_vectors,
           CAST(MIN(sz) AS BIGINT) AS min_cell,
           CAST(MAX(sz) AS BIGINT) AS max_cell,
           CAST(SUM(sz) AS DOUBLE) / COUNT(*) AS avg_cell,
           CAST(MAX(sz) AS DOUBLE) * COUNT(*) / SUM(sz)
             AS imbalance_factor
    FROM cells
    """,
)
def sim_ivf_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit — the companion to sim_ivf_recall_curve
    on the OTHER axis: cell-occupancy statistics of the coarse
    quantizer (occupied cells, min/max/avg cell size, imbalance
    factor = max/avg). An imbalance factor far above 1 means probe
    latency is dominated by a few hot cells (the skew that kills IVF
    tail latency at scale) — the signal to re-train centroids or salt
    hot cells. Runs off the shared _ivf_nearest4 session relation:
    one 16-ish-row aggregate over cell sizes, nothing corpus-sized
    after the assignment. Ratios are single IEEE divisions of exact
    integers."""
    from free_etl_spark.operators.vectors import scaled_centroid_k

    emb = load_table(spark, sf_dir, "embeddings")
    k = scaled_centroid_k(emb.count())
    asn = _ivf_nearest4(spark, sf_dir).filter(F.col("rn") == 1)
    cells = asn.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return cells.agg(
        F.lit(k).cast("long").alias("n_centroids"),
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
        F.sum("sz").cast("long").alias("n_vectors"),
        F.min("sz").cast("long").alias("min_cell"),
        F.max("sz").cast("long").alias("max_cell"),
        (F.sum("sz").cast("double") / F.count(F.lit(1))).alias("avg_cell"),
        (
            F.max("sz").cast("double")
            * F.count(F.lit(1))
            / F.sum("sz")
        ).alias("imbalance_factor"),
    )


@query(
    "sim_ivf_delete_compact",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS ({_SCALED_K_SQL}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    rnk AS (
      SELECT v.vec_id, cent.cent_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
               list_sum(list_transform(list_zip(v.emb, cent.cemb),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id) AS rn
      FROM v CROSS JOIN cent),
    asn AS (SELECT vec_id, cent_id FROM rnk WHERE rn = 1)
    SELECT cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deleted,
           CAST(COUNT(*) - SUM(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after,
           ROUND((COUNT(*) - SUM(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END))
                 * 1.0 / COUNT(*), 6) AS live_frac
    FROM asn GROUP BY cent_id
    """,
)
def sim_ivf_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF store delete lifecycle (VERDICT r10 task 2): a delete batch
    (every vec_id ≡ 3 mod 7 stands in for retention/GDPR removals) is
    tombstoned against the cluster-partitioned layout and compacted
    away per cluster. This query exposes the relational core — the
    per-cluster compaction report (rows before, tombstoned, surviving,
    live fraction), exactly what operators.vectors.ivf_compact rewrites
    and audits — so DuckDB replays the assignment + delete accounting
    value-for-value. The physical semantics (O(batch) tombstone append,
    broadcast anti-join masking in ivf_probe, staged-swap rewrite of
    ONLY affected partitions, WAL-last crash recovery, fully-emptied
    cluster drop) are pinned by
    tests/test_ann_quality.py::test_ivf_delete_masks_and_compacts.

    Shape at 100 TB: a delete is an O(batch) parquet append; probes pay
    one broadcast anti-join against the (compaction-bounded) tombstone
    set; compaction rewrites only clusters that contain deleted rows —
    never the corpus. Runs off the shared _ivf_nearest4 session
    relation: no new corpus scan."""
    asn = _ivf_nearest4(spark, sf_dir).filter(F.col("rn") == 1)
    deleted = F.sum(
        F.when(F.col("vec_id") % 7 == 3, F.lit(1)).otherwise(F.lit(0))
    )
    return asn.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_before"),
        deleted.cast("long").alias("n_deleted"),
        (F.count(F.lit(1)) - deleted).cast("long").alias("n_after"),
        F.round(
            (F.count(F.lit(1)) - deleted) * 1.0 / F.count(F.lit(1)), 6
        ).alias("live_frac"),
    )


@query(
    "sim_ivf_drift_check",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    base AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
    kk AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                    AS BIGINT)) AS k FROM base),
    cent AS (
      SELECT vec_id AS cent_id, emb AS cemb FROM base
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)
    ),
    a_base AS (
      SELECT cent_id, d2 FROM (
        SELECT c.cent_id,
               ROUND(list_sum(list_transform(list_zip(b.emb, c.cemb),
                     z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) AS d2,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM base b CROSS JOIN cent c)
      WHERE rn = 1
    ),
    a_full AS (
      SELECT cent_id, d2 FROM (
        SELECT c.cent_id,
               ROUND(list_sum(list_transform(list_zip(b.emb, c.cemb),
                     z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) AS d2,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cent c)
      WHERE rn = 1
    ),
    sb AS (
      SELECT MAX(cn) * COUNT(*) * 1.0 / SUM(cn) AS imb,
             SUM(sd) / SUM(cn) AS md2
      FROM (SELECT cent_id, COUNT(*) AS cn, SUM(d2) AS sd
            FROM a_base GROUP BY cent_id)
    ),
    sf AS (
      SELECT MAX(cn) * COUNT(*) * 1.0 / SUM(cn) AS imb,
             SUM(sd) / SUM(cn) AS md2
      FROM (SELECT cent_id, COUNT(*) AS cn, SUM(d2) AS sd
            FROM a_full GROUP BY cent_id)
    )
    SELECT CAST((SELECT k FROM kk) AS BIGINT) AS n_centroids,
           ROUND(sb.imb, 4) AS base_imbalance,
           ROUND(sf.imb, 4) AS cur_imbalance,
           ROUND(sb.md2, 4) AS base_mean_d2,
           ROUND(sf.md2, 4) AS cur_mean_d2,
           ROUND(sf.imb / sb.imb, 4) AS imbalance_ratio,
           ROUND(sf.md2 / sb.md2, 4) AS d2_ratio,
           (ROUND(sf.imb / sb.imb, 4) > 1.5 OR ROUND(sf.md2 / sb.md2, 4) > 1.2)
             AS recluster_due
    FROM sb, sf
    """,
)
def sim_ivf_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-drift audit for the append-only IVF lifecycle (VERDICT
    r10 task 2): ivf_append freezes the build-time codebook, so a
    growing corpus slowly degrades probe recall — this query measures
    how far the CURRENT corpus has drifted from the codebook's
    build-time fit and flags when re-clustering is due. Build-time =
    the sim_ivf_append base corpus (vec_id % 10 ≠ 0); current = the
    full corpus assigned under the SAME frozen codebook. Two signals,
    each the standard one: cell-occupancy imbalance (max/avg — hot
    cells dominate probe tail latency) and mean nearest-centroid
    distance (quantization error — rising means vectors land far from
    every centroid). ``recluster_due`` compares the ROUNDED ratios to
    fixed thresholds (imbalance ×1.5, quantization ×1.2) so both
    engines branch on identical 4-dp doubles.

    Shape at 100 TB: two broadcast-codebook argmin assignments (map-
    side, no shuffle beyond the K-sized per-cell partial aggregates);
    in production the build-time half is a stored build artifact
    (sim_ivf_build_stats' output), making the audit one assignment
    pass over the appended data. Per-row d2 is rounded to the 6-dp
    oracle grid BEFORE summation so the cross-engine sum-order error
    stays ~1e-10, far from the 4-dp output grid."""
    from free_etl_spark.operators.vectors import (
        assign_nearest,
        probe_dim,
        scaled_centroid_k,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base = emb.filter(F.col("vec_id") % 10 != 0)
    k = scaled_centroid_k(base.count())
    cent = (
        base.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"))
    )
    dim = probe_dim(emb)

    def side_stats(vecs: DataFrame, imb: str, md2: str) -> DataFrame:
        # one-pass broadcast+min(struct) assignment keeping the winning
        # d2 (identical (d2, cent_id) tie-break to the former window
        # rank; rounding applied AFTER the argmin, as before)
        asn = assign_nearest(vecs, cent, dim, with_d2=True).select(
            "cent_id", F.round("d2", 6).alias("d2")
        )
        cells = asn.groupBy("cent_id").agg(
            F.count(F.lit(1)).alias("cn"), F.sum("d2").alias("sd")
        )
        return cells.agg(
            (
                F.max("cn") * F.count(F.lit(1)) * 1.0 / F.sum("cn")
            ).alias(imb),
            (F.sum("sd") / F.sum("cn")).alias(md2),
        )
    sb = side_stats(base, "b_imb", "b_md2")
    sf = side_stats(emb, "f_imb", "f_md2")
    imb_ratio = F.round(F.col("f_imb") / F.col("b_imb"), 4)
    d2_ratio = F.round(F.col("f_md2") / F.col("b_md2"), 4)
    return (
        sb.join(F.broadcast(sf))
        .select(
            F.lit(k).cast("long").alias("n_centroids"),
            F.round("b_imb", 4).alias("base_imbalance"),
            F.round("f_imb", 4).alias("cur_imbalance"),
            F.round("b_md2", 4).alias("base_mean_d2"),
            F.round("f_md2", 4).alias("cur_mean_d2"),
            imb_ratio.alias("imbalance_ratio"),
            d2_ratio.alias("d2_ratio"),
            ((imb_ratio > 1.5) | (d2_ratio > 1.2)).alias("recluster_due"),
        )
    )


@query(
    "sim_ivf_recluster_gain",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    base AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
    ko AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                    AS BIGINT)) AS k FROM base),
    kn AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                    AS BIGINT)) AS k FROM v),
    cold AS (
      SELECT vec_id AS cent_id, emb AS cemb FROM base
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM ko)
    ),
    cinit AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
              WHERE vec_id < (SELECT k FROM kn)),
    a_old AS (
      SELECT cent_id, d2 FROM (
        SELECT c.cent_id,
               ROUND(list_sum(list_transform(list_zip(b.emb, c.cemb),
                     z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) AS d2,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cold c)
      WHERE rn = 1
    ),
    a1 AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cinit c)
      WHERE rn = 1
    ),
    upd AS (
      SELECT a1.cent_id, g.i AS dim, ROUND(AVG(v.emb[g.i]), 6) AS m
      FROM a1 JOIN v USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
      GROUP BY a1.cent_id, g.i
    ),
    cnew AS (SELECT cent_id, list(m ORDER BY dim) AS cemb FROM upd
             GROUP BY cent_id),
    a_new AS (
      SELECT cent_id, d2 FROM (
        SELECT c.cent_id,
               ROUND(list_sum(list_transform(list_zip(b.emb, c.cemb),
                     z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) AS d2,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cnew c)
      WHERE rn = 1
    ),
    so AS (
      SELECT MAX(cn) * COUNT(*) * 1.0 / SUM(cn) AS imb,
             SUM(sd) / SUM(cn) AS md2
      FROM (SELECT cent_id, COUNT(*) AS cn, SUM(d2) AS sd
            FROM a_old GROUP BY cent_id)
    ),
    sn AS (
      SELECT MAX(cn) * COUNT(*) * 1.0 / SUM(cn) AS imb,
             SUM(sd) / SUM(cn) AS md2
      FROM (SELECT cent_id, COUNT(*) AS cn, SUM(d2) AS sd
            FROM a_new GROUP BY cent_id)
    )
    SELECT CAST((SELECT k FROM ko) AS BIGINT) AS k_old,
           CAST((SELECT k FROM kn) AS BIGINT) AS k_new,
           ROUND(so.md2, 4) AS old_mean_d2,
           ROUND(sn.md2, 4) AS new_mean_d2,
           ROUND(so.imb, 4) AS old_imbalance,
           ROUND(sn.imb, 4) AS new_imbalance,
           ROUND(so.md2 / sn.md2, 4) AS d2_gain,
           (ROUND(so.md2 / sn.md2, 4) >= 1.0) AS improved
    FROM so, sn
    """,
)
def sim_ivf_recluster_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION sim_ivf_drift_check triggers, with its measured
    payoff — completing the IVF lifecycle loop (build -> append ->
    drift audit -> RECLUSTER): rebuild the coarse codebook on the
    CURRENT corpus (K regrown to ceil(sqrt N), deterministic first-K
    init + one Lloyd refinement — the emb_kmeans_2iter update shape,
    6-dp-rounded means so DuckDB replays the refinement FP-stably)
    and report quantization error + occupancy imbalance under the
    frozen build-time codebook vs the fresh one. ``d2_gain`` > 1 is
    the recluster's measured benefit; ``improved`` pins that the
    refreshed codebook never LOSES to the stale one on its own
    corpus.

    Shape at 100 TB: three broadcast-codebook argmin passes (old
    assign, init assign, refined assign) + one k x dims mean-update
    shuffle — all map-side heavy, nothing pairwise; in production the
    old-codebook half is the stored drift audit, so the marginal cost
    of a recluster decision is exactly one kmeans refinement."""
    from free_etl_spark.operators.vectors import (
        assign_nearest,
        probe_dim,
        scaled_centroid_k,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base = emb.filter(F.col("vec_id") % 10 != 0)
    k_old = scaled_centroid_k(base.count())
    k_new = scaled_centroid_k(emb.count())
    cold = (
        base.orderBy("vec_id")
        .limit(k_old)
        .select(F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb"))
    )
    dim = probe_dim(emb)
    # one Lloyd refinement, OCCUPIED cells only — inline (not
    # kmeans_centroids, whose empty-cluster coalesce would keep
    # centroids the oracle's mean-update CTE drops). Assignment is the
    # one-pass broadcast+min_by form CARRYING the embedding (identical
    # (d2, cent_id) tie-break; no N×K window, no emb join-back).
    cinit = emb.filter(F.col("vec_id") < k_new).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cemb")
    )
    a1 = assign_nearest(emb, cinit, dim, carry=("emb",))
    cnew = (
        a1.select("cent_id", F.posexplode("emb").alias("pos", "x"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("cent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cemb")
        )
    )

    def side_stats(cents: DataFrame, imb: str, md2: str) -> DataFrame:
        # one-pass assignment keeping the winning d2; 6-dp rounding
        # applied AFTER the argmin, exactly as the window form did
        asn = assign_nearest(emb, cents, dim, with_d2=True).select(
            "cent_id", F.round("d2", 6).alias("d2")
        )
        cells = asn.groupBy("cent_id").agg(
            F.count(F.lit(1)).alias("cn"), F.sum("d2").alias("sd")
        )
        return cells.agg(
            (F.max("cn") * F.count(F.lit(1)) * 1.0 / F.sum("cn")).alias(imb),
            (F.sum("sd") / F.sum("cn")).alias(md2),
        )

    so = side_stats(cold, "o_imb", "o_md2")
    sn = side_stats(cnew, "n_imb", "n_md2")
    gain = F.round(F.col("o_md2") / F.col("n_md2"), 4)
    return (
        so.join(F.broadcast(sn))
        .select(
            F.lit(k_old).cast("long").alias("k_old"),
            F.lit(k_new).cast("long").alias("k_new"),
            F.round("o_md2", 4).alias("old_mean_d2"),
            F.round("n_md2", 4).alias("new_mean_d2"),
            F.round("o_imb", 4).alias("old_imbalance"),
            F.round("n_imb", 4).alias("new_imbalance"),
            gain.alias("d2_gain"),
            (gain >= 1.0).alias("improved"),
        )
    )


@query(
    "sim_binary_hamming_rerank",
    oracle="""
    WITH t AS (
      SELECT vec_id,
             unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN pos <= 32 AND CAST(x AS DOUBLE) > 0
                      THEN (CAST(1 AS BIGINT) << (pos - 1))
                      ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN pos > 32 AND CAST(x AS DOUBLE) > 0
                      THEN (CAST(1 AS BIGINT) << (pos - 33))
                      ELSE 0 END) AS BIGINT) AS hi
      FROM t GROUP BY vec_id
    ),
    n AS (
      SELECT vec_id, embedding,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    ham AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             CAST(bit_count(xor(q.lo, c.lo))
                  + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming
      FROM sig q JOIN sig c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    short AS (
      SELECT qid, cid, hamming,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY hamming, cid) AS rn
      FROM ham
    ),
    rerank AS (
      SELECT s.qid, s.cid, s.hamming,
             ROUND(list_sum(list_transform(list_zip(nq.embedding, nc.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
                   / (nq.nrm * nc.nrm), 6) AS cosine
      FROM short s
      JOIN n nq ON nq.vec_id = s.qid
      JOIN n nc ON nc.vec_id = s.cid
      WHERE s.rn <= 32
    )
    SELECT qid, cid, hamming, cosine, CAST(rn2 AS BIGINT) AS rank
    FROM (SELECT qid, cid, hamming, cosine,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY cosine DESC, cid) AS rn2
          FROM rerank)
    WHERE rn2 <= 5
    """,
)
def sim_binary_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-quantized search (the production RAG shape: 32× smaller
    vectors, Hamming shortlist, exact re-rank): each embedding packs
    to TWO 32-bit sign halves (bit i set iff dim_i > 0 — two halves so
    neither engine touches a BIGINT sign bit), candidates shortlist by
    Hamming distance (bit_count(xor) — a handful of ALU ops per pair
    instead of 64 multiplies), and only the 32-candidate shortlist
    pays the exact float cosine. At 100 TB the signature table is
    0.8 GB per billion vectors, scans at memory bandwidth, and the
    float vectors are touched for shortlist rows only — the same
    two-tier read pattern as sim_pq_topk with an even cheaper tier 1.
    Signatures verified bit-identical across engines; the oracle
    replays both tiers."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _half(offset: int):
        return F.expr(
            f"aggregate(zip_with(slice(embedding, {offset}, 32), "
            "sequence(0, 31), (x, i) -> IF(CAST(x AS DOUBLE) > 0.0D, "
            "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
            "CAST(0 AS BIGINT), (a, b) -> a + b)"
        )

    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    sig = emb.select(
        "vec_id", "embedding", nrm.alias("nrm"),
        _half(1).alias("lo"), _half(33).alias("hi"),
    )
    q = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    c = sig.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("lo").alias("c_lo"),
        F.col("hi").alias("c_hi"),
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
    ).cast("long")
    # 5 queries broadcast against the signature scan — the tier-1 pass
    # reads (cid, lo, hi) for every candidate exactly once
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid", "q_emb", "q_nrm", "c_emb", "c_nrm",
            ham.alias("hamming"),
        )
    )
    w1 = Window.partitionBy("qid").orderBy("hamming", "cid")
    short = pairs.withColumn("rn", F.row_number().over(w1)).filter(
        F.col("rn") <= 32
    )
    dot = F.aggregate(
        F.zip_with(
            "q_emb", "c_emb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    rer = short.select(
        "qid",
        "cid",
        "hamming",
        F.round(dot / (F.col("q_nrm") * F.col("c_nrm")), 6).alias("cosine"),
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", "hamming", "cosine", "rank")
    )


@query(
    "sim_ivf_recluster_apply",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    kk AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                    AS BIGINT)) AS k FROM v),
    cinit AS (
      SELECT vec_id AS cent_id, emb AS cemb FROM v
      WHERE vec_id < (SELECT k FROM kk)
    ),
    a1 AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cinit c)
      WHERE rn = 1
    ),
    upd AS (
      SELECT a1.cent_id, g.i AS dim, ROUND(AVG(v.emb[g.i]), 6) AS m
      FROM a1 JOIN v USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
      GROUP BY a1.cent_id, g.i
    ),
    cupd AS (SELECT cent_id, list(m ORDER BY dim) AS cemb FROM upd
             GROUP BY cent_id),
    cnew AS (
      SELECT ci.cent_id, COALESCE(cu.cemb, ci.cemb) AS cemb
      FROM cinit ci LEFT JOIN cupd cu USING (cent_id)
    ),
    a2 AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cnew c)
      WHERE rn = 1
    )
    SELECT CAST(cent_id AS BIGINT) AS cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
    FROM a2 GROUP BY 1
    """,
)
def sim_ivf_recluster_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTABLE recluster action (VERDICT r11 task 3), end to
    end on a real on-disk store: build the cluster-partitioned layout
    on the base corpus (vec_id % 10 ≠ 0, frozen first-K codebook),
    ivf_append the arriving batch (% 10 = 0) under that stale
    codebook — the drifted state sim_ivf_drift_check flags — then run
    operators.vectors.ivf_recluster: fresh K = ceil(sqrt N_current)
    codebook (deterministic first-K init + one 6-dp-rounded Lloyd
    refinement, empty cells kept via coalesce), full re-assignment,
    and the rename-aside store+_codebook swap. The returned relation
    is read BACK FROM THE PROMOTED STORE (per-cluster occupancy +
    sum(vec_id) — membership-sensitive), so the DuckDB oracle, which
    replays codebook refresh + assignment from the raw table,
    value-gates the physical swap itself: a half-applied or mangled
    layout cannot hash-match. Crash-window recovery and
    recall-after-recluster are pinned in tests/test_ann_quality.py.

    Shape at 100 TB: iters+1 broadcast-codebook argmin passes + one
    k×dims mean shuffle + ONE partitioned rewrite at full cluster
    write bandwidth — run when drift_check trips, not on a schedule.
    The base-store build here stands in for a store that exists
    already; the recluster itself never depends on the old layout."""
    import os

    from free_etl_spark.operators.vectors import (
        ivf_append,
        ivf_recluster,
        ivf_write,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base = emb.filter(F.col("vec_id") % 10 != 0)
    newb = emb.filter(F.col("vec_id") % 10 == 0)
    path = os.path.join(
        "/tmp",
        f"fes_ivf_reclu_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    ivf_write(base, path, codebook="first_k")
    ivf_append(newb, path)
    ivf_recluster(spark, path, iters=1)
    store = spark.read.parquet(path)
    return store.groupBy(
        F.col("cent_id").cast("long").alias("cent_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("sum_vec_id"),
    )


_IVFPQ_C = 64       # residual codewords per subspace
_IVFPQ_TOPK = 10
_IVFPQ_R_FLOOR = 50  # ADC shortlist floor; scales as N/20


def _ivfpq_codec_sql(probe_pred: str) -> str:
    """The WITH-prefix (raw table → per-candidate ADC scores) of the
    IVF+PQ codec replay, shared by the sim_ivfpq_adc_search oracle
    (probe_pred restricts queries to the first _N_QUERIES ids) and
    the streaming_ann_probe oracle (every vector is a query). Ends at
    the ``adc`` CTE: (qid, cid, adc_d2)."""
    sub = "[m * {s} + 1 : m * {s} + {s}]".format(s=_PQ_SUB)
    l2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS ({_SCALED_K_SQL}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    rankc AS (
      SELECT v.vec_id, cent.cent_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
               {l2.format(a='v.emb', b='cent.cemb')}, cent.cent_id) AS rn
      FROM v CROSS JOIN cent
    ),
    asn AS (SELECT vec_id, cent_id FROM rankc WHERE rn = 1),
    probe AS (SELECT vec_id AS qid, cent_id FROM rankc
              WHERE rn <= {_IVF_NPROBE}{probe_pred}),
    res AS (
      SELECT v.vec_id, asn.cent_id,
             list_transform(list_zip(v.emb, cent.cemb),
                            z -> z[1] - z[2]) AS remb
      FROM v JOIN asn USING (vec_id) JOIN cent USING (cent_id)
    ),
    ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
    cb AS (SELECT vec_id AS c, remb AS crem FROM res
           WHERE vec_id < {_IVFPQ_C}),
    codes AS (
      SELECT vec_id, cent_id, m, c FROM (
        SELECT res.vec_id, res.cent_id, ms.m, cb.c,
               ROW_NUMBER() OVER (PARTITION BY res.vec_id, ms.m ORDER BY
                 {l2.format(a=f'res.remb{sub}', b=f'cb.crem{sub}')}, cb.c)
                 AS rn
        FROM res CROSS JOIN ms CROSS JOIN cb)
      WHERE rn = 1
    ),
    qres AS (
      SELECT p.qid, p.cent_id,
             list_transform(list_zip(q.emb, cent.cemb),
                            z -> z[1] - z[2]) AS qrem
      FROM probe p JOIN v q ON q.vec_id = p.qid JOIN cent USING (cent_id)
    ),
    lut AS (
      SELECT qres.qid, qres.cent_id, ms.m, cb.c,
             {l2.format(a=f'qres.qrem{sub}', b=f'cb.crem{sub}')} AS ld2
      FROM qres CROSS JOIN ms CROSS JOIN cb
    ),
    adc AS (
      SELECT lut.qid, codes.vec_id AS cid, SUM(lut.ld2) AS adc_d2
      FROM codes JOIN lut ON codes.cent_id = lut.cent_id
                         AND codes.m = lut.m AND codes.c = lut.c
      WHERE codes.vec_id <> lut.qid
      GROUP BY lut.qid, codes.vec_id
    )"""


def _ivfpq_oracle() -> str:
    return _ivfpq_codec_sql(f" AND vec_id < {_N_QUERIES}") + f""",
    parm2 AS (SELECT GREATEST({_IVFPQ_R_FLOOR}, COUNT(*) // 20) AS r
              FROM embeddings),
    short AS (
      SELECT qid, cid, adc_d2 FROM (
        SELECT qid, cid, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
                 ROUND(adc_d2, 6), cid) AS rn
        FROM adc)
      WHERE rn <= (SELECT r FROM parm2)
    ),
    nn AS (SELECT vec_id, emb,
                  SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm
           FROM v)
    SELECT qid, cid, adc_d2, exact_cosine, CAST(rn AS INT) AS rnk FROM (
      SELECT s.qid, s.cid, ROUND(s.adc_d2, 6) AS adc_d2,
             ROUND(list_sum(list_transform(list_zip(a.emb, b.emb),
                   z -> z[1] * z[2])) / (a.nrm * b.nrm), 6) AS exact_cosine,
             ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY
               ROUND(list_sum(list_transform(list_zip(a.emb, b.emb),
                     z -> z[1] * z[2])) / (a.nrm * b.nrm), 6) DESC, s.cid)
               AS rn
      FROM short s JOIN nn a ON a.vec_id = s.qid JOIN nn b ON b.vec_id = s.cid)
    WHERE rn <= {_IVFPQ_TOPK}
    """


def _ivfpq_store(spark: SparkSession, sf_dir: str) -> str:
    """Session-scoped PROMOTED IVF+PQ store fixture (VERDICT r12
    task 2): one ivf_write with the persisted PQ layer per (session,
    corpus mtime) — first-K coarse codebook (the mode the oracle
    replays), M=8×SUB=8 residual PQ, C=64 codewords. Consumers
    (sim_ivfpq_adc_search, streaming_ann_probe) read codes and raw
    vectors back from THIS on-disk layout, so their oracles value-gate
    the persisted codes, not a per-query recomputation. Rebuilds when
    the corpus file changes (the session cache's mtime rule)."""
    import json
    import os

    from free_etl_spark.operators.vectors import ivf_write

    path = os.path.join(
        "/tmp",
        f"fes_ivfpq_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    marker = os.path.join(path, "_fixture.json")
    try:
        mtime = os.path.getmtime(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        mtime = None
    if os.path.exists(marker):
        try:
            with open(marker) as f:
                if json.load(f).get("mtime") == mtime:
                    return path
        except Exception:
            pass
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    ivf_write(
        emb,
        path,
        codebook="first_k",
        pq_m=_PQ_M,
        pq_sub=_PQ_SUB,
        pq_c=_IVFPQ_C,
    )
    # marker LAST: a crash mid-build leaves no marker → full rebuild
    storage.write_atomic(marker, json.dumps({"mtime": mtime}))
    return path


@query("sim_ivfpq_adc_search", oracle=_ivfpq_oracle())
def sim_ivfpq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with residual encoding and ADC, served from the
    PERSISTED store — the canonical billion-scale ANN layout (FAISS
    IVFPQ; Jégou et al. 2011 §IV). The store fixture (_ivfpq_store →
    operators.vectors.ivf_write with pq_m=8) holds, on disk: the
    cent_id-partitioned rows each carrying an 8-byte residual
    ``pq_code``, the coarse ``_codebook`` (K ≈ √N first-K centroids),
    and the ``_pq_codebook`` sidecar (M=8 subspaces × C=64 residual
    codewords, deterministically the first C vectors' residuals, so
    DuckDB replays the whole codec from the raw table — the oracle
    value-gates the PERSISTED codes). Queries rank the store's
    codebook, probe their 4 nearest lists via partition-pruned reads
    (the ivf_probe discipline; the probed-cent_id list is a bounded
    ≤ nprobe × n_queries driver collect), and score candidates by
    asymmetric distance — a per-(query, probed-list) lookup table of
    subspace L2 partials (5×4×8×64 entries, broadcast) turns each
    candidate into M lookups over its stored code. The ADC scan reads
    ONLY (vec_id, pq_code) — parquet column pruning never touches the
    raw embedding column. The shortlist (R = max(50, N/20)) then
    fetches raw vectors (store rows again, probed partitions only)
    for the exact cosine re-rank to top-10.

    Why this and not flat IVF or flat PQ at 100 TB: IVF bounds the
    candidate volume (N·nprobe/K per query) and PQ bounds the BYTES
    per candidate (8-byte codes ≈64× smaller than raw vectors);
    residual encoding recovers the accuracy PQ loses to coarse cell
    offsets. Plan: centroids, PQ codebook, and LUT all broadcast; the
    ADC groupBy over probed-list codes is the only shuffle. Recall@10
    vs exact brute force and recluster-re-encode staleness are pinned
    in tests/test_ann_quality.py."""
    import os

    from free_etl_spark.operators.vectors import centroid_rank, probe_dim

    path = _ivfpq_store(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(path, "_codebook"))
    pq_cb = spark.read.parquet(os.path.join(path, "_pq_codebook"))

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    n_corpus = emb.count()
    qv = emb.filter(F.col("vec_id") < _N_QUERIES)
    dim = probe_dim(qv)
    probe = (
        centroid_rank(qv, cent, dim)
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("qid"), "cent_id")
    )

    # per-(query, probed list) ADC lookup table: 5×4×8×64 rows, broadcast
    qres = (
        probe.join(
            qv.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")),
            "qid",
        )
        .join(F.broadcast(cent), "cent_id")
        .select(
            "qid",
            "cent_id",
            F.zip_with("qemb", "cemb", lambda x, y: x - y).alias("remb"),
        )
    )
    subs = F.array(
        *[F.slice("remb", m * _PQ_SUB + 1, _PQ_SUB) for m in range(_PQ_M)]
    )
    qsubs = qres.select(
        "qid", "cent_id", F.posexplode(subs).alias("m", "qsub")
    )
    # unrolled 8-term L2 (same add order as the oracle's list_sum
    # fold) — map-side broadcast-join context, where unrolls win
    ld2 = F.lit(0.0)
    for _i in range(1, _PQ_SUB + 1):
        _d = F.element_at("qsub", _i) - F.element_at("csub", _i)
        ld2 = ld2 + _d * _d
    lut = qsubs.join(F.broadcast(pq_cb), "m").select(
        "qid", "cent_id", "m", "c", ld2.alias("ld2")
    )

    # bounded driver collect (≤ nprobe × n_queries cent_ids) → the
    # cent_id IN (...) partition filter prunes every unprobed list at
    # planning time, exactly like operators.vectors.ivf_probe
    probed = sorted(
        int(r["cent_id"])
        for r in probe.select("cent_id").distinct().collect()
    )
    store = spark.read.parquet(path).filter(F.col("cent_id").isin(probed))
    codes = store.select(
        "vec_id", "cent_id", F.posexplode("pq_code").alias("m", "c")
    )
    adc = (
        codes.join(F.broadcast(lut), ["cent_id", "m", "c"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("ld2").alias("adc_d2"))
    )
    shortlist_r = max(_IVFPQ_R_FLOOR, n_corpus // 20)
    w = Window.partitionBy("qid").orderBy(F.round("adc_d2", 6), F.col("cid"))
    short = adc.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= shortlist_r
    )
    full_nrm = F.sqrt(
        F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x)
    )
    a = qv.select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("a_emb"),
        full_nrm.alias("a_nrm"),
    )
    # candidate vectors come back from the probed store partitions —
    # every shortlist cid lives in a probed list by construction
    b = store.select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("b_emb"),
        full_nrm.alias("b_nrm"),
    )
    exact = F.aggregate(
        F.zip_with("a_emb", "b_emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        short.join(F.broadcast(a), "qid")
        .join(b, "cid")
        .select(
            "qid",
            "cid",
            F.round("adc_d2", 6).alias("adc_d2"),
            F.round(exact / (F.col("a_nrm") * F.col("b_nrm")), 6).alias(
                "exact_cosine"
            ),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("exact_cosine").desc(), F.col("cid")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rnk") <= _IVFPQ_TOPK)
        .select("qid", "cid", "adc_d2", "exact_cosine", "rnk")
    )


def _pq_qerr_oracle() -> str:
    # qualified subspace slice: unqualified `m` would be ambiguous
    # between codes.m and cb.m in the decode join
    sub = "[codes.m * {s} + 1 : codes.m * {s} + {s}]".format(s=_PQ_SUB)
    l2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    return _ivfpq_codec_sql("") + f""",
    err AS (
      SELECT res.vec_id, res.cent_id,
             {l2.format(a=f'res.remb{sub}', b=f'cb.crem{sub}')} AS e
      FROM codes JOIN res USING (vec_id) JOIN cb ON cb.c = codes.c
    )
    SELECT CAST(cent_id AS BIGINT) AS cent_id,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           ROUND(SUM(e), 4) AS quant_err
    FROM err GROUP BY cent_id
    """


@query("sim_pq_quantization_error", oracle=_pq_qerr_oracle())
def sim_pq_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-list PQ reconstruction error of the PERSISTED store — the
    drift metric that decides when the residual codebook needs
    re-training (the PQ-layer twin of sim_ivf_drift_check's coarse
    metric): for EVERY stored row, decode its 8-byte pq_code back to
    codeword subvectors and sum the subspace L2 between the true
    residual and its codeword; aggregate Σerr + row count per
    cent_id. Unlike sim_ivfpq_adc_search (which touches only probed
    lists), this value-gates EVERY persisted code in the store
    against DuckDB's replay of the codec from the raw table — a
    single wrong byte in any row's code changes its list's
    quant_err and hash-mismatches.

    Plan: one store scan (emb + pq_code + cent_id), broadcast joins
    to the store's _codebook (residual) and _pq_codebook (decode),
    all error terms map-side; the only shuffle is the K-group
    aggregate. At 100 TB this is the cheap full-corpus audit pass —
    O(corpus) map work, K-row output, run after compaction/append
    waves the way table-stats refreshes are."""
    import os

    path = _ivfpq_store(spark, sf_dir)
    cent = spark.read.parquet(os.path.join(path, "_codebook"))
    pq_cb = spark.read.parquet(os.path.join(path, "_pq_codebook"))
    store = spark.read.parquet(path)

    res = (
        store.join(F.broadcast(cent), "cent_id")
        .select(
            "vec_id",
            "cent_id",
            "pq_code",
            F.zip_with("emb", "cemb", lambda x, y: x - y).alias("remb"),
        )
    )
    subs = F.array(
        *[F.slice("remb", m * _PQ_SUB + 1, _PQ_SUB) for m in range(_PQ_M)]
    )
    per_m = res.select(
        "vec_id", "cent_id", "pq_code", F.posexplode(subs).alias("m", "sub")
    ).select(
        "vec_id",
        "cent_id",
        "m",
        "sub",
        F.element_at("pq_code", F.col("m") + 1).cast("long").alias("c"),
    )
    # unrolled 8-term L2 (same add order as the oracle's list_sum fold)
    e = F.lit(0.0)
    for _i in range(1, _PQ_SUB + 1):
        _d = F.element_at("sub", _i) - F.element_at("csub", _i)
        e = e + _d * _d
    err = per_m.join(F.broadcast(pq_cb), ["m", "c"]).select(
        "vec_id", "cent_id", e.alias("e")
    )
    return err.groupBy(F.col("cent_id").cast("long").alias("cent_id")).agg(
        F.count_distinct("vec_id").cast("long").alias("n_vecs"),
        F.round(F.sum("e"), 4).alias("quant_err"),
    )


@query(
    "sim_ivf_recluster_incremental",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    base AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
    kk AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                    AS BIGINT)) AS k FROM base),
    cent0 AS (SELECT vec_id AS cent_id, emb AS cemb FROM base
              WHERE vec_id < (SELECT k FROM kk)),
    a0 AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cent0 c)
      WHERE rn = 1
    ),
    means AS (
      SELECT a0.cent_id, g.i AS dim, ROUND(AVG(v.emb[g.i]), 6) AS m
      FROM a0 JOIN v USING (vec_id) CROSS JOIN generate_series(1, 64) AS g(i)
      GROUP BY a0.cent_id, g.i
    ),
    memb AS (SELECT cent_id, list(m ORDER BY dim) AS memb FROM means
             GROUP BY cent_id),
    drift AS (
      SELECT c.cent_id,
             ROUND(list_sum(list_transform(list_zip(c.cemb, m.memb),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) AS drift_d2
      FROM cent0 c JOIN memb m USING (cent_id)
    ),
    hot AS (
      SELECT cent_id FROM (
        SELECT cent_id,
               ROW_NUMBER() OVER (ORDER BY drift_d2 DESC, cent_id) AS rn
        FROM drift)
      WHERE rn = 1
    ),
    cent1 AS (
      SELECT c.cent_id,
             CASE WHEN c.cent_id = (SELECT cent_id FROM hot)
                  THEN m.memb ELSE c.cemb END AS cemb
      FROM cent0 c JOIN memb m USING (cent_id)
    ),
    a1 AS (
      SELECT vec_id, cent_id FROM (
        SELECT b.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                 list_sum(list_transform(list_zip(b.emb, c.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cent_id) AS rn
        FROM v b CROSS JOIN cent1 c)
      WHERE rn = 1
    )
    SELECT CAST(cent_id AS BIGINT) AS cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
           CAST(cent_id = (SELECT cent_id FROM hot) AS BOOLEAN) AS was_drifted
    FROM a1 GROUP BY cent_id
    """,
)
def sim_ivf_recluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL recluster action (VERDICT r13 task 5), end to
    end on a real on-disk store: build the cluster-partitioned layout
    on the base corpus (vec_id % 10 ≠ 0, frozen first-K codebook),
    ivf_append the arriving batch (% 10 = 0) under that stale
    codebook, audit per-list drift (operators.vectors.ivf_list_drift),
    then run ivf_recluster_incremental on the single WORST-drifted
    cell — top-1 by (drift_d2 DESC, cent_id), a selection both engines
    replay without any FP-threshold boundary (the production 3×median
    default is pinned in pytest instead, where no cross-engine replay
    is needed). The operator moves that centroid to its members' 6-dp
    mean, computes the global argmin (compute-only), REWRITES only
    drifted/source partitions and APPENDS movers into destinations
    (docs/SCALE.md r14: 1/44 partitions rewritten vs full recluster's
    44/44). The returned relation is read BACK FROM THE STORE
    (per-cluster occupancy + sum(vec_id) — membership-sensitive), so
    the oracle — which replays drift audit, top-1 selection, the
    restricted Lloyd step, and the global reassignment from the raw
    table — value-gates the physical rewrite/append apply itself: a
    half-applied stage, a lost appended row, or a stale codebook
    cannot hash-match. Crash recovery + recall parity pinned in
    tests/test_ann_quality.py.

    Shape at 100 TB: one drift-audit mean pass + one broadcast argmin
    pass (both compute-only) + rewrite IO proportional to the drifted
    fraction — the maintenance loop a streaming-append corpus runs
    CONTINUOUSLY, where full recluster is the rare re-layout."""
    import os

    from free_etl_spark.operators.vectors import (
        ivf_append,
        ivf_list_drift,
        ivf_recluster_incremental,
        ivf_write,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base = emb.filter(F.col("vec_id") % 10 != 0)
    newb = emb.filter(F.col("vec_id") % 10 == 0)
    path = os.path.join(
        "/tmp",
        f"fes_ivf_inc_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{spark.sparkContext.applicationId}",
    )
    ivf_write(base, path, codebook="first_k")
    ivf_append(newb, path)
    hot = (
        ivf_list_drift(spark, path)
        .orderBy(F.desc("drift_d2"), "cent_id")
        .select("cent_id")
        .first()
        .cent_id
    )
    ivf_recluster_incremental(spark, path, drifted=[int(hot)])
    store = spark.read.parquet(path)
    return store.groupBy(
        F.col("cent_id").cast("long").alias("cent_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("vec_id").cast("long").alias("sum_vec_id"),
        F.first(F.col("cent_id") == F.lit(int(hot))).alias("was_drifted"),
    )
