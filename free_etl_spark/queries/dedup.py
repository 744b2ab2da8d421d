"""Near-duplicate detection over the documents/embeddings tables
(north-star extension ops — SURVEY.md §2B "fuzzy/near dedup").

Four families, all shuffle-bounded (no driver loops, no cartesian
products except where semantically required and capped):

- n-gram Jaccard:   shingle → inverted-index self-join → exact Jaccard
- MinHash + LSH:    deterministic md5 minhash signatures → banded
                    buckets → candidate pairs → exact-Jaccard verify
                    (expressed relationally, so DuckDB can oracle it)
- SimHash:          16-bit token-hash sign aggregation + 4-band
                    hamming-ball pairing (md5-deterministic → oracled)
- embedding cosine: pairwise cosine ≥ τ near-dup pairs

The scale path for all of these is the same shape: candidate
generation via a key-equality join on a compact sketch (shingle /
band / bucket), never an uncapped cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from free_etl_spark import cache
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table

_NGRAM = 3
_JACCARD_T = 0.2
_N_HASHES = 8
_N_BANDS = 4  # rows per band = 2
_DF_CAP = 256  # max document frequency a shingle may have and still join

# shared DuckDB CTE: distinct word-3-gram shingles per document
_SH_SQL = f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    shpos AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks) - {_NGRAM - 1})) AS i
              FROM t),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(toks[i:i+{_NGRAM - 1}], ' ') AS sh
           FROM shpos),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""
# shingle start positions come from the scalar-list generate_series
# (unnest-zipped, bounded per row by len(toks)) — NOT a fixed
# generate_series(1, N) join: a static cap silently truncates the
# oracle's shingle set for any document longer than N tokens while
# the Spark side (F.sequence) is uncapped, so the two engines would
# diverge exactly on long documents.

# df-capped variant for the exact-Jaccard posting-list join: shingles
# shared by more than _DF_CAP documents carry no near-dup signal but
# cost C(df,2) join rows each — one stopword-ish shingle in 1% of a
# 100 TB corpus is a quadratic blowup. Jaccard is computed over the
# capped shingle sets (candidates, intersection AND sizes), which is
# the standard discriminative-shingle semantics.
_SHC_SQL = f"""
    keep AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= {_DF_CAP}),
    shc AS (SELECT sh.doc_id, sh.sh FROM sh JOIN keep USING (sh)),
    csizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id)
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-n-gram shingles per doc: doc_id, sh.

    Persisted (memory-then-disk) because every consumer reuses it 2-3×
    (signatures, set sizes, intersection verify) and cached per
    (session, sf_dir) because five queries share it — recomputing
    would repeat the explode each time.

    Two scale choices: (1) repartition on doc_id first — the documents
    table arrives as few large files, and without it the whole explode
    runs on one core per file; (2) dedup per-document with
    array_distinct *before* exploding — shingle-distinctness is a
    per-doc property, so a cluster-wide DISTINCT shuffle of the
    exploded rows would be pure waste.
    """

    def build() -> DataFrame:
        spark_cpus = spark.sparkContext.defaultParallelism
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", F.split("text", " ").alias("toks"))
            .repartition(spark_cpus, "doc_id")
        )
        return docs.filter(F.size("toks") >= _NGRAM).select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - (_NGRAM - 1)),
                        lambda i: F.concat_ws(" ", F.slice("toks", i, _NGRAM)),
                    )
                )
            ).alias("sh"),
        )

    return cache.relation(spark, sf_dir, "sh", build)


def _jaccard_pairs(shingles: DataFrame) -> DataFrame:
    """Inverted-index self-join → (doc_a, doc_b, inter, jaccard).

    Posting lists are df-capped first: a shingle appearing in more
    than ``_DF_CAP`` documents is dropped before the self-join (its
    C(df,2) candidate rows are the quadratic escape hatch at corpus
    scale, and a shingle shared by thousands of documents carries no
    near-dup signal). Sizes and intersections both use the capped
    sets, so Jaccard stays a true set similarity over the
    discriminative shingles."""
    # df-cap via a window count: ONE shuffle on sh leaves the capped
    # posting lists hash-partitioned on the self-join key, so the join
    # below reuses the exchange instead of re-shuffling both sides.
    # Each doc's capped set size rides along via a join against the
    # tiny per-doc aggregate (|docs| rows ≪ |shingle| rows — AQE turns
    # it into a broadcast at small SF, a doc_id-keyed shuffle join at
    # corpus scale); carrying n_sh ON the shingle rows means the pair
    # aggregation already has both set sizes in its group key, so no
    # post-aggregation joins re-shuffle the Σ C(df,2) candidate rows.
    # NOT persisted: the three consumers (sizes aggregate + both
    # self-join sides) share the cap window's shuffle via Spark's
    # ReusedExchange — caching here was measured slower (it forces a
    # serial materialization the exchange reuse gets for free)
    capped = (
        shingles.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        )
        .filter(F.col("__df") <= _DF_CAP)
        .drop("__df")
    )
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shingles = capped.join(sizes, "doc_id")
    a = shingles.alias("a")
    b = shingles.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "inter",
        F.round(
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
            6,
        ).alias("jaccard"),
    )


def _capped_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected df-capped pair statistics (doc_a < doc_b, inter,
    n_a, n_b) over the full corpus, persisted per (session, corpus):
    the Jaccard and containment queries are both pure projections of
    this relation (only the normalizer differs), and the candidate
    self-join is by far their dominant cost — in the 10× duplication
    probe it is ~30-120 s while each projection is milliseconds, so
    sharing it means the second consumer is free."""

    def build() -> DataFrame:
        sh = _shingles(spark, sf_dir)
        capped = (
            sh.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
            )
            .filter(F.col("__df") <= _DF_CAP)
            .drop("__df")
        )
        sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        sized = capped.join(sizes, "doc_id")
        a = sized.alias("a")
        b = sized.alias("b")
        return (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_sh").alias("n_a"),
                F.col("b.n_sh").alias("n_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )

    return cache.relation(spark, sf_dir, "capped_pairs", build)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SH_SQL},
    {_SHC_SQL},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter,
           ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
    FROM cand
    JOIN csizes sa ON cand.doc_a = sa.doc_id
    JOIN csizes sb ON cand.doc_b = sb.doc_id
    WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= {_JACCARD_T}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ τ over df-capped posting
    lists. The self-join keys on the shingle (inverted index); the
    df ≤ {_DF_CAP} cap bounds per-shingle join cost at C(cap,2), so
    the plan has no quadratic escape hatch — the MinHash/LSH variant
    below bounds candidates further by banding."""
    pairs = _capped_pair_stats(spark, sf_dir)
    return pairs.select(
        "doc_a",
        "doc_b",
        "inter",
        F.round(
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= _JACCARD_T)


def _minhash_band_sql() -> str:
    """DuckDB oracle for the banded minhash candidate generation."""
    sig_cols = ", ".join(
        f"MIN(CASE WHEN seed = {s} THEN h END) AS h{s}" for s in range(_N_HASHES)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(h{2 * b} || h{2 * b + 1}) AS band_key FROM sig"
        for b in range(_N_BANDS)
    )
    return f"""
    seeds AS (SELECT s AS seed FROM generate_series(0, {_N_HASHES - 1}) AS g(s)),
    hashes AS (SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || '|' || sh) AS h
               FROM sh CROSS JOIN seeds),
    sig AS (SELECT doc_id, {sig_cols} FROM hashes GROUP BY doc_id),
    bands AS ({bands}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id)
    """


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded minhash signatures (doc_id, band_id, band_key), persisted
    per (session, corpus): the candidate self-join consumes this
    relation on BOTH sides, and min(md5-string) plans as a
    SortAggregate (string buffers can't hash-agg) that Spark would
    otherwise execute twice — the broadcast exchange on one side
    defeats ReuseExchange. The relation is |docs|×bands rows of ~50
    bytes, so persisting it is cheap at any corpus size (it IS the
    signature index a 100 TB dedup pipeline materializes once per
    corpus snapshot anyway)."""

    def build() -> DataFrame:
        return _banded_minhash(_shingles(spark, sf_dir))

    return cache.relation(spark, sf_dir, "minhash_bands", build)


def _banded_minhash(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) -> banded minhash signatures (doc_id, band_id,
    band_key) — the md5-minhash core shared by the word-shingle LSH
    (dedup_minhash_lsh) and the chat-turn-shingle LSH
    (dedup_chat_turns); _minhash_band_sql is its oracle mirror over
    whatever CTE is named ``sh``.

    One min-aggregate column per seed, computed directly over the
    shingle rows: the md5s evaluate inside the partial (map-side)
    aggregation, so the shuffle carries |docs|×{_N_HASHES} mins — not
    |shingles|×{_N_HASHES} exploded hash rows (a seed cross join would
    multiply the shuffle volume for no benefit)."""
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{s}|"), F.col("sh")).cast("binary"))
            ).alias(f"h{s}")
            for s in range(_N_HASHES)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(
                        F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                    ).cast("binary")
                ).alias("band_key"),
            )
            for b in range(_N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SH_SQL},
    {_minhash_band_sql()},
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= {_JACCARD_T}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection, fully deterministic (md5-based
    minhash → DuckDB can verify it):

    1. signature: per doc, min over shingles of md5(seed||'|'||shingle)
       for 8 seeds  (groupBy doc — one shuffle, materialized once via
       _minhash_bands; the self-join in step 3 would otherwise execute
       the string-min SortAggregate twice)
    2. banding: 4 bands × 2 rows; band key = md5(sig_i||sig_j)
    3. candidates: docs sharing any band bucket (join on band key —
       the LSH trick: cost scales with bucket collisions, not |docs|²)
    4. verify: exact Jaccard on candidate pairs only.
    """
    sh = _shingles(spark, sf_dir)
    bands = _minhash_bands(spark, sf_dir)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify candidates with exact jaccard: carry each doc's shingle
    # *array* onto the (few) candidate pairs and intersect map-side —
    # two joins keyed on doc id, |cand| result rows, no re-explosion of
    # candidate × shingle rows. Array size is bounded by per-doc
    # shingle count (hundreds), independent of corpus size.
    sh_arr = sh.groupBy("doc_id").agg(F.collect_list("sh").alias("shs"))
    a_arr = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("shs_a"))
    b_arr = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        cand.join(a_arr, "doc_a")
        .join(b_arr, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_T)
    )


# shared DuckDB CTE: the 64-bit simhash signature per document —
# md5-derived, so the oracle replicates it bit-for-bit in SQL. 64 bits
# matter at corpus scale: 16-bit signatures have only 65,536 distinct
# values, so band buckets saturate (~N/16 docs per bucket) and the
# band join degenerates toward all-pairs; 64-bit keeps 2^16 values per
# 16-bit band, i.e. bucket occupancy ~N/65536 per band value. The
# unsigned→signed conversion (subtract 2^64 when ≥ 2^63) matches
# Spark's conv(hex, 16, -10) two's-complement semantics; the j=63 bit
# contributes the long MIN_VALUE instead of 1<<63 so the signed sum is
# exact in both engines.
_SIMHASH_SQL = """
    tok AS (SELECT DISTINCT doc_id, t.tok
            FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)),
    h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 16))::UBIGINT::HUGEINT
                      - CASE WHEN ('0x' || substr(md5(tok), 1, 16))::UBIGINT
                                  >= 9223372036854775808::HUGEINT
                             THEN 18446744073709551616::HUGEINT
                             ELSE 0::HUGEINT END AS BIGINT) AS h
          FROM tok),
    b AS (SELECT doc_id, g.j,
                 SUM(CASE WHEN (h >> g.j) & 1 = 1 THEN 1 ELSE -1 END) AS w
          FROM h CROSS JOIN generate_series(0, 63) AS g(j)
          GROUP BY doc_id, g.j),
    sig AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN w > 0 THEN
                              CASE WHEN j = 63
                                   THEN (-9223372036854775807 - 1)::HUGEINT
                                   ELSE (1::BIGINT << j)::HUGEINT END
                            ELSE 0::HUGEINT END) AS BIGINT) AS simhash64
            FROM b GROUP BY doc_id)
"""


@query(
    "dedup_simhash",
    oracle=f"WITH {_SIMHASH_SQL} SELECT doc_id, simhash64 FROM sig",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures: per distinct token, take 64 bits of
    md5 (signed, via conv base 16 → -10); per bit position sum +1/-1
    across tokens; sign → signature bit. md5-deterministic, so DuckDB
    reproduces every signature bit-for-bit (the oracle replays the
    hash/weight/sign pipeline in SQL). Pairing is dedup_simhash_pairs
    below — which rebuilds this exact relation, so the signature
    relation is persisted via the shared session relation cache (one
    token-explode + 64-column weight aggregate per session, not per
    consumer)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        )
        h64 = F.conv(
            F.substring(F.md5(F.col("tok").cast("binary")), 1, 16), 16, -10
        ).cast("long")
        toks = docs.select("doc_id", h64.alias("h"))
        weights = toks.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1
                    ).otherwise(-1)
                ).alias(f"w{j}")
                for j in range(64)
            ]
        )
        # bit 63 contributes MIN_LONG (the signed value of 1<<63); all
        # positive terms sum to ≤ 2^63-1, so the long arithmetic is
        # exact
        simhash = None
        for j in range(64):
            val = -9223372036854775808 if j == 63 else (1 << j)
            bit = F.when(
                F.col(f"w{j}") > 0, F.lit(val).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            simhash = bit if simhash is None else simhash + bit
        return weights.select(
            "doc_id", simhash.cast("long").alias("simhash64")
        )

    return cache.relation(spark, sf_dir, "simhash_sig", build)


_COS_T = 0.45


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                    AS BIGINT)) AS k FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    asn AS (
      SELECT vec_id, cent_id FROM (
        SELECT v.vec_id, cent.cent_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(list_zip(v.emb, cent.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id) AS rn
        FROM v CROSS JOIN cent)
      WHERE rn = 1
    ),
    n AS (SELECT vec_id, emb,
                 SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM v)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_sum(list_transform(list_zip(na.emb, nb.emb),
                 z -> z[1] * z[2])) / (na.nrm * nb.nrm), 6) AS cosine
    FROM asn a JOIN asn b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    JOIN n na ON na.vec_id = a.vec_id
    JOIN n nb ON nb.vec_id = b.vec_id
    WHERE ROUND(list_sum(list_transform(list_zip(na.emb, nb.emb),
                z -> z[1] * z[2])) / (na.nrm * nb.nrm), 6) >= {_COS_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ τ), bucketed by
    IVF coarse assignment: every vector is assigned to its nearest of
    K ≈ √N deterministic centroids (scaled_centroid_k, mirrored by the
    oracle's COUNT(*) expression; broadcast argmin — map-side), and
    candidate pairs come from an EQUI-JOIN on cent_id, never an
    all-pairs cross product — with K = √N the candidate volume is
    N^1.5, not quadratic-over-a-constant. Exact cosine verifies
    candidates. Near dups are near in space, so same-cluster recall is
    high; the multi-probe variant (sim_ann_lsh's banding, or nprobe >
    1) is the recall knob. At 100 TB the table is written partitioned
    by cent_id (operators.vectors.ivf_write) and the pair join is
    partition-local. Dot products stay JVM-side via zip_with +
    aggregate fold. The scored pair relation is persisted via the
    shared session cache — dedup_semdedup_keep consumes the identical
    relation for its components pass, so one build serves both."""

    def build() -> DataFrame:
        from free_etl_spark.operators.vectors import (
            cosine_scored_pairs,
            probe_dim,
        )
        from free_etl_spark.queries.similarity import _ivf_nearest4

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        dim = probe_dim(emb)
        asn = (
            _ivf_nearest4(spark, sf_dir)
            .filter(F.col("rn") == 1)
            .select("vec_id", "cent_id")
        )
        a = asn.select(F.col("vec_id").alias("vec_a"), "cent_id")
        b = asn.select(F.col("vec_id").alias("vec_b"), "cent_id")
        cand = (
            a.join(b, "cent_id")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
        )
        # pair scoring keeps the fold (see sim_ann_lsh note: unrolled
        # is slower in the post-join projection, faster only map-side)
        return cosine_scored_pairs(cand, emb).filter(
            F.col("cosine") >= _COS_T
        )

    return cache.relation(
        spark, sf_dir, "emb_cos_pairs", build, src_table="embeddings.parquet"
    )


_HAMMING_T = 3


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_SQL}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash64, b.simhash64)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash64, b.simhash64)) <= {_HAMMING_T}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3): candidates come from a
    4×16-bit band join — by pigeonhole, any pair within hamming 3 of a
    64-bit signature agrees on at least one of 4 disjoint 16-bit
    bands, so the band join has full recall and cost scales with
    band-bucket collisions, not |docs|² (the oracle brute-forces the
    same answer). 16-bit bands give 65,536 bucket values per band, so
    expected bucket occupancy is ~N/65536 — the collision cost that a
    16-bit signature (16 values per 4-bit band) could not bound.
    """
    from free_etl_spark.operators.hashing import hamming_band_pairs

    sig = dedup_simhash(spark, sf_dir)
    return hamming_band_pairs(sig, "doc_id", "simhash64", _HAMMING_T).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        "hamming",
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_SH_SQL},
    {_SHC_SQL},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN csizes sa ON cand.doc_a = sa.doc_id
      JOIN csizes sb ON cand.doc_b = sb.doc_id
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
            >= {_JACCARD_T}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS component
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: n-gram-Jaccard near-dup pairs grouped into
    connected components by distributed min-label propagation
    (operators/components.py); component = min doc_id in the group, so
    `component == doc_id` marks the canonical survivor. The oracle
    computes the same components with a recursive transitive-closure
    CTE."""
    from free_etl_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(
        docs, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )


@query(
    "dedup_canonical_text",
    oracle="""
    SELECT canon_fp, COUNT(*) AS dup_count, MIN(doc_id) AS keep_doc_id
    FROM (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_fp
      FROM documents
    )
    GROUP BY canon_fp
    HAVING COUNT(*) >= 1
    """,
)
def dedup_canonical_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized exact dedup: lowercase → trim → collapse runs of
    whitespace → md5, so documents differing only in case/spacing
    collapse to one fingerprint (the usual first pass before fuzzy
    dedup in a corpus pipeline). All JVM-side string ops; one shuffle
    on the uniform digest."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(canon.cast("binary")).alias("canon_fp"))
        .groupBy("canon_fp")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


@query(
    "dedup_incremental_batch",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_fp
      FROM documents
    ),
    corpus AS (SELECT canon_fp FROM fp WHERE doc_id < 400),
    batch  AS (SELECT doc_id, canon_fp FROM fp WHERE doc_id >= 400)
    SELECT b.doc_id, b.canon_fp,
           CASE WHEN c.canon_fp IS NULL THEN 1 ELSE 0 END AS is_new
    FROM batch b LEFT JOIN (SELECT DISTINCT canon_fp FROM corpus) c
      ON b.canon_fp = c.canon_fp
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: an incoming batch
    (doc_id ≥ 400) checked against the existing corpus (doc_id < 400)
    by canonical fingerprint. The corpus side reduces to DISTINCT
    fingerprints before the join; at 100 TB that side is a bucketed
    fingerprint index the batch semi-probes, so cost is O(batch), not
    O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = docs.select("doc_id", F.md5(canon.cast("binary")).alias("canon_fp"))
    corpus = fp.filter(F.col("doc_id") < 400).select("canon_fp").distinct()
    batch = fp.filter(F.col("doc_id") >= 400)
    c = corpus.withColumnRenamed("canon_fp", "corpus_fp")
    return batch.join(
        c, batch.canon_fp == c.corpus_fp, "left"
    ).select(
        "doc_id",
        "canon_fp",
        F.when(F.col("corpus_fp").isNull(), 1).otherwise(0).alias("is_new"),
    )


@query(
    "dedup_pipeline_keep_set",
    oracle=f"""
    WITH RECURSIVE {_SH_SQL},
    fp AS (
      SELECT doc_id, n_chars,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_fp
      FROM documents
    ),
    kdoc AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY canon_fp),
    shk AS (SELECT sh.doc_id, sh.sh FROM sh JOIN kdoc USING (doc_id)),
    keepk AS (SELECT sh FROM shk GROUP BY sh HAVING COUNT(*) <= {_DF_CAP}),
    shck AS (SELECT shk.doc_id, shk.sh FROM shk JOIN keepk USING (sh)),
    csz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shck GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shck a JOIN shck b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      JOIN csz sa ON cand.doc_a = sa.doc_id
      JOIN csz sb ON cand.doc_b = sb.doc_id
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
            >= {_JACCARD_T}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT k.doc_id,
             LEAST(k.doc_id, COALESCE(MIN(r.b), k.doc_id)) AS component
      FROM kdoc k LEFT JOIN reach r ON r.a = k.doc_id
      GROUP BY k.doc_id
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id
    FROM (
      SELECT c.component, c.doc_id,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY f.n_chars DESC, c.doc_id) AS rn
      FROM comp c JOIN fp f ON f.doc_id = c.doc_id
    )
    GROUP BY component
    """,
)
def dedup_pipeline_keep_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dedup pipeline a training-data run executes,
    as one composed query: (1) exact stage — canonical-fingerprint
    groups keep their min doc_id; (2) near-dup stage — df-capped
    n-gram-Jaccard pairs among the exact survivors; (3) clustering —
    distributed min-label connected components over those pairs;
    (4) selection — each duplicate group keeps its highest-quality
    member (longest, doc_id tie-break). Output: one row per final
    group with its size and the kept document.

    Every stage is the scale-audited operator registered standalone
    (dedup_canonical_text, dedup_ngram_jaccard, connected_components,
    dedup_keep_best_quality); the composition shares the shingle scan
    and adds no new shuffle shapes. The oracle replays all four
    stages, including the transitive closure, in one recursive CTE.
    Gate cost at sf0.01 (~4s) is the one-time session shingle/
    signature cache build plus DuckDB's recursive-CTE oracle
    replay — warm-session plan cost is sub-second.
    """
    docs = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = docs.select(
        "doc_id", "n_chars", F.md5(canon.cast("binary")).alias("canon_fp")
    )
    keepers = fp.groupBy("canon_fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )

    def build_pairs() -> DataFrame:
        # keeper-filtered near-dup pairs: deterministic per corpus, so
        # persisted via the shared session cache — the components pass
        # below iterates over it several times and repeat invocations
        # (bench reps, driver re-runs) skip the shingle join entirely
        sh = _shingles(spark, sf_dir).join(keepers, "doc_id")
        return _jaccard_pairs(sh).filter(
            F.col("jaccard") >= _JACCARD_T
        ).select("doc_a", "doc_b")

    pairs = cache.relation(spark, sf_dir, "pipeline_pairs", build_pairs)
    from free_etl_spark.operators.components import connected_components

    comp = connected_components(
        keepers, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    ranked = comp.join(fp.select("doc_id", "n_chars"), "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.col("n_chars").desc(), F.col("doc_id")
            )
        ),
    )
    return ranked.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id"),
    )


@query(
    "text_contamination_check",
    oracle=f"""
    WITH {_SH_SQL},
    corpus AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 400),
    batch AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 400)
    SELECT b.doc_id,
           COUNT(*) AS n_sh,
           COUNT(c.sh) AS n_hit,
           ROUND(CAST(COUNT(c.sh) AS DOUBLE) / COUNT(*), 6) AS contamination
    FROM batch b LEFT JOIN corpus c ON b.sh = c.sh
    GROUP BY b.doc_id
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination check — the step before any training
    run: for each incoming (eval) document, the fraction of its
    distinct word-3-grams already present in the training corpus.
    High contamination ⇒ the eval doc leaks into training data.

    Shape at 100 TB: the corpus side reduces to DISTINCT shingles (a
    precomputed bucketed shingle index in production) and the batch
    probes it with an equi-join on the shingle — cost is O(batch
    shingles), never O(corpus × batch). The left join + COUNT(hit)
    keeps fully-clean documents (contamination = 0) in the output."""
    sh = _shingles(spark, sf_dir)
    corpus = sh.filter(F.col("doc_id") < 400).select("sh").distinct()
    batch = sh.filter(F.col("doc_id") >= 400)
    c = corpus.withColumnRenamed("sh", "c_sh")
    return (
        batch.join(c, batch.sh == c.c_sh, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("c_sh").alias("n_hit"),
            F.round(F.count("c_sh").cast("double") / F.count(F.lit(1)), 6).alias(
                "contamination"
            ),
        )
    )


# benchmark membership for the fuzzy decontamination probe: every
# 10th doc_id stands in for the held-out eval set
_BENCH_MOD = 10


@query(
    "text_contamination_fuzzy",
    oracle=f"""
    WITH {_SH_SQL},
    {_minhash_band_sql()},
    hits AS (
      SELECT DISTINCT
        CASE WHEN doc_a % {_BENCH_MOD} = 0 THEN doc_b ELSE doc_a END AS train_doc,
        CASE WHEN doc_a % {_BENCH_MOD} = 0 THEN doc_a ELSE doc_b END AS bench_doc
      FROM cand
      WHERE (doc_a % {_BENCH_MOD} = 0) <> (doc_b % {_BENCH_MOD} = 0)
    ),
    inter AS (
      SELECT h.train_doc, h.bench_doc, COUNT(*) AS inter
      FROM hits h
      JOIN sh a ON a.doc_id = h.train_doc
      JOIN sh b ON b.doc_id = h.bench_doc AND b.sh = a.sh
      GROUP BY 1, 2
    )
    SELECT i.train_doc, i.bench_doc,
           ROUND(CAST(inter AS DOUBLE) / (st.n_sh + sb.n_sh - inter), 6) AS jaccard
    FROM inter i
    JOIN sizes st ON i.train_doc = st.doc_id
    JOIN sizes sb ON i.bench_doc = sb.doc_id
    WHERE ROUND(CAST(inter AS DOUBLE) / (st.n_sh + sb.n_sh - inter), 6)
          >= {_JACCARD_T}
    """,
)
def text_contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination — the near-duplicate variant of
    text_contamination_check: exact n-gram overlap misses *paraphrased*
    eval leakage, so the corpus is probed against the benchmark set's
    banded minhash index and candidates are verified with exact
    Jaccard. Training docs whose similarity to any benchmark doc
    clears τ must be dropped before a training run.

    Shape at 100 TB: the benchmark set is tiny (thousands of eval
    documents) — its band index broadcasts to every executor, so the
    corpus side is a MAP-SIDE probe: no shuffle of corpus bands, no
    self-join. Cost is O(corpus bands) probe + exact verify on the
    (few) band-collision pairs; the corpus is never paired with
    itself. Reuses the persisted _minhash_bands relation, same md5
    minhash as dedup_minhash_lsh so DuckDB replays it exactly."""
    sh = _shingles(spark, sf_dir)
    bands = _minhash_bands(spark, sf_dir)
    bench_b = bands.filter(F.col("doc_id") % _BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_doc"), "band_id", "band_key"
    )
    corp_b = bands.filter(F.col("doc_id") % _BENCH_MOD != 0).select(
        F.col("doc_id").alias("train_doc"), "band_id", "band_key"
    )
    cand = (
        corp_b.join(F.broadcast(bench_b), ["band_id", "band_key"])
        .select("train_doc", "bench_doc")
        .distinct()
    )
    # exact-Jaccard verify: shingle arrays keyed on doc id (see
    # dedup_minhash_lsh) — the benchmark side is broadcast again
    sh_arr = sh.groupBy("doc_id").agg(F.collect_list("sh").alias("shs"))
    t_arr = sh_arr.select(
        F.col("doc_id").alias("train_doc"), F.col("shs").alias("shs_t")
    )
    b_arr = sh_arr.filter(F.col("doc_id") % _BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_doc"), F.col("shs").alias("shs_b")
    )
    inter = F.size(F.array_intersect("shs_t", "shs_b"))
    union = F.size("shs_t") + F.size("shs_b") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        cand.join(t_arr, "train_doc")
        .join(F.broadcast(b_arr), "bench_doc")
        .select("train_doc", "bench_doc", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_T)
    )


@query(
    "dedup_keep_best_quality",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars, lang,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_fp
      FROM documents
    )
    SELECT canon_fp, doc_id, n_chars, lang
    FROM (
      SELECT canon_fp, doc_id, n_chars, lang,
             ROW_NUMBER() OVER (PARTITION BY canon_fp
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM fp
    )
    WHERE rn = 1
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision step after dedup grouping: within each duplicate
    group keep the highest-quality representative (longest document,
    doc_id tie-break) — row_number over the group, rank-1 filter. At
    scale this IS the dedup output writer's select."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = docs.select(
        "doc_id", "n_chars", "lang", F.md5(canon.cast("binary")).alias("canon_fp")
    )
    w = Window.partitionBy("canon_fp").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("canon_fp", "doc_id", "n_chars", "lang")
    )


_CONTAIN_T = 0.5


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH {_SH_SQL},
    {_SHC_SQL},
    cand AS (
      SELECT a.doc_id AS doc_src, b.doc_id AS doc_in, COUNT(*) AS inter
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_src, doc_in, inter,
           ROUND(CAST(inter AS DOUBLE) / sa.n_sh, 6) AS containment
    FROM cand JOIN csizes sa ON cand.doc_src = sa.doc_id
    WHERE ROUND(CAST(inter AS DOUBLE) / sa.n_sh, 6) >= {_CONTAIN_T}
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs: |A∩B| / |A| ≥ τ over the
    df-capped shingle sets — the sub-document-duplication detector
    Jaccard misses (a short doc fully quoted inside a long one has
    high containment but low Jaccard because the union is dominated by
    the long doc; broder's "containment" vs "resemblance"). Directed:
    (doc_src, doc_in) means doc_src's shingles mostly appear in
    doc_in. Same scale shape as dedup_ngram_jaccard — inverted-index
    equi-join on df-capped postings (the cap bounds per-shingle join
    cost at df², no quadratic escape hatch), one pair aggregation;
    only the normalizer differs, so the shared persisted shingle
    relation serves both."""
    # intersections are symmetric, so the candidate work is the shared
    # undirected _capped_pair_stats relation (one self-join per
    # session/corpus, reused by dedup_ngram_jaccard); each undirected
    # pair fans out to its two directed rows map-side.
    pairs = _capped_pair_stats(spark, sf_dir)
    directed = pairs.select(
        "inter",
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_src"),
                    F.col("doc_b").alias("doc_in"),
                    F.col("n_a").alias("n_src"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_src"),
                    F.col("doc_a").alias("doc_in"),
                    F.col("n_b").alias("n_src"),
                ),
            )
        ).alias("d"),
    )
    return directed.select(
        F.col("d.doc_src").alias("doc_src"),
        F.col("d.doc_in").alias("doc_in"),
        "inter",
        F.round(F.col("inter").cast("double") / F.col("d.n_src"), 6).alias(
            "containment"
        ),
    ).filter(F.col("containment") >= _CONTAIN_T)


@query(
    "dedup_semdedup_keep",
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    parm AS (SELECT GREATEST(16, CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                    AS BIGINT)) AS k FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM v
             WHERE vec_id < (SELECT k FROM parm)),
    asnd AS (
      SELECT vec_id, cent_id, d2 FROM (
        SELECT v.vec_id, cent.cent_id,
               list_sum(list_transform(list_zip(v.emb, cent.cemb),
                        z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d2,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(list_zip(v.emb, cent.cemb),
                          z -> (z[1] - z[2]) * (z[1] - z[2]))), cent.cent_id)
                 AS rn
        FROM v CROSS JOIN cent)
      WHERE rn = 1
    ),
    n AS (SELECT vec_id, emb,
                 SQRT(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM v),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM asnd a JOIN asnd b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      JOIN n na ON na.vec_id = a.vec_id
      JOIN n nb ON nb.vec_id = b.vec_id
      WHERE ROUND(list_sum(list_transform(list_zip(na.emb, nb.emb),
                  z -> z[1] * z[2])) / (na.nrm * nb.nrm), 6) >= {_COS_T}
    ),
    edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs
              UNION SELECT vec_b, vec_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT v.vec_id,
             LEAST(v.vec_id, COALESCE(MIN(r.b), v.vec_id)) AS component
      FROM v LEFT JOIN reach r ON r.a = v.vec_id
      GROUP BY v.vec_id
    )
    SELECT c.vec_id, c.component,
           ROUND(SQRT(a.d2), 6) AS cent_dist,
           ROW_NUMBER() OVER (PARTITION BY c.component
                              ORDER BY a.d2 DESC, c.vec_id) = 1 AS keep
    FROM comp c JOIN asnd a ON a.vec_id = c.vec_id
    """,
)
def dedup_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic dedup over embedding clusters): the
    cluster-then-pairwise candidate generation is dedup_embedding_
    cosine's IVF-bucketed pair relation; this operator adds the
    paper's keep policy — duplicate pairs are closed into components
    (distributed min-label propagation) and within each component the
    vector FARTHEST from its assigned centroid survives (keeping the
    least prototypical example preserves diversity; singletons keep
    themselves). The oracle replays assignment, pairs, a recursive
    transitive closure, and the argmax keep rule. The within-array
    fold order is identical in both engines, so raw d2 doubles are
    bit-equal and the DESC ordering cannot flip.
    Gate cost at sf0.01 (~4s) is the one-time session shingle/
    signature cache build plus DuckDB's recursive-CTE oracle
    replay — warm-session plan cost is sub-second.
    """
    from free_etl_spark.operators.components import connected_components
    from free_etl_spark.queries.similarity import _ivf_nearest4

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    asn = (
        _ivf_nearest4(spark, sf_dir)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id", "d2")
    )
    pairs = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    comps = connected_components(
        emb.select("vec_id"), pairs, node_col="vec_id", src_col="vec_a",
        dst_col="vec_b",
    )
    j = comps.join(asn, "vec_id")
    w = Window.partitionBy("component").orderBy(
        F.col("d2").desc(), F.col("vec_id")
    )
    return j.select(
        "vec_id",
        "component",
        F.round(F.sqrt("d2"), 6).alias("cent_dist"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


_SPAN_K = 16  # tokens per span window
_SPAN_STRIDE = 4  # window stride (Lee et al. use stride 1; 4 bounds volume)


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    spans AS (
      SELECT doc_id,
             array_to_string(tk[s:s + {_SPAN_K - 1}], ' ') AS span
      FROM t, LATERAL (SELECT unnest(range(1,
             GREATEST(len(tk) - {_SPAN_K - 1}, 1) + 1, {_SPAN_STRIDE})) AS s)
    ),
    dup AS (
      SELECT span FROM spans GROUP BY span
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
      SELECT s.doc_id, d.span IS NOT NULL AS is_dup_span
      FROM spans s LEFT JOIN dup d USING (span)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (WHERE is_dup_span) AS BIGINT) AS dup_spans,
           FLOOR(CAST(COUNT(*) FILTER (WHERE is_dup_span) AS DOUBLE)
                 / COUNT(*) * 1e6) / 1e6 AS dup_frac,
           COUNT(*) FILTER (WHERE is_dup_span) * 2 >= COUNT(*) AS is_dup
    FROM flagged GROUP BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection (the relational
    approximation of Lee et al. 2022's suffix-array ExactSubstr
    dedup): slide a 16-token window with stride 4 (_SPAN_K/_SPAN_STRIDE)
    over each document, find windows that recur in >= 2 distinct
    documents, and score each doc by its duplicated-span fraction
    (is_dup when >= half its spans are shared — those docs are
    mostly copied text). Plan shape: one explode (map-side), one
    shuffle on span for the distinct-doc frequency (two-phase partial
    agg), a broadcast left join of the duplicated-span set (bounded
    by corpus-wide REPEATED spans — dimension-sized), one shuffle on
    doc_id. Nothing all-pairs; at 100 TB the span key would be a
    fixed-width xxhash64 of the window instead of the window string
    (same plan, ~10x less shuffle volume) — kept as text here so the
    DuckDB oracle replays it verbatim. The fraction is floor-
    truncated (never ROUND) because span counts hit power-of-two
    denominators where half-up/half-even rounding splits engines.
    is_dup compares integers, no FP at all."""
    docs = load_table(spark, sf_dir, "documents")
    return substring_span_stats(docs)


def substring_span_stats(docs: DataFrame) -> DataFrame:
    """Core of dedup_substring_spans over any (doc_id, text) relation
    — exposed for reuse/testing."""
    # tk materialized before the transform (split-in-lambda re-evaluates
    # per element — see text_bigram_lm_score)
    spans = docs.select(
        "doc_id", F.split("text", " ").alias("tk")
    ).select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(1, greatest(size(tk)"
            f" - {_SPAN_K - 1}, 1), {_SPAN_STRIDE}),"
            f" s -> array_join(slice(tk, s, {_SPAN_K}), ' ')))"
        ).alias("span"),
    )
    dup = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span", F.lit(True).alias("is_dup_span"))
    )
    # no broadcast hint: the duplicated-span set is boilerplate-
    # dominated and unbounded on a real web corpus (every corpus-
    # repeated window, stored as text) — a forced broadcast disables
    # AQE's size-based fallback and OOMs at scale; AQE broadcasts it
    # when it actually fits
    flagged = spans.join(dup, "span", "left").withColumn(
        "is_dup_span", F.coalesce(F.col("is_dup_span"), F.lit(False))
    )
    n = F.count(F.lit(1))
    d = F.count(F.when(F.col("is_dup_span"), F.lit(1)))
    return flagged.groupBy("doc_id").agg(
        n.cast("long").alias("n_spans"),
        d.cast("long").alias("dup_spans"),
        (F.floor(d.cast("double") / n * 1e6) / 1e6).alias("dup_frac"),
        (d * 2 >= n).alias("is_dup"),
    )


@query(
    "dedup_bloom_prescreen",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string((string_split(text, ' '))[1:8], ' '))
               AS canon_fp
      FROM documents
    ),
    corpus AS (SELECT DISTINCT canon_fp FROM fp WHERE doc_id < 400),
    batch  AS (SELECT doc_id, canon_fp FROM fp WHERE doc_id >= 400),
    bloom AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || canon_fp),
                             1, 4))::INT AS pos
      FROM corpus CROSS JOIN generate_series(0, 2) AS g(k)
    ),
    probe AS (
      SELECT b.doc_id, b.canon_fp,
             ('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || b.canon_fp),
                             1, 4))::INT AS pos
      FROM batch b CROSS JOIN generate_series(0, 2) AS g(k)
    ),
    cand AS (
      SELECT doc_id, canon_fp FROM probe
      GROUP BY doc_id, canon_fp
      HAVING BOOL_AND(pos IN (SELECT pos FROM bloom))
    )
    SELECT c.doc_id,
           CASE WHEN x.canon_fp IS NULL THEN 0 ELSE 1 END AS is_dup
    FROM cand c
    LEFT JOIN corpus x ON c.canon_fp = x.canon_fp
    """,
)
def dedup_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-screen for incremental ingest dedup: the
    corpus's 8-token-PREFIX fingerprints (the dedup key for
    boilerplate-led duplicates — shared openings survive edits deeper
    in the document) hash into a 2^16-position bloom
    (k=3 md5-derived positions each); the incoming batch tests
    membership MAP-SIDE against the broadcast position set and only
    might-contain candidates proceed to the exact fingerprint join.
    Output = the candidate set with its exact verdict — false
    positives surface as is_dup=0 rows; false negatives are
    impossible (a true duplicate\'s positions are all set by its own
    corpus twin), which is the property that makes the screen safe.

    The md5 position derivation makes the whole structure
    engine-replayable, so this carries a FULL value oracle (not the
    tolerance-boolean sketch convention). At 100 TB the position set
    becomes a real bitmap (GB-scale blooms broadcast fine: 1 GB ≈
    8.6e9 bits handles 6e8 keys at 1% FP) and the screen is what
    keeps continuous-ingest dedup O(batch): the overwhelmingly-new
    majority is discarded before any shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))
    fp = docs.select("doc_id", F.md5(prefix.cast("binary")).alias("canon_fp"))
    corpus = fp.filter(F.col("doc_id") < 400).select("canon_fp").distinct()
    batch = fp.filter(F.col("doc_id") >= 400)

    def positions(col: F.Column) -> F.Column:
        return F.array(
            *[
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{k}|"), col).cast("binary")),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("int")
                for k in range(3)
            ]
        )

    bloom = corpus.select(
        F.explode(positions(F.col("canon_fp"))).alias("pos")
    ).agg(F.array_sort(F.collect_set("pos")).alias("bloom_arr"))
    # map-side membership: candidate iff every probe position is set
    cand = (
        batch.join(F.broadcast(bloom))
        .filter(
            F.size(
                F.array_except(positions(F.col("canon_fp")), F.col("bloom_arr"))
            )
            == 0
        )
        .select("doc_id", "canon_fp")
    )
    c = corpus.withColumnRenamed("canon_fp", "corpus_fp")
    return cand.join(c, cand.canon_fp == c.corpus_fp, "left").select(
        "doc_id",
        F.when(F.col("corpus_fp").isNull(), 0).otherwise(1).alias("is_dup"),
    )


@query(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH {_SH_SQL},
    {_SHC_SQL},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
               AS j
      FROM cand
      JOIN csizes sa ON cand.doc_a = sa.doc_id
      JOIN csizes sb ON cand.doc_b = sb.doc_id
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
            >= {_JACCARD_T}
    ),
    banded AS (
      SELECT CAST(LEAST(FLOOR(j * 10), 9) AS INT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM jac GROUP BY 1
    )
    SELECT band,
           ROUND(band / 10.0, 1) AS threshold,
           n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY band DESC) AS BIGINT)
             AS n_pairs_at_or_above
    FROM banded
    """,
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold tuning curve: candidate near-dup pairs banded
    by Jaccard decile with the cumulative pair count at-or-above each
    band — the report that answers 'how many pairs would τ=0.8 merge
    vs τ=0.9?' BEFORE committing to a threshold (threshold choice is
    the highest-leverage dedup decision and re-running the full
    pipeline per candidate τ is the naive alternative). One extra
    decile aggregate over the existing capped pair relation; the
    cumulative window runs over ≤10 band rows."""
    pairs = _jaccard_pairs(_shingles(spark, sf_dir)).filter(
        F.col("jaccard") >= _JACCARD_T
    )
    banded = pairs.groupBy(
        F.least(F.floor(F.col("jaccard") * 10), F.lit(9))
        .cast("int")
        .alias("band")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return banded.select(
        "band",
        F.round(F.col("band") / 10.0, 1).alias("threshold"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_or_above"),
    )


@query(
    "dedup_editdistance_qgram",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS s FROM part),
    grams AS (
      SELECT DISTINCT s, substr(s, CAST(i AS INT), 2) AS g
      FROM names, unnest(generate_series(1, length(s) - 1)) AS t(i)
    ),
    freq AS (SELECT g, COUNT(*) AS cnt FROM grams GROUP BY g),
    pre AS (
      SELECT s, g FROM (
        SELECT grams.s, grams.g,
               ROW_NUMBER() OVER (PARTITION BY grams.s
                                  ORDER BY freq.cnt, grams.g) AS rn
        FROM grams JOIN freq USING (g)
      ) WHERE rn <= 5
    ),
    cand AS (
      SELECT DISTINCT a.s AS name_a, b.s AS name_b
      FROM pre a JOIN pre b ON a.g = b.g AND a.s < b.s
      WHERE abs(length(a.s) - length(b.s)) <= 2
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS edit_dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 2
    """,
)
def dedup_editdistance_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (d <= 2) via q-gram PREFIX
    FILTERING (Ed-Join, Xiao et al. 2008): each string indexes only
    its q*d+1 = 5 rarest 2-grams (rarest-first global order = (gram
    frequency, gram)), candidates come from an equi-join on those
    prefix grams plus a length-difference filter, and exact
    levenshtein verifies. Unlike last-word blocking
    (text_fuzzy_name_match) the prefix filter has a RECALL GUARANTEE:
    strings within d edits share enough q-grams that their
    rarest-5 prefixes must intersect (pinned against brute force in
    tests/test_ann_quality.py). Cost scales with gram-bucket collisions —
    the rarest-first order makes buckets small by construction — and
    every stage is an equi-join or bounded per-string window; the
    gram-frequency relation shuffles in parallel."""
    names = load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("s")
    ).distinct()
    withlen = names.select("s", F.length("s").alias("ln"))
    grams = (
        withlen.select(
            "s",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("ln") - 1),
                    lambda i: F.col("s").substr(i, F.lit(2)),
                )
            ).alias("g"),
        )
        .distinct()
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("s").orderBy("cnt", "g")
    pre = (
        grams.join(freq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("s", "g")
    )
    a = pre.select(F.col("s").alias("name_a"), "g")
    b = pre.select(F.col("s").alias("name_b"), "g")
    cand = (
        a.join(b, "g")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= 2
            )
        )
        .select("name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b").cast("int")
    return cand.select(
        "name_a", "name_b", dist.alias("edit_dist")
    ).filter(F.col("edit_dist") <= 2)


# --- canonical-URL dedup (VERDICT r9 task #7a) ------------------------
# The documents table carries no URL column, so a deterministic
# URL-shaped string is derived per doc (scheme/WWW/host-case/port/
# trailing-slash/tracking-param/fragment variants keyed on doc_id
# residues, host keyed on source) — the derivation is mirrored
# verbatim in the oracle; the operator under test is the relational
# CANONICALIZATION of the raw string, not the synthesis.
_URL_TRACKING_RE = "^(utm_[a-z]+|gclid|fbclid)="


def _raw_url_col():
    """The synthetic raw URL expression (Spark side)."""
    m = lambda k: F.col("doc_id") % k  # noqa: E731
    return F.concat(
        F.when(m(3) == 0, "HTTP").when(m(3) == 1, "https").otherwise("HTTPS"),
        F.lit("://"),
        F.when(m(2) == 0, "WWW.").otherwise(""),
        F.col("source"),
        F.when(m(5) == 0, ".Example.COM").otherwise(".example.com"),
        F.when(m(7) == 0, ":443").otherwise(""),
        F.lit("/articles/"),
        (m(10)).cast("string"),
        F.when(m(4) == 0, "/").otherwise(""),
        F.when(
            m(4) == 0,
            F.concat(F.lit("?utm_source=news&ref=r"), m(3).cast("string")),
        )
        .when(
            m(4) == 1,
            F.concat(
                F.lit("?ref=r"), m(3).cast("string"), F.lit("&utm_campaign=spring")
            ),
        )
        .when(
            m(4) == 2,
            F.concat(F.lit("?gclid=1x&ref=r"), m(3).cast("string")),
        )
        .otherwise(""),
        F.when(m(6) == 0, "#section-2").otherwise(""),
    )


_RAW_URL_SQL = """
      CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'HTTPS' END
      || '://'
      || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
      || source
      || CASE WHEN doc_id % 5 = 0 THEN '.Example.COM' ELSE '.example.com' END
      || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
      || '/articles/' || CAST(doc_id % 10 AS VARCHAR)
      || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
      || CASE doc_id % 4
           WHEN 0 THEN '?utm_source=news&ref=r' || CAST(doc_id % 3 AS VARCHAR)
           WHEN 1 THEN '?ref=r' || CAST(doc_id % 3 AS VARCHAR)
                       || '&utm_campaign=spring'
           WHEN 2 THEN '?gclid=1x&ref=r' || CAST(doc_id % 3 AS VARCHAR)
           ELSE '' END
      || CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END
"""


@query(
    "dedup_url_canonicalize",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents),
    nofrag AS (
      SELECT doc_id, url,
             split_part(split_part(url, '://', 2), '#', 1) AS rest
      FROM raw),
    hp AS (
      SELECT doc_id, url,
             split_part(rest, '?', 1) AS hostpath,
             split_part(rest, '?', 2) AS qs
      FROM nofrag),
    kept AS (
      SELECT doc_id, url, hostpath,
             array_to_string(list_sort(list_filter(string_split(qs, '&'),
               p -> p <> '' AND NOT regexp_matches(p, '{_URL_TRACKING_RE}'))),
               '&') AS qs2
      FROM hp),
    canon AS (
      SELECT doc_id, url,
             'https://'
             || regexp_replace(regexp_replace(
                  lower(split_part(hostpath, '/', 1)), '^www\\.', ''),
                  ':443$', '')
             || regexp_replace(regexp_replace(hostpath, '^[^/]*', ''),
                  '/+$', '')
             || CASE WHEN qs2 <> '' THEN '?' || qs2 ELSE '' END
             AS canonical_url
      FROM kept)
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, canonical_url
    LIMIT 15
    """,
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the CommonCrawl curation staple: lowercase
    scheme/host, strip www. and default :443 port, resolve the trivial
    http->https redirect, drop the fragment, strip trailing slashes,
    remove tracking params (utm_*/gclid/fbclid) and ORDER-NORMALIZE the
    survivors, then group docs by canonical form and keep the smallest
    doc_id. Reports the top duplicate groups with raw-form counts.

    Scale shape: pure map-side string canonicalization + one hash
    aggregation on the canonical key — no joins, no windows; at 100 TB
    this is a single shuffle keyed on canonical_url, and the HAVING
    pushes the (overwhelmingly unique) singleton mass out before the
    top-k sort."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _raw_url_col().alias("url")
    )
    rest = F.split_part(F.split_part(F.col("url"), F.lit("://"), F.lit(2)),
                        F.lit("#"), F.lit(1))
    parts = docs.select(
        "doc_id",
        "url",
        F.split_part(rest, F.lit("?"), F.lit(1)).alias("hostpath"),
        F.split_part(rest, F.lit("?"), F.lit(2)).alias("qs"),
    )
    qs2 = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.col("qs"), "&"),
                lambda p: (p != "") & ~p.rlike(_URL_TRACKING_RE),
            )
        ),
        "&",
    )
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.split_part(F.col("hostpath"), F.lit("/"), F.lit(1))),
            "^www\\.",
            "",
        ),
        ":443$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_replace(F.col("hostpath"), "^[^/]*", ""), "/+$", ""
    )
    canon = parts.select(
        "doc_id",
        "url",
        F.concat(
            F.lit("https://"),
            host,
            path,
            F.when(qs2 != "", F.concat(F.lit("?"), qs2)).otherwise(""),
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_raw_forms"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "canonical_url")
        .limit(15)
    )


@query(
    "quality_dedup_effect_report",
    oracle=f"""
    WITH RECURSIVE {_SH_SQL},
    fp AS (
      SELECT doc_id, n_chars, lang, source,
             len(string_split(text, ' ')) AS n_tok,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_fp
      FROM documents
    ),
    kdoc AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY canon_fp),
    shk AS (SELECT sh.doc_id, sh.sh FROM sh JOIN kdoc USING (doc_id)),
    keepk AS (SELECT sh FROM shk GROUP BY sh HAVING COUNT(*) <= {_DF_CAP}),
    shck AS (SELECT shk.doc_id, shk.sh FROM shk JOIN keepk USING (sh)),
    csz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shck GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shck a JOIN shck b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      JOIN csz sa ON cand.doc_a = sa.doc_id
      JOIN csz sb ON cand.doc_b = sb.doc_id
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
            >= {_JACCARD_T}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT k.doc_id,
             LEAST(k.doc_id, COALESCE(MIN(r.b), k.doc_id)) AS component
      FROM kdoc k LEFT JOIN reach r ON r.a = k.doc_id
      GROUP BY k.doc_id
    ),
    keep_final AS (
      SELECT component, MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id
      FROM (
        SELECT c.component, c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY f.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN fp f USING (doc_id))
      GROUP BY component
    ),
    cls AS (
      SELECT f.lang, f.source, f.n_tok,
             CASE WHEN k.doc_id IS NULL THEN 'exact'
                  WHEN kf.keep_doc_id = f.doc_id THEN 'kept'
                  ELSE 'neardup' END AS stage
      FROM fp f
      LEFT JOIN kdoc k ON k.doc_id = f.doc_id
      LEFT JOIN comp c ON c.doc_id = f.doc_id
      LEFT JOIN keep_final kf ON kf.component = c.component
    )
    SELECT lang, source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN stage = 'exact' THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_removed_exact,
      CAST(SUM(CASE WHEN stage = 'exact' THEN n_tok ELSE 0 END) AS BIGINT)
        AS tokens_removed_exact,
      CAST(SUM(CASE WHEN stage = 'neardup' THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_removed_neardup,
      CAST(SUM(CASE WHEN stage = 'neardup' THEN n_tok ELSE 0 END) AS BIGINT)
        AS tokens_removed_neardup,
      CAST(SUM(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_kept,
      CAST(SUM(CASE WHEN stage = 'kept' THEN n_tok ELSE 0 END) AS BIGINT)
        AS tokens_kept
    FROM cls GROUP BY lang, source
    """,
)
def quality_dedup_effect_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability report (VERDICT r10 task 5) — the audit
    every production curation run ships with: for the end-to-end
    pipeline keep-set (dedup_pipeline_keep_set's stages), the documents
    and whitespace-tokens removed by EACH dedup stage per
    (language x source-domain) cell. Stage attribution is exclusive
    and exhaustive: 'exact' (lost the canonical-fingerprint min-doc
    race), 'neardup' (exact survivor clustered under another keeper),
    'kept' (the final corpus) — so docs = exact + neardup + kept in
    every cell, the invariant the report's consumers reconcile
    against.

    Reuses the pipeline's machinery wholesale: the near-dup pair
    relation is the SAME session-cached `pipeline_pairs` relation the
    keep-set query built (no new shingle scan — the r8 scan-count
    discipline, gated in tests/test_plans.py), and components come
    from the same distributed min-label operator. The only new work
    is one projection-pruned documents pass for (lang, source,
    token-count, fingerprint) and lang/source-sized aggregates."""
    from free_etl_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = docs.select(
        "doc_id",
        "n_chars",
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5(canon.cast("binary")).alias("canon_fp"),
    )
    keepers = (
        fp.groupBy("canon_fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )

    def build_pairs() -> DataFrame:
        sh = _shingles(spark, sf_dir).join(keepers, "doc_id")
        return _jaccard_pairs(sh).filter(
            F.col("jaccard") >= _JACCARD_T
        ).select("doc_a", "doc_b")

    pairs = cache.relation(spark, sf_dir, "pipeline_pairs", build_pairs)
    comp = connected_components(
        keepers, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    ranked = comp.join(fp.select("doc_id", "n_chars"), "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.col("n_chars").desc(), F.col("doc_id")
            )
        ),
    )
    keep_final = ranked.groupBy("component").agg(
        F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keep_doc_id")
    )
    k = keepers.withColumnRenamed("doc_id", "k_doc")
    cls = (
        fp.join(k, fp.doc_id == k.k_doc, "left")
        .join(comp, "doc_id", "left")
        .join(keep_final, "component", "left")
        .select(
            "lang",
            "source",
            "n_tok",
            F.when(F.col("k_doc").isNull(), F.lit("exact"))
            .when(F.col("keep_doc_id") == F.col("doc_id"), F.lit("kept"))
            .otherwise(F.lit("neardup"))
            .alias("stage"),
        )
    )

    def cnt(stage: str):
        return F.sum(F.when(F.col("stage") == stage, 1).otherwise(0)).cast(
            "long"
        )

    def tok(stage: str):
        return F.sum(
            F.when(F.col("stage") == stage, F.col("n_tok")).otherwise(F.lit(0))
        ).cast("long")

    return cls.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        cnt("exact").alias("docs_removed_exact"),
        tok("exact").alias("tokens_removed_exact"),
        cnt("neardup").alias("docs_removed_neardup"),
        tok("neardup").alias("tokens_removed_neardup"),
        cnt("kept").alias("docs_kept"),
        tok("kept").alias("tokens_kept"),
    )


# ---- chat/SFT-aware near-dup (VERDICT r10 task 7) -------------------
# Conversational records derived deterministically from documents:
# 6 planted class-keyed opening turns (the shared system/greeting
# preamble real SFT corpora have, class = doc_id % 25) + up to 6
# 12-token turns from the document body, roles alternating by global
# position. Every 25th doc's body is a scripted dialogue keyed by
# floor(doc_id/50), so full-dup conversations arrive in PAIRS (cluster
# size 2 — pair volume stays linear in the corpus, never a megacluster).
_CHAT_TURN_TOKS = 12
_CHAT_MAX_OWN = 6
_CHAT_OPEN = 6
_CHAT_T = 0.5   # capped-turn-shingle Jaccard to call two convs dups
_CHAT_DF_CAP = 16  # max convs sharing a turn-bigram and still joining:
#   a role-tagged turn PAIR recurring across more than 16 dialogues is
#   scripted boilerplate (system preamble, canned greeting), not
#   duplication signal — the same discriminative-shingle discipline as
#   _DF_CAP, tightened because turn bigrams are far rarer than word
#   n-grams. This is what keeps a shared opening from marking two
#   otherwise-unrelated (especially SHORT) conversations duplicates:
#   measured pre-cap at sf0.001, 242 of 252 flagged pairs were
#   opening-overlap-only shorties; with the cap only true duplicate
#   dialogues survive.

_CHAT_TURNS_SQL = f"""
    t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 25 = 0 THEN
               list_transform(generate_series(1, {_CHAT_TURN_TOKS * _CHAT_MAX_OWN}),
                 i -> 'scr' || CAST(CAST(FLOOR(doc_id / 50) AS BIGINT) AS VARCHAR)
                      || '_' || CAST(i AS VARCHAR))
             ELSE list_filter(string_split(text, ' '), x -> x <> '')
             END AS toks
      FROM documents
    ),
    conv AS (
      SELECT doc_id,
             list_transform(generate_series(1, {_CHAT_OPEN}),
               k -> 'op ' || CAST(doc_id % 25 AS VARCHAR)
                    || ' turn ' || CAST(k AS VARCHAR))
             || list_transform(
                  generate_series(1, LEAST(CAST(CEIL(len(toks) / {_CHAT_TURN_TOKS}.0)
                                                AS INT), {_CHAT_MAX_OWN})),
                  k -> array_to_string(
                         toks[(k-1)*{_CHAT_TURN_TOKS}+1 : k*{_CHAT_TURN_TOKS}], ' '))
               AS turns
      FROM t
    ),
    hl AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(turns)),
               k -> md5(CASE WHEN k % 2 = 1 THEN 'user' ELSE 'assistant' END
                        || '|' || lower(turns[k]))) AS hs
      FROM conv
    ),
    sh0 AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(hs) - 1),
                 k -> hs[k] || hs[k+1])) AS sh
        FROM hl)
    ),
    keepc AS (SELECT sh FROM sh0 GROUP BY sh
              HAVING COUNT(*) <= {_CHAT_DF_CAP}),
    sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN keepc USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""


def _chat_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived conversational records (doc_id, turns array<string>) —
    the shared plane under dedup_chat_turns and text_chat_turn_stats,
    session-cached like every multi-consumer relation. Turn layout:
    {_CHAT_OPEN} class-keyed opening turns + up to {_CHAT_MAX_OWN}
    {_CHAT_TURN_TOKS}-token body turns (scripted pair-plant for
    doc_id % 25 == 0); roles alternate by global position (odd =
    user). Mirrored verbatim by the oracle CTE _CHAT_TURNS_SQL."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        script = F.transform(
            F.sequence(F.lit(1), F.lit(_CHAT_TURN_TOKS * _CHAT_MAX_OWN)),
            lambda i: F.concat(
                F.lit("scr"),
                F.floor(F.col("doc_id") / 50).cast("long").cast("string"),
                F.lit("_"),
                i.cast("string"),
            ),
        )
        toks = F.when(F.col("doc_id") % 25 == 0, script).otherwise(
            F.filter(F.split("text", " "), lambda x: x != "")
        )
        staged = docs.select("doc_id", toks.alias("toks"))
        opening = F.transform(
            F.sequence(F.lit(1), F.lit(_CHAT_OPEN)),
            lambda k: F.concat(
                F.lit("op "),
                (F.col("doc_id") % 25).cast("string"),
                F.lit(" turn "),
                k.cast("string"),
            ),
        )
        n_own = F.least(
            F.ceil(F.size("toks") / float(_CHAT_TURN_TOKS)).cast("int"),
            F.lit(_CHAT_MAX_OWN),
        )
        own = F.when(
            n_own >= 1,  # sequence(1, 0) would DESCEND
            F.transform(
                F.sequence(F.lit(1), n_own),
                lambda k: F.array_join(
                    F.slice(
                        "toks",
                        (k - 1) * _CHAT_TURN_TOKS + 1,
                        _CHAT_TURN_TOKS,
                    ),
                    " ",
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return staged.select("doc_id", F.concat(opening, own).alias("turns"))

    return cache.relation(spark, sf_dir, "chat_conversations", build)


def _chat_turn_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, sh) turn-hash bigram shingles per derived
    conversation — the role-aware unit: each turn is hashed WITH its
    role (md5('user|'/'assistant|' + normalized turn text)), so the
    same sentences with shifted speakers share NO shingles (pinned in
    tests). Persisted per (session, corpus): the verify join consumes
    it on both sides and the band builder aggregates it."""

    def build() -> DataFrame:
        conv = _chat_conversations(spark, sf_dir)
        hs = F.transform(
            F.sequence(F.lit(1), F.size("turns")),
            lambda k: F.md5(
                F.concat(
                    F.when(k % 2 == 1, F.lit("user")).otherwise(
                        F.lit("assistant")
                    ),
                    F.lit("|"),
                    F.lower(F.element_at(F.col("turns"), k)),
                ).cast("binary")
            ),
        )
        hl = conv.select("doc_id", hs.alias("hs"))
        shingles = F.transform(
            F.sequence(F.lit(1), F.size("hs") - 1),
            lambda k: F.concat(
                F.element_at(F.col("hs"), k),
                F.element_at(F.col("hs"), k + F.lit(1)),
            ),
        )
        sh0 = hl.select("doc_id", F.explode(shingles).alias("sh")).distinct()
        keep = (
            sh0.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _CHAT_DF_CAP)
        )
        return sh0.join(F.broadcast(keep.select("sh")), "sh").select(
            "doc_id", "sh"
        )

    return cache.relation(spark, sf_dir, "chat_turn_sh", build)


@query(
    "dedup_chat_turns",
    oracle=f"""
    WITH {_CHAT_TURNS_SQL},
    {_minhash_band_sql()},
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, CAST(inter AS BIGINT) AS inter,
           ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
          >= {_CHAT_T}
    """,
)
def dedup_chat_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-aware conversational near-dup — the dedup twin of
    text_chat_template_pack (VERDICT r10 task 7): dedup at the
    TURN-SEQUENCE level, not raw text. Each conversation reduces to
    role-tagged normalized-turn hashes; ORDERED turn-hash bigrams are
    the shingles, DF-capped at {_CHAT_DF_CAP}; the shared md5-minhash
    band core (_banded_minhash, the dedup_minhash_lsh machinery)
    generates candidates over the capped sets and exact capped-shingle
    Jaccard >= {_CHAT_T} confirms. Role tagging means a conversation
    whose turns are the same sentences with speakers swapped shares NO
    shingles (pinned in pytest); the DF cap drops boilerplate turn
    pairs, so a shared system prompt/greeting never marks two
    dialogues duplicates (see _CHAT_DF_CAP) — the two failure modes
    raw-text dedup has on SFT data.

    Scale shape: identical to dedup_minhash_lsh — per-doc work is
    bounded by the turn cap, candidates come from band-bucket
    collisions (never convs²), the verify join touches only candidate
    pairs, and the scripted full-dup plant arrives in clusters of 2
    so pair volume stays linear at any corpus size."""
    sh = _chat_turn_shingles(spark, sf_dir)
    bands = cache.relation(
        spark, sf_dir, "chat_turn_bands", lambda: _banded_minhash(sh)
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("b_doc"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(
            sb,
            (F.col("doc_b") == F.col("b_doc"))
            & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        6,
    )
    return (
        inter.join(
            sz.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "inter", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _CHAT_T)
    )


@query(
    "quality_dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_SH_SQL},
    fp AS (
      SELECT doc_id, n_chars,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_fp
      FROM documents
    ),
    exact_g AS (
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS exact_sz
      FROM fp GROUP BY canon_fp
    ),
    kdoc AS (SELECT doc_id FROM exact_g),
    shk AS (SELECT sh.doc_id, sh.sh FROM sh JOIN kdoc USING (doc_id)),
    keepk AS (SELECT sh FROM shk GROUP BY sh HAVING COUNT(*) <= {_DF_CAP}),
    shck AS (SELECT shk.doc_id, shk.sh FROM shk JOIN keepk USING (sh)),
    csz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shck GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shck a JOIN shck b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      JOIN csz sa ON cand.doc_a = sa.doc_id
      JOIN csz sb ON cand.doc_b = sb.doc_id
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6)
            >= {_JACCARD_T}
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT k.doc_id,
             LEAST(k.doc_id, COALESCE(MIN(r.b), k.doc_id)) AS component
      FROM kdoc k LEFT JOIN reach r ON r.a = k.doc_id
      GROUP BY k.doc_id
    ),
    -- full duplicate-cluster size = raw docs in the cluster: sum of
    -- each member keeper's exact-group size
    clus AS (
      SELECT c.component, CAST(SUM(g.exact_sz) AS BIGINT) AS sz
      FROM comp c JOIN exact_g g USING (doc_id)
      GROUP BY c.component
    ),
    tot AS (SELECT SUM(sz) AS n_docs, MAX(sz) AS max_sz FROM clus)
    SELECT CAST(FLOOR(LOG2(sz)) AS INT) AS log2_bucket,
           CAST(POWER(2, FLOOR(LOG2(sz))) AS BIGINT) AS bucket_min_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           ROUND(SUM(sz) * 1.0 / tot.n_docs, 6) AS doc_share,
           ROUND(tot.max_sz * 1.0 / tot.n_docs, 6) AS max_cluster_share
    FROM clus, tot
    GROUP BY 1, 2, tot.n_docs, tot.max_sz
    """,
)
def quality_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the power-law audit run
    beside the effect report: real web corpora have cluster sizes
    following a heavy tail, and a single giant component is the
    classic sign of a broken similarity threshold (boilerplate
    chaining unrelated docs). Clusters are the FULL pipeline clusters
    (exact-fingerprint groups folded into their near-dup component),
    bucketed by floor(log2 size); each row carries the cluster count,
    total raw docs, doc share, and the corpus-wide max-cluster share
    (the alarm metric). Reuses the session-cached `pipeline_pairs`
    relation and the same components operator — the only additions
    are two aggregate-sized passes."""
    from free_etl_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = docs.select("doc_id", F.md5(canon.cast("binary")).alias("canon_fp"))
    exact_g = fp.groupBy("canon_fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("exact_sz"),
    )
    keepers = exact_g.select("doc_id")

    def build_pairs() -> DataFrame:
        sh = _shingles(spark, sf_dir).join(keepers, "doc_id")
        return _jaccard_pairs(sh).filter(
            F.col("jaccard") >= _JACCARD_T
        ).select("doc_a", "doc_b")

    pairs = cache.relation(spark, sf_dir, "pipeline_pairs", build_pairs)
    comp = connected_components(
        keepers, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    clus = (
        comp.join(exact_g.select("doc_id", "exact_sz"), "doc_id")
        .groupBy("component")
        .agg(F.sum("exact_sz").cast("long").alias("sz"))
    )
    tot = clus.agg(
        F.sum("sz").alias("t_docs"), F.max("sz").alias("t_max")
    )
    bucket = F.floor(F.log2("sz")).cast("int")
    return (
        clus.join(F.broadcast(tot))
        .groupBy(
            bucket.alias("log2_bucket"),
            F.pow(F.lit(2.0), F.floor(F.log2("sz")))
            .cast("long")
            .alias("bucket_min_size"),
            F.col("t_docs"),
            F.col("t_max"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .select(
            "log2_bucket",
            "bucket_min_size",
            "n_clusters",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("t_docs"), 6).alias(
                "doc_share"
            ),
            F.round(F.col("t_max") * 1.0 / F.col("t_docs"), 6).alias(
                "max_cluster_share"
            ),
        )
    )


@query(
    "text_chat_turn_stats",
    oracle=f"""
    WITH {_CHAT_TURNS_SQL},
    per AS (
      SELECT c.doc_id,
             CAST(len(c.turns) AS BIGINT) AS n_turns,
             list_sum(list_transform(generate_series(1, len(c.turns)),
               k -> CASE WHEN k % 2 = 1
                    THEN len(string_split(c.turns[k], ' ')) ELSE 0 END))
               AS u_tok,
             list_sum(list_transform(generate_series(1, len(c.turns)),
               k -> CASE WHEN k % 2 = 0
                    THEN len(string_split(c.turns[k], ' ')) ELSE 0 END))
               AS a_tok
      FROM conv c
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_convs,
           CAST(SUM(n_turns) AS BIGINT) AS total_turns,
           CAST(SUM(n_turns) AS DOUBLE) / COUNT(*) AS avg_turns,
           CAST(SUM(u_tok) AS BIGINT) AS user_tokens,
           CAST(SUM(a_tok) AS BIGINT) AS assistant_tokens,
           CAST(SUM(u_tok) AS DOUBLE) / SUM(a_tok) AS role_token_ratio
    FROM per JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def text_chat_turn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-structure statistics per language — the profiling
    companion to the chat family (template pack, role-aware dedup):
    dialogue counts, turn totals/averages, and the user-vs-assistant
    token split (role balance — a skewed ratio is the standard signal
    of truncated or role-collapsed SFT data). Runs on the shared
    _chat_conversations relation (one build serves dedup_chat_turns
    too); per-turn token counts fold INSIDE the turns array per row,
    so nothing per-turn ever materializes as rows. Integer sums +
    single IEEE divisions of exact integers — engine-deterministic
    without rounding."""
    conv = _chat_conversations(spark, sf_dir)
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")

    def role_tok(parity: int):
        return F.aggregate(
            F.sequence(F.lit(1), F.size("turns")),
            F.lit(0).cast("long"),
            lambda a, k: a
            + F.when(
                k % 2 == parity,
                F.size(F.split(F.element_at(F.col("turns"), k), " ")),
            ).otherwise(F.lit(0)).cast("long"),
        )

    per = conv.select(
        "doc_id",
        F.size("turns").cast("long").alias("n_turns"),
        role_tok(1).alias("u_tok"),
        role_tok(0).alias("a_tok"),
    )
    return per.join(lang, "doc_id").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_convs"),
        F.sum("n_turns").cast("long").alias("total_turns"),
        (F.sum("n_turns").cast("double") / F.count(F.lit(1))).alias(
            "avg_turns"
        ),
        F.sum("u_tok").cast("long").alias("user_tokens"),
        F.sum("a_tok").cast("long").alias("assistant_tokens"),
        (F.sum("u_tok").cast("double") / F.sum("a_tok")).alias(
            "role_token_ratio"
        ),
    )


@query(
    "dedup_cdc_chunks",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    flag AS (
      SELECT doc_id, lang, tok, pos,
             CASE WHEN CAST(('0x' || substr(md5(tok), 1, 4))::UBIGINT
                       AS INT) % 64 = 0
                  THEN 1 ELSE 0 END AS b
      FROM tok
    ),
    cid AS (
      SELECT doc_id, lang, tok, pos,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0) AS chunk_id
      FROM flag
    ),
    chunks AS (
      SELECT doc_id, lang, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp,
             COUNT(*) AS n_tok
      FROM cid GROUP BY doc_id, lang, chunk_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT chunk_fp) AS BIGINT) AS n_unique,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(1.0 - COUNT(DISTINCT chunk_fp) / COUNT(*), 6)
             AS dup_chunk_share
    FROM chunks GROUP BY lang
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking dedup (Rabin/gear-style, at token
    granularity): a token is a chunk BOUNDARY when md5(token) % 64 == 0
    — boundaries move WITH the content, so an insertion early in a
    document shifts only its own chunk while every later chunk keeps
    its identity (the property fixed-stride windows — see
    dedup_substring_spans — lack, and the reason storage/transfer
    dedup is CDC-based). Per language: chunk count, distinct-chunk
    count, and the duplicated-chunk share (the dedupable-storage
    estimate). Shape: one explode to token rows, one per-doc window
    for the running boundary count (partitioned by doc_id — no global
    window), one groupBy(doc, chunk) to fingerprint chunks, one
    per-lang rollup; every stage is key-partitioned and linear at
    100 TB. Expected chunk length = 64 tokens (the boundary mask)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tok = docs.select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    h16 = F.conv(
        F.substring(F.md5(F.col("tok").cast("binary")), 1, 4), 16, 10
    ).cast("int")
    flag = tok.withColumn("b", F.when(h16 % 64 == 0, 1).otherwise(0))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = flag.withColumn(
        "chunk_id", F.coalesce(F.sum("b").over(w), F.lit(0))
    )
    chunks = (
        cid.groupBy("doc_id", "lang", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                ).cast("binary")
            ).alias("chunk_fp"),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )
    return chunks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("chunk_fp").cast("long").alias("n_unique"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.round(
            1.0 - F.countDistinct("chunk_fp") / F.count(F.lit(1)), 6
        ).alias("dup_chunk_share"),
    )
