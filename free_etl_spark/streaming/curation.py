"""Streaming text curation: the batch quality operators applied to a
document STREAM — the shape a continuous ingestion pipeline runs
(north-star extension; the reference has no streaming surface,
SURVEY.md §2A "notably absent").

The stream reuses the exact batch column expressions, so curation
logic exists once and the stream-equals-batch contract is testable —
the same design as streaming/intake.py's reuse of the §2A validators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from free_etl_spark import cache
from free_etl_spark.registry import query
from free_etl_spark.streaming.windows import run_to_completion

_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a bounded file stream (same pattern as
    windows.events_stream: directory source + glob filter)."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


@query(
    "streaming_quality_gate",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS token_cnt,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / LEN(string_split(text, ' ')) AS avg_tok,
             n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_seen,
           CAST(COUNT(*) FILTER (WHERE n_chars >= 100 AND token_cnt >= 30
                                 AND avg_tok BETWEEN 3 AND 8) AS BIGINT)
             AS n_kept
    FROM t GROUP BY lang
    """,
)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous quality gating: the quality_filter_funnel rule gate
    evaluated over a document stream, with per-language seen/kept
    counters maintained as a streaming aggregation (complete-mode
    memory sink under AvailableNow replay; in production this is the
    curation dashboard a file-source stream feeds). The filter columns
    are pure map-side expressions, so the only streaming state is the
    |langs|-row counter aggregate — constant regardless of throughput.
    Must equal the batch rule gate — which is the oracle."""
    docs = documents_stream(spark, sf_dir)
    token_cnt = F.size(F.split("text", " "))
    avg_tok = (
        F.length(F.replace(F.col("text"), F.lit(" "))).cast("double") / token_cnt
    )
    keep = (
        (F.col("n_chars") >= 100)
        & (token_cnt >= 30)
        & avg_tok.between(3, 8)
    )
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_seen"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
    )
    return run_to_completion(agg, "complete")


def _stream_band_signatures(docs: DataFrame) -> DataFrame:
    """Per-document banded minhash signatures computed MAP-SIDE over a
    document stream: (doc_id, band_id, band_key), one row per band.

    Identical values to the batch index (queries/dedup._minhash_bands)
    by construction — same shingles, same per-seed md5 min, same band
    digest — but expressed as array ops over each row instead of an
    explode + groupBy, because a streaming groupBy per doc would drag
    every shingle through stateful shuffle. min over the distinct
    shingle array equals min over exploded distinct rows, so the two
    formulations agree string-for-string."""
    from free_etl_spark.queries.dedup import _N_BANDS, _N_HASHES, _NGRAM

    # materialize the token array before the transform: a split()
    # expression referenced inside the lambda re-evaluates per element
    # (O(tokens^2) per doc — measured 10x at sf0.1 on the batch side)
    sh_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - (_NGRAM - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, _NGRAM)),
        )
    )
    with_sh = (
        docs.withColumn("tk", F.split("text", " "))
        .filter(F.size("tk") >= _NGRAM)
        .withColumn("sh_arr", sh_arr)
    )

    def _minhash(seed: int) -> F.Column:
        # one-arg lambda: a two-parameter callable would make
        # F.transform pass the ELEMENT INDEX as the second argument
        return F.array_min(
            F.transform(
                F.col("sh_arr"),
                lambda x: F.md5(F.concat(F.lit(f"{seed}|"), x).cast("binary")),
            )
        )

    hs = [_minhash(s).alias(f"h{s}") for s in range(_N_HASHES)]
    sig = with_sh.select("doc_id", *hs)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")).cast(
                        "binary"
                    )
                ).alias("band_key"),
            )
            for b in range(_N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )


def _neardup_oracle() -> str:
    from free_etl_spark.queries.dedup import _SH_SQL, _minhash_band_sql

    return f"""
    WITH {_SH_SQL},
    {_minhash_band_sql()},
    hits AS (
      SELECT a.doc_id, COUNT(b.doc_id) AS n_cand_hits
      FROM bands a LEFT JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id
    )
    SELECT doc_id, CAST(n_cand_hits AS BIGINT) AS n_cand_hits,
           n_cand_hits > 0 AS is_neardup
    FROM hits
    """


@query("streaming_neardup_filter", oracle=_neardup_oracle())
def streaming_neardup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate filter: every incoming document is
    minhash-banded MAP-SIDE (no streaming state for the signature)
    and probed against the STATIC historical band index — the shape
    of a continuous ingestion pipeline deduping new crawl against the
    existing corpus. The probe is a stream-static left join keyed on
    (band_id, band_key); per-band bucket occupancy is O(1) by LSH
    design, so each stream row touches a bounded number of index
    rows. In this bounded replay the stream IS the indexed corpus, so
    self-matches are excluded in the join condition and a doc is
    near-dup iff some OTHER doc shares a band. The per-doc collision
    count is a complete-mode aggregate here (|docs| state under the
    AvailableNow drain); an unbounded deployment would watermark and
    emit per-batch appends instead — each doc's band rows arrive in
    one micro-batch, so the aggregation never spans batches."""
    from free_etl_spark.queries.dedup import _minhash_bands

    docs = documents_stream(spark, sf_dir)
    stream_bands = _stream_band_signatures(docs)
    idx = _minhash_bands(spark, sf_dir).select(
        F.col("doc_id").alias("idx_doc"),
        F.col("band_id").alias("idx_band"),
        F.col("band_key").alias("idx_key"),
    )
    joined = stream_bands.join(
        idx,
        (F.col("band_id") == F.col("idx_band"))
        & (F.col("band_key") == F.col("idx_key"))
        & (F.col("doc_id") != F.col("idx_doc")),
        "left",
    )
    agg = joined.groupBy("doc_id").agg(
        F.count(F.col("idx_doc")).alias("n_cand_hits")
    )
    out = agg.select(
        "doc_id",
        F.col("n_cand_hits").cast("long").alias("n_cand_hits"),
        (F.col("n_cand_hits") > 0).alias("is_neardup"),
    )
    return run_to_completion(out, "complete")


def _afp_probe_oracle() -> str:
    from free_etl_spark.queries.multimodal_q import (
        _AFP_BAND_W,
        _AFP_BANDS,
        _AFP_DF_CAP,
        _AFP_HAMMING_T,
        _AFP_MAX_SIGS,
        _AFP_MIN_SHARED,
        _AFP_PAY_SQL,
        _afp_sig_sql,
        _PCM_FRAME,
    )

    return f"""
    WITH a AS (
      SELECT doc_id, lower(hex(encode({_AFP_PAY_SQL}))) AS hx FROM documents
    ),
    s AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, CAST(FLOOR(length(hx) / 4) AS INT)),
               i -> CAST(('0x' || substr(hx, 4*i - 3, 2))::INT
                  + 256 * ('0x' || substr(hx, 4*i - 1, 2))::INT
                  - CASE WHEN ('0x' || substr(hx, 4*i - 1, 2))::INT >= 128
                         THEN 65536 ELSE 0 END AS INT)
             ) AS samples
      FROM a
    ),
    w AS (
      SELECT doc_id, samples,
             unnest(generate_series(1,
               LEAST(CAST(FLOOR(len(samples) / {_PCM_FRAME}.0) AS INT),
                     {_AFP_MAX_SIGS + 1}))) AS f
      FROM s WHERE len(samples) >= {2 * _PCM_FRAME}
    ),
    e AS (
      SELECT doc_id, f,
             list_transform(generate_series(1, {_AFP_BANDS + 1}),
               b -> CASE WHEN b <= {_AFP_BANDS} THEN
                 list_sum(list_transform(
                   samples[(f-1)*{_PCM_FRAME} + (b-1)*{_AFP_BAND_W} + 1
                         : (f-1)*{_PCM_FRAME} + (b-1)*{_AFP_BAND_W}
                           + {_AFP_BAND_W}],
                   x -> abs(x)))
               ELSE
                 list_sum(list_transform(
                   samples[(f-1)*{_PCM_FRAME} + 1
                         : (f-1)*{_PCM_FRAME} + {_PCM_FRAME}],
                   x -> abs(x)))
               END) AS eb
      FROM w
    ),
    fp AS (
      SELECT c.doc_id, {_afp_sig_sql('c.eb', 'p.eb')} AS sig
      FROM e c JOIN e p ON p.doc_id = c.doc_id AND p.f = c.f - 1
    ),
    sd AS (SELECT DISTINCT doc_id, sig FROM fp),
    keep AS (SELECT sig FROM sd GROUP BY sig
             HAVING COUNT(*) <= {_AFP_DF_CAP}),
    s2 AS (SELECT sd.doc_id, sd.sig FROM sd JOIN keep USING (sig)),
    ab AS (SELECT doc_id, sig, g.b AS band_id,
                  (sig >> (16 * g.b)) & 65535 AS band_val
           FROM sd CROSS JOIN generate_series(0, 3) AS g(b)),
    ib AS (SELECT doc_id, sig, g.b AS band_id,
                  (sig >> (16 * g.b)) & 65535 AS band_val
           FROM s2 CROSS JOIN generate_series(0, 3) AS g(b)),
    hits AS (
      SELECT a.doc_id,
             COUNT(b.doc_id) AS n_band_hits
      FROM ab a LEFT JOIN ib b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id <> b.doc_id
       AND bit_count(xor(a.sig, b.sig)) <= {_AFP_HAMMING_T}
      GROUP BY a.doc_id
    )
    SELECT doc_id, CAST(n_band_hits AS BIGINT) AS n_band_hits,
           n_band_hits >= {4 * _AFP_MIN_SHARED} AS flag_neardup
    FROM hits
    """


@query("streaming_audio_fingerprint_probe", oracle=_afp_probe_oracle())
def streaming_audio_fingerprint_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-time audio near-dup flagging — the streaming twin of
    multimodal_audio_fingerprint_dedup, completing the flag-on-stream
    / confirm-in-batch split every production dedup runs: each
    incoming audio blob's chromaprint-style frame fingerprints are
    computed ENTIRELY MAP-SIDE within its own row (_afp_sig_rows — the
    SAME derivation the batch relation uses; zero streaming state for
    the signature), exploded into 4x16-bit
    pigeonhole bands, and probed against the STATIC DF-capped
    fingerprint index (the session-cached _audio_fp_sigs relation the
    batch dedup maintains). A band hit is verified with the exact
    bit_count(xor) <= threshold test inside the join condition.

    The per-doc collision counter is the only streaming state (the
    streaming_neardup_filter complete-mode shape); `flag_neardup`
    fires at >= 4 x {{min_shared}} raw band hits — an exact-duplicate
    frame agrees on ALL 4 bands, so the flag means "at least
    min-shared fully-agreeing frames (or proportionally more partial
    ones)"; the batch pair query is the confirming authority."""
    from free_etl_spark.queries.multimodal_q import (
        _AFP_HAMMING_T,
        _AFP_MIN_SHARED,
        _afp_payload,
        _afp_sig_rows,
        _audio_fp_sigs_capped,
    )

    def build() -> DataFrame:
        docs = documents_stream(spark, sf_dir)
        # identical payload + fingerprint derivation as the batch relation
        # (_afp_sig_rows is pure DataFrame ops — no windows, no per-doc
        # aggregation — so the same code runs on the stream; the measured
        # shape rules live in its docstring)
        sig_rows = _afp_sig_rows(spark, _afp_payload(docs))
        band_arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright("sig", 16 * b)
                    .bitwiseAND(65535)
                    .alias("band_val"),
                )
                for b in range(4)
            ]
        )
        ab = sig_rows.select("doc_id", "sig", F.explode(band_arr).alias("bd")).select(
            "doc_id",
            "sig",
            F.col("bd.band_id").alias("band_id"),
            F.col("bd.band_val").alias("band_val"),
        )
        # static side: the session-cached DF-capped index — per-trigger
        # work is a cache read + the band explode, not a groupBy + join
        # over the full sig relation per micro-batch (guide §3 / VERDICT
        # r14 task 4)
        s2 = _audio_fp_sigs_capped(spark, sf_dir)
        ib = s2.select(
            F.col("doc_id").alias("idx_doc"), F.col("sig").alias("idx_sig")
        ).select(
            "idx_doc",
            "idx_sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("idx_band"),
                            F.shiftright("idx_sig", 16 * b)
                            .bitwiseAND(65535)
                            .alias("idx_val"),
                        )
                        for b in range(4)
                    ]
                )
            ).alias("bd"),
        ).select(
            "idx_doc",
            "idx_sig",
            F.col("bd.idx_band").alias("idx_band"),
            F.col("bd.idx_val").alias("idx_val"),
        )
        joined = ab.join(
            ib,
            (F.col("band_id") == F.col("idx_band"))
            & (F.col("band_val") == F.col("idx_val"))
            & (F.col("doc_id") != F.col("idx_doc"))
            & (
                F.bit_count(F.col("sig").bitwiseXOR(F.col("idx_sig")))
                <= _AFP_HAMMING_T
            ),
            "left",
        )
        agg = joined.groupBy("doc_id").agg(
            F.count(F.col("idx_doc")).alias("n_band_hits")
        )
        out = agg.select(
            "doc_id",
            F.col("n_band_hits").cast("long").alias("n_band_hits"),
            (F.col("n_band_hits") >= 4 * _AFP_MIN_SHARED).alias("flag_neardup"),
        )
        return out

    # the lazy plan is memoized: building it takes thousands of py4j
    # Column round trips (~16 bands x 32 unrolled element_at terms per
    # window, ~1.3-1.9 s at sf0.1); each call still runs a fresh
    # streaming query over the parquet inputs
    out = cache.memo(spark, sf_dir, "afp_probe", build)
    return run_to_completion(out, "complete")


@query(
    "streaming_psi_drift_probe",
    oracle="""
    WITH ev AS (
      SELECT event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ),
    bounds AS (
      SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) // 2 AS mid FROM ev
    ),
    halves AS (
      SELECT e.event_type, e.value,
             CASE WHEN e.ts_us < b.mid THEN 0 ELSE 1 END AS half
      FROM ev e CROSS JOIN bounds b
    ),
    cuts AS (
      SELECT quantile_cont(value, 0.25) AS c1,
             quantile_cont(value, 0.50) AS c2,
             quantile_cont(value, 0.75) AS c3
      FROM halves WHERE half = 0
    ),
    bucketed AS (
      SELECT h.event_type, h.half,
             CASE WHEN h.value < c.c1 THEN 0
                  WHEN h.value < c.c2 THEN 1
                  WHEN h.value < c.c3 THEN 2
                  ELSE 3 END AS bucket
      FROM halves h CROSS JOIN cuts c
    ),
    counts AS (
      SELECT event_type, bucket,
             COUNT(*) FILTER (WHERE half = 0) AS n_base,
             COUNT(*) FILTER (WHERE half = 1) AS n_cur
      FROM bucketed GROUP BY event_type, bucket
    ),
    totals AS (
      SELECT event_type,
             SUM(n_base) AS t_base, SUM(n_cur) AS t_cur
      FROM counts GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(SUM(c.n_base) AS BIGINT) AS n_baseline,
           CAST(SUM(c.n_cur) AS BIGINT)  AS n_current,
           ROUND(SUM(
             ((c.n_base + 0.5) / (t.t_base + 2.0)
              - (c.n_cur + 0.5) / (t.t_cur + 2.0))
             * LN(((c.n_base + 0.5) / (t.t_base + 2.0))
                  / ((c.n_cur + 0.5) / (t.t_cur + 2.0)))
           ), 6) AS psi
    FROM counts c JOIN totals t USING (event_type)
    GROUP BY c.event_type
    """,
)
def streaming_psi_drift_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of quality_psi_drift — drift monitoring as it
    actually deploys: the BASELINE (first time half) is profiled once
    in batch (midpoint, exact quartile cuts, per-type bucket counts —
    all one-row/KB-sized artifacts a production job would persist),
    and the LIVE stream buckets each incoming event against the
    broadcast cuts and maintains per-(type, bucket) counts — a
    mergeable streaming aggregate, state = |types|×4 rows, regardless
    of stream length. The drained current counts + stored baseline
    reproduce the batch PSI EXACTLY (same doubles, same formula), so
    the batch query's oracle gates this one unchanged. At 100 TB/day
    the stream side never rescans history — that is the point of
    shipping PSI as baseline-artifact + streaming counter."""
    from free_etl_spark.streaming.windows import events_stream
    from free_etl_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts_us")
    mid = ev.agg(
        (F.min("ts_us") + F.expr("(MAX(ts_us) - MIN(ts_us)) DIV 2")).alias("m")
    ).first()["m"]
    base = ev.filter(F.col("ts_us") < mid)
    c1, c2, c3 = (
        base.agg(
            F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("c")
        ).first()["c"]
    )

    def bucket(col):
        return (
            F.when(col < F.lit(c1), 0)
            .when(col < F.lit(c2), 1)
            .when(col < F.lit(c3), 2)
            .otherwise(3)
        )

    base_counts = base.groupBy(
        "event_type", bucket(F.col("value")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_base"))

    cur_stream = (
        events_stream(spark, sf_dir)
        .filter(F.col("ts_us") >= F.lit(mid))
        .groupBy("event_type", bucket(F.col("value")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    cur_counts = run_to_completion(cur_stream, "complete")

    counts = base_counts.join(
        cur_counts, ["event_type", "bucket"], "full_outer"
    ).select(
        "event_type",
        F.coalesce(F.col("n_base"), F.lit(0)).alias("n_base"),
        F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.join(totals, "event_type")
    p = (F.col("n_base") + 0.5) / (F.col("t_base") + 2.0)
    q = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 2.0)
    return j.groupBy("event_type").agg(
        F.sum("n_base").cast("long").alias("n_baseline"),
        F.sum("n_cur").cast("long").alias("n_current"),
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
    )


# ── streaming ANN probe against the persisted IVF+PQ store ──────────

_EMB_STREAM_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings.parquet as a bounded file stream (the
    documents_stream pattern)."""
    return (
        spark.readStream.schema(_EMB_STREAM_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )


def _fold_l2(a, b):
    """Interpreted Σ(a−b)² fold — the exact list_sum add order every
    vector oracle replays (operators.vectors.l2_sq, fold form)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ann_probe_candidates(qv: DataFrame, spark, store_path: str) -> DataFrame:
    """Per-candidate ADC scores of query vectors against a PERSISTED
    IVF+PQ store — STATELESS end to end, so the same plan serves a
    stream (every op before the caller's final aggregate is a map
    stage or a stream-static equi-join) and its batch twin.

    ``qv``: (vec_id, emb array<double>) — batch or streaming.
    Returns (qid, cid, adc_d2-raw).

    How each stage stays stateless:
    - coarse routing: the store's ``_codebook`` is collapsed to a
      ONE-ROW array relation and equi-joined in (broadcast); the
      nprobe nearest lists are picked per row by
      slice(array_sort(transform(...)), 1, nprobe) — no window, no
      shuffle, identical (d2, cent_id) tie-break to the batch rank.
    - candidate scoring: because the M subspaces PARTITION the
      dimensions, the ADC distance Σ_m ‖qrem_m − codeword_m‖² equals
      the full-dim L2 between the query residual and the candidate's
      DECODED residual (its M codeword subvectors concatenated). The
      static side therefore decodes each store row's 8-byte code once
      per micro-batch (codes ⋈ broadcast _pq_codebook → flatten — a
      batch-side plan, legal under a stream-static join), and the
      stream side is ONE equi-join on cent_id + ONE unrolled
      whole-stage-codegen L2 per candidate. The first shipped version
      built a per-(query, list) M×C lookup MAP with nested
      interpreted HOFs instead — measured 38.5 s at sf0.1 vs ~4 s for
      this form (r13 bench, ledgered in docs/NEGATIVE.md); the
      decoded-residual identity is the standard trick and keeps every
      subspace partial in the oracle's add order.

    At 100 TB both codebooks are the broadcast-sized structures every
    IVF serving node caches; the decoded-residual relation is
    corpus-sized and therefore MATERIALIZED per store version
    (``_pq_decoded`` sidecar, refreshed by ivf_write/append/
    recluster/compact — VERDICT r13 task 6), so each micro-batch's
    static side is a pruned parquet read, not a corpus decode. The
    on-the-fly decode below is only the staleness fallback."""
    import os

    from free_etl_spark.queries.similarity import (
        _IVF_NPROBE,
        _PQ_M,
        _PQ_SUB,
    )

    cent = spark.read.parquet(os.path.join(store_path, "_codebook"))
    pqcb = spark.read.parquet(os.path.join(store_path, "_pq_codebook"))
    cents_row = cent.agg(
        F.sort_array(F.collect_list(F.struct("cent_id", "cemb"))).alias(
            "cents"
        )
    ).withColumn("__one", F.lit(1))

    q = (
        qv.select(F.col("vec_id").alias("qid"), "emb")
        .withColumn("__one", F.lit(1))
        .join(F.broadcast(cents_row), "__one")
        .drop("__one")
    )
    ranked = F.slice(
        F.array_sort(
            F.transform(
                "cents",
                lambda c: F.struct(
                    _fold_l2(F.col("emb"), c["cemb"]).alias("d2"),
                    c["cent_id"].alias("cent_id"),
                    c["cemb"].alias("cemb"),
                ),
            )
        ),
        1,
        _IVF_NPROBE,
    )
    probed = q.select(
        "qid", F.explode(ranked).alias("pc"), F.col("emb").alias("qemb")
    ).select(
        "qid",
        F.col("pc.cent_id").alias("cent_id"),
        F.zip_with("qemb", F.col("pc.cemb"), lambda x, y: x - y).alias(
            "qrem"
        ),
    )
    # static: the decoded-residual relation. Preferred source is the
    # MATERIALIZED per-store-version sidecar (_pq_decoded, written by
    # ivf_write/append/recluster/compact — VERDICT r13 task 6): the
    # per-micro-batch static side is then a plain parquet read instead
    # of a corpus-sized decode per trigger. Fallback (absent/stale
    # sidecar, e.g. crash between data append and refresh): decode on
    # the fly — bit-identical values (the decode is pure lookup+
    # flatten), only the per-trigger cost differs.
    from free_etl_spark.operators.vectors import pq_decoded

    dec = pq_decoded(spark, store_path)
    if dec is None:
        dec = (
            spark.read.parquet(store_path)
            .select(
                "vec_id", "cent_id", F.posexplode("pq_code").alias("m", "c")
            )
            .withColumn("c", F.col("c").cast("long"))
            .join(F.broadcast(pqcb), ["m", "c"])
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
    cand = probed.join(dec, "cent_id").filter(F.col("vec_id") != F.col("qid"))
    # grouped-order unrolled L2: per subspace a left-to-right 8-term
    # fold (the oracle's list_sum order), subspace partials added in
    # ascending m — bit-identical to looking up M LUT entries
    adc = F.lit(0.0)
    for m in range(_PQ_M):
        subsum = F.lit(0.0)
        for i in range(m * _PQ_SUB + 1, (m + 1) * _PQ_SUB + 1):
            d = F.element_at("qrem", i) - F.element_at("dec", i)
            subsum = subsum + d * d
        adc = adc + subsum
    return cand.select(
        "qid", F.col("vec_id").alias("cid"), adc.alias("adc_d2")
    )


def _ann_probe_oracle() -> str:
    from free_etl_spark.queries.similarity import _ivfpq_codec_sql

    return _ivfpq_codec_sql("") + """
    SELECT qid, cid AS nn_cid, adc_d2 FROM (
      SELECT qid, cid, ROUND(adc_d2, 6) AS adc_d2,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
               ROUND(adc_d2, 6), cid) AS rn
      FROM adc)
    WHERE rn = 1
    """


@query("streaming_ann_probe", oracle=_ann_probe_oracle())
def streaming_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding dedup/ANN routing (VERDICT r12 task 7):
    every embedding arriving on the stream is coarse-routed and
    ADC-scored against the PERSISTED IVF+PQ store (the
    sim_ivfpq_adc_search fixture — codes, _codebook and _pq_codebook
    all read from the promoted on-disk layout), emitting each
    query's nearest stored neighbor by asymmetric distance:
    (qid, nn_cid, adc_d2). This is the production
    streaming-embedding dedup path — 'is this new vector already in
    the corpus, and where' — as a stream-static pipeline:
    ann_probe_candidates is stateless (map stages + broadcast/
    stream-static equi-joins; see its docstring), so the ONLY
    streaming state is the final per-query min aggregate
    (complete-mode under the AvailableNow drain; an unbounded
    deployment emits per-batch appends instead, since each vector's
    candidates arrive within its own micro-batch). The min is over
    struct(round(adc_d2, 6), cid) — the (distance, id) tie-break the
    DuckDB oracle replays from the raw table, so a green row
    value-gates the persisted store through the streaming path.
    Stream-equals-batch is pinned in tests/test_streaming.py."""
    def build() -> DataFrame:
        from free_etl_spark.queries.similarity import _ivfpq_store

        path = _ivfpq_store(spark, sf_dir)
        qv = embeddings_stream(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        cand = ann_probe_candidates(qv, spark, path)
        agg = cand.groupBy("qid").agg(
            F.min(
                F.struct(F.round("adc_d2", 6).alias("adc_d2"), F.col("cid"))
            ).alias("nn")
        )
        out = agg.select(
            "qid",
            F.col("nn.cid").alias("nn_cid"),
            F.col("nn.adc_d2").alias("adc_d2"),
        )
        return out

    # lazy plan memoized as in streaming_audio_fingerprint_probe (M x SUB
    # unrolled ADC subspace terms)
    out = cache.memo(spark, sf_dir, "ann_probe", build, "embeddings.parquet")
    return run_to_completion(out, "complete")
