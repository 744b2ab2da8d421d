"""Multimodal-column queries (SURVEY.md §2B "multimodal columns"),
oracle-checked.

The driver's testdata has no media files, so these derive an opaque
``binary`` column from ``documents.text`` (UTF-8 encode, optionally
prefixed with real magic bytes) and push it through the same plumbing
a media corpus would use (`free_etl_spark.operators.multimodal`):
JVM-side magic sniffing, Arrow-batched mapInPandas decode (the
deterministic md5 stub — see operators/multimodal.py), and frame
sampling. Because the stub is md5-derived, every output is
closed-form SQL over md5(text) — giving the mapInPandas decode path a
full value-level oracle instead of a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from free_etl_spark.operators.multimodal import (
    _MAGIC,
    decode_image_features,
    resize_images,
    sample_frames,
    with_media_kind,
)
from free_etl_spark import cache
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table


def _docs_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with an opaque binary payload column (path, content)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.encode("text", "UTF-8").alias("content"),
    )


# SQL for one md5 byte (pair of hex nibbles at 1-based position p, p+1)
def _hexpair(p: int) -> str:
    nib = "instr('0123456789abcdef', substr(md5(text), {pos}, 1)) - 1"
    return f"(({nib.format(pos=p)}) * 16 + ({nib.format(pos=p + 1)}))"


@query(
    "multimodal_resize_32",
    oracle=f"""
    SELECT doc_id,
           CAST(64 + {_hexpair(1)} AS INT) AS width,
           CAST(64 + {_hexpair(3)} AS INT) AS height,
           32 AS out_w, 32 AS out_h,
           CAST(3072 AS BIGINT) AS resized_len,
           substr(md5(repeat(md5(text || '|32x32'), 192)), 1, 16) AS checksum
    FROM documents
    """,
)
def multimodal_resize_32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize path over binary media columns: mapInPandas batch
    resize to 32×32 (PIL when available, md5-cycled deterministic stub
    here — operators/multimodal.py:resize_images). The stub payload is
    the md5 of (bytes ‖ '|32x32') cycled to 32·32·3 bytes, so its
    length and hex-md5 checksum are closed-form SQL over md5(text) —
    the whole Python resize stage is value-oracled."""
    out = resize_images(_docs_binary(spark, sf_dir), 32, 32, force_stub=True)
    return out.select(
        F.col("path").cast("long").alias("doc_id"),
        "width",
        "height",
        "out_w",
        "out_h",
        "resized_len",
        "checksum",
    )


@query(
    "multimodal_decode_features",
    oracle=f"""
    SELECT doc_id,
           CAST(64 + {_hexpair(1)} AS INT) AS width,
           CAST(64 + {_hexpair(3)} AS INT) AS height,
           3 AS n_channels,
           'stub' AS decoder,
           ROUND({_hexpair(1)} / 255.0, 6) AS f0
    FROM documents
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode over a binary column (mapInPandas). The
    md5-stub decoder makes width/height/feature[0] exactly the oracle's
    md5-hex arithmetic — value-level validation of the Python batch
    path, not just row counts."""
    feats = decode_image_features(_docs_binary(spark, sf_dir))
    return feats.select(
        F.col("path").cast("bigint").alias("doc_id"),
        "width",
        "height",
        F.col("n_channels").cast("int").alias("n_channels"),
        "decoder",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
    )


_KINDS = ["png", "jpeg", "gif", "wav", "pdf"]


@query(
    "multimodal_kind_counts",
    oracle="""
    SELECT CASE CAST(doc_id % 6 AS INT)
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
             WHEN 3 THEN 'wav' WHEN 4 THEN 'pdf' ELSE 'unknown' END AS media_kind,
           COUNT(*) AS n
    FROM documents
    GROUP BY 1
    """,
)
def multimodal_kind_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side magic-byte sniffing (no UDF): payloads get a real
    format magic prefix keyed by doc_id%6 and with_media_kind must
    recover it from the first bytes of the binary column alone."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    content = payload
    for i, kind in enumerate(_KINDS):
        content = F.when(
            F.col("doc_id") % 6 == i,
            F.concat(F.lit(bytearray(_MAGIC[kind])), payload),
        ).otherwise(content)
    tagged = with_media_kind(docs.select("doc_id", content.alias("content")))
    return tagged.groupBy("media_kind").agg(F.count(F.lit(1)).alias("n"))


@query(
    "multimodal_frame_stats",
    oracle="""
    SELECT doc_id,
           LEAST(CAST(CEIL(octet_length(encode(text)) / 128.0) AS INT), 4)
             AS n_frames,
           CAST(LEAST(octet_length(encode(text)), 4 * 128) AS BIGINT)
             AS sampled_bytes
    FROM documents
    """,
)
def multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (posexplode of substring
    slices, all JVM-side), re-aggregated per document. Oracle is the
    closed form: frames are contiguous 128-byte slices capped at 4."""
    frames = sample_frames(_docs_binary(spark, sf_dir), frame_bytes=128, max_frames=4)
    return frames.groupBy(F.col("path").cast("bigint").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.sum("frame_len").alias("sampled_bytes"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) image near-dup — the multimodal analogue of
# SimHash text dedup: map-only 64-bit hash per image, hamming-band
# bucket join for pairs (operators/hashing.py). Stub pixel plane is
# md5(content || '|dhash9x8') cycled to 9x8 bytes, so every hash bit
# is closed-form SQL over the md5 hex (pixel i = digest byte i % 16).
# ---------------------------------------------------------------------------

_PHASH_HAMMING_T = 3

# ~4% of docs share one canonical payload (doc_id % 25 == 0) so the
# dedup query exercises real bucket collisions on the natural corpus:
# distinct texts give md5-avalanche hashes (no accidental near-pairs),
# planted duplicates give hamming-0 pairs the band join must recover.
_PHASH_PLANT_SQL = (
    "CASE WHEN doc_id % 25 = 0 THEN 'shared boilerplate image payload' "
    "ELSE text END"
)


def _phash_px_sql(i: int, md5_expr: str) -> str:
    """DuckDB SQL for stub pixel i: byte (i % 16) of the digest, read
    as the hex pair at 1-based position 2*(i%16)+1 of the md5 hex."""
    p = 2 * (i % 16) + 1
    nib = f"instr('0123456789abcdef', substr({md5_expr}, {{pos}}, 1)) - 1"
    return f"(({nib.format(pos=p)}) * 16 + ({nib.format(pos=p + 1)}))"


def _phash_sig_sql(payload_sql: str) -> str:
    """Closed-form signed 64-bit dHash over a text payload expression:
    bit r*8+c set when pixel r*9+c < pixel r*9+c+1. Bit 63 contributes
    MIN_LONG so the signed sum matches the Python stub's two's
    complement exactly (same construction as the SimHash oracle)."""
    md5_expr = f"md5(({payload_sql}) || '|dhash9x8')"
    terms = []
    for j in range(64):
        r, c = divmod(j, 8)
        cond = (
            f"{_phash_px_sql(r * 9 + c, md5_expr)}"
            f" < {_phash_px_sql(r * 9 + c + 1, md5_expr)}"
        )
        val = "(-9223372036854775807 - 1)" if j == 63 else f"(1::BIGINT << {j})"
        terms.append(f"CASE WHEN {cond} THEN {val} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "multimodal_phash",
    oracle=f"""
    SELECT doc_id, {_phash_sig_sql(_PHASH_PLANT_SQL)} AS dhash64
    FROM documents
    """,
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image perceptual hash (dHash 9x8 -> 64 bits) through the
    Arrow-batched mapInPandas decoder (PIL when available, md5 stub
    here — operators/multimodal.py:dhash_images). Map-only: no
    shuffle; at 100 TB this is one pass over the binary column.

    The signature relation is persisted per (session, corpus) via the
    same cache the minhash bands use: the dedup self-join consumes it
    on BOTH sides, and without the persist Spark plans the decode
    subtree twice — at real image sizes the decode IS the job's cost,
    so hashing every image twice would double it."""
    from free_etl_spark.operators.multimodal import dhash_images

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        payload = docs.select(
            F.col("doc_id").cast("string").alias("path"),
            F.encode(
                F.when(
                    F.col("doc_id") % 25 == 0,
                    F.lit("shared boilerplate image payload"),
                ).otherwise(F.col("text")),
                "UTF-8",
            ).alias("content"),
        )
        return dhash_images(payload, force_stub=True).select(
            F.col("path").cast("long").alias("doc_id"), "dhash64"
        )

    return cache.relation(spark, sf_dir, "phash_sig", build)


@query(
    "multimodal_phash_dedup",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, {_phash_sig_sql(_PHASH_PLANT_SQL)} AS dhash64
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.dhash64, b.dhash64)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash64, b.dhash64)) <= {_PHASH_HAMMING_T}
    """,
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs (dHash hamming <= 3): candidates come
    from the shared 4x16-bit hamming-band join (full recall at this
    threshold by pigeonhole, ~N/65536 expected bucket occupancy —
    operators/hashing.py), exact bit_count(xor) verifies candidates;
    the oracle brute-forces the same answer. The planted duplicate
    payloads (doc_id % 25) produce the hamming-0 clusters a real image
    corpus would."""
    from free_etl_spark.operators.hashing import hamming_band_pairs

    sig = multimodal_phash(spark, sf_dir)
    return hamming_band_pairs(sig, "doc_id", "dhash64", _PHASH_HAMMING_T).select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        "hamming",
    )


_PCM_FRAME = 64       # samples per analysis window
_PCM_QUIET = 20000    # frame-peak threshold for the quiet-frame ratio


@query(
    "multimodal_audio_energy",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
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
    f AS (
      SELECT doc_id, samples, len(samples) AS n_samples,
             list_transform(
               generate_series(1, CAST(CEIL(len(samples) / {_PCM_FRAME}.0) AS INT)),
               j -> list_max(list_transform(
                      samples[(j-1)*{_PCM_FRAME}+1 : (j-1)*{_PCM_FRAME}+{_PCM_FRAME}],
                      x -> abs(x)))
             ) AS frame_peaks
      FROM s WHERE len(samples) > 0
    )
    SELECT doc_id,
           CAST(n_samples AS INT) AS n_samples,
           CAST(len(frame_peaks) AS INT) AS n_frames,
           CAST(list_max(frame_peaks) AS INT) AS peak,
           ROUND(CAST(len(list_filter(frame_peaks, p -> p < {_PCM_QUIET}))
                      AS DOUBLE) / len(frame_peaks), 6) AS quiet_ratio,
           CAST(list_sum(list_transform(samples, x -> abs(x))) AS DOUBLE)
             / n_samples AS avg_abs
    FROM f
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over opaque binary payloads: the bytes
    are interpreted as 16-bit little-endian PCM (the real WAV data
    plane), windowed into {_PCM_FRAME}-sample frames, and reduced to
    per-blob energy features — frame count, peak amplitude,
    quiet-frame ratio, mean |amplitude|. This is the genuine DSP
    windowing math, not a stub: int16 LE decode, per-frame peaks, and
    the energy fold all run as JVM higher-order functions over one
    materialized sample array (the hex string is projected FIRST so
    lambdas reference a column, never re-evaluating the encode per
    element). MAP-ONLY — zero shuffles; at 100 TB each executor
    streams its blobs through the same expressions (a production
    decoder swaps the hex trick for mapInPandas + numpy frombuffer,
    same frame/feature schema). avg_abs divides an exact integer sum
    by an exact count — engine-deterministic without rounding."""
    with_frames = _pcm_frames(spark, sf_dir)
    sum_abs = F.aggregate(
        F.col("samples"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )
    quiet = F.size(
        F.filter(F.col("frame_peaks"), lambda p: p < _PCM_QUIET)
    )
    return with_frames.select(
        "doc_id",
        F.col("n_samples").cast("int").alias("n_samples"),
        F.size("frame_peaks").cast("int").alias("n_frames"),
        F.array_max("frame_peaks").cast("int").alias("peak"),
        F.round(
            quiet.cast("double") / F.size("frame_peaks"), 6
        ).alias("quiet_ratio"),
        (sum_abs.cast("double") / F.col("n_samples")).alias("avg_abs"),
    )


def _pcm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PCM16-LE decode plane: (doc_id, n_samples, samples,
    frame_peaks) with _PCM_FRAME-sample windows — the plumbing both
    audio feature queries (energy, VAD) run on. Map-only; the hex
    string is projected FIRST so the interpreted lambdas reference a
    column (no per-element re-encode — HOFs have no CSE).

    Persisted via the shared relation cache (the phash_sig pattern):
    the decode is the dominant cost of BOTH audio queries (~4 s each
    at sf0.1), and they window the identical frame plane — one build
    serves every consumer and every repeat invocation. The decoded
    relation is (doc_id, ints) — far smaller than the corpus text it
    derives from."""

    def build() -> DataFrame:
        return _pcm_frames_build(load_table(spark, sf_dir, "documents"))

    return cache.relation(spark, sf_dir, "pcm_frames", build)


def _pcm_frames_build(docs: DataFrame) -> DataFrame:
    hx = F.lower(F.hex(F.encode("text", "UTF-8")))
    base = docs.select("doc_id", hx.alias("hx")).withColumn(
        "n_samples", (F.length("hx") / 4).cast("int")
    )

    def _sample_u(i):
        # unsigned int16: one conv+substr per byte; the sign fixup runs
        # in a SECOND cheap transform over ints so the hi byte is
        # never evaluated twice (interpreted HOFs have no
        # common-subexpression elimination — measured ~25% of the
        # per-sample cost)
        lo = F.conv(F.col("hx").substr(4 * i - 3, F.lit(2)), 16, 10).cast("int")
        hi = F.conv(F.col("hx").substr(4 * i - 1, F.lit(2)), 16, 10).cast("int")
        return (lo + 256 * hi).cast("int")

    samples_u = F.transform(
        F.sequence(F.lit(1), F.col("n_samples")), _sample_u
    )
    samples = F.transform(
        samples_u,
        lambda x: (
            x - F.when(x >= 32768, F.lit(65536)).otherwise(F.lit(0))
        ).cast("int"),
    )
    with_samples = base.filter(F.col("n_samples") > 0).select(
        "doc_id", "n_samples", samples.alias("samples")
    )
    n_frames = F.ceil(F.col("n_samples") / float(_PCM_FRAME)).cast("int")
    frame_peaks = F.transform(
        F.sequence(F.lit(1), n_frames),
        lambda j: F.array_max(
            F.transform(
                F.slice(
                    F.col("samples"),
                    (j - 1) * _PCM_FRAME + 1,
                    F.lit(_PCM_FRAME),
                ),
                lambda x: F.abs(x),
            )
        ),
    )
    return with_samples.select(
        "doc_id", "n_samples", "samples", frame_peaks.alias("frame_peaks")
    )


_VAD_THR = _PCM_QUIET  # speech = frame peak at or above the quiet cut


@query(
    "multimodal_audio_vad",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
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
    f AS (
      SELECT doc_id,
             CAST(len(samples) AS BIGINT) AS n_samples,
             list_transform(
               generate_series(1, CAST(CEIL(len(samples) / {_PCM_FRAME}.0) AS INT)),
               j -> list_max(list_transform(
                      samples[(j-1)*{_PCM_FRAME}+1 : (j-1)*{_PCM_FRAME}+{_PCM_FRAME}],
                      x -> abs(x)))
             ) AS peaks
      FROM s WHERE len(samples) > 0
    ),
    g AS (
      SELECT doc_id, n_samples,
             list_transform(peaks, p -> p >= {_VAD_THR}) AS fl,
             len(peaks) AS nf
      FROM f
    )
    SELECT doc_id, n_samples,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(len(list_filter(fl, x -> x)) AS BIGINT)
             AS n_speech_frames,
           CAST(len(list_filter(generate_series(1, CAST(nf AS INT)),
                  j -> fl[j] AND (j = 1 OR NOT fl[j - 1])))
                AS BIGINT) AS n_segments,
           CAST(COALESCE(list_position(fl, true), 0) AS BIGINT)
             AS first_speech_frame
    FROM g
    """,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over the PCM16 frame plane: mark each
    {_PCM_FRAME}-sample frame speech/silence by peak threshold, then
    count contiguous speech SEGMENTS (islands — a frame that is
    speech while its predecessor is not opens a segment), total
    speech frames, and the first speech frame — the utterance
    segmentation every ASR preprocessing pipeline runs. Runs on the
    shared _pcm_frames decode (one map-only pass, zero shuffles);
    the island count folds inside the frame-flag array per blob, so
    no per-frame rows ever materialize. All outputs are integer
    counts — engine-exact, no rounding."""
    frames = _pcm_frames(spark, sf_dir)
    # ONE aggregate fold with struct state over frame_peaks — the
    # peaks expression is referenced exactly once, so the decode
    # chain (hex -> samples -> peaks) evaluates once per row.
    # Referencing a flags ARRAY from several output expressions
    # instead re-inlines the whole chain per reference (projection
    # collapse + no-CSE in interpreted HOFs: measured 12.2 s vs
    # audio_energy's 3.8 s at sf0.1 for the same decode).
    init = F.struct(
        F.lit(0).alias("i"),
        F.lit(0).alias("nsp"),
        F.lit(0).alias("nseg"),
        F.lit(0).alias("first"),
        F.lit(False).alias("prev"),
    )

    def step(acc, x):
        sp = x >= F.lit(_VAD_THR)
        return F.struct(
            (acc["i"] + 1).alias("i"),
            (acc["nsp"] + F.when(sp, 1).otherwise(0)).alias("nsp"),
            (
                acc["nseg"] + F.when(sp & ~acc["prev"], 1).otherwise(0)
            ).alias("nseg"),
            F.when((acc["first"] == 0) & sp, acc["i"] + 1)
            .otherwise(acc["first"])
            .alias("first"),
            sp.alias("prev"),
        )

    # size("samples") keeps the samples array DOUBLY referenced after
    # column pruning: with a single reference CollapseProject inlines
    # the decode into the per-frame transform lambda and the int16
    # parse re-runs once per frame (~40x; measured 12.6 s vs 4 s for
    # audio_energy at sf0.1). n_samples is also a legit output.
    g = frames.select(
        "doc_id",
        F.size("samples").cast("long").alias("n_samples"),
        F.aggregate("frame_peaks", init, step).alias("s"),
    )
    return g.select(
        "doc_id",
        "n_samples",
        F.col("s.i").cast("long").alias("n_frames"),
        F.col("s.nsp").cast("long").alias("n_speech_frames"),
        F.col("s.nseg").cast("long").alias("n_segments"),
        F.col("s.first").cast("long").alias("first_speech_frame"),
    )


def _blur_px_sql(i: int) -> str:
    """DuckDB SQL for stub pixel i of the 9x8 gray plane: byte
    (i % 16) of md5(text || '|dhash9x8') — same construction as the
    dHash stub's pixel plane."""
    p = 2 * (i % 16) + 1
    nib = (
        "instr('0123456789abcdef', "
        f"substr(md5(text || '|dhash9x8'), {{pos}}, 1)) - 1"
    )
    return f"(({nib.format(pos=p)}) * 16 + ({nib.format(pos=p + 1)}))"


def _blur_lap_terms_sql() -> str:
    terms = []
    for r in range(1, 7):
        for c in range(1, 8):
            lap = (
                f"(4 * px[{r * 9 + c + 1}] - px[{(r - 1) * 9 + c + 1}]"
                f" - px[{(r + 1) * 9 + c + 1}] - px[{r * 9 + c}]"
                f" - px[{r * 9 + c + 2}])"
            )
            terms.append(lap)
    return "[" + ", ".join(terms) + "]"


@query(
    "multimodal_blur_detect",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             list_transform(generate_series(0, 71),
                            i -> CASE
    {" ".join(f"WHEN i % 16 = {k} THEN {_blur_px_sql(k)}" for k in range(16))}
                            END) AS px
      FROM documents
    ),
    l AS (
      SELECT doc_id, {_blur_lap_terms_sql()} AS lap FROM p
    ),
    v AS (
      SELECT doc_id,
             (list_sum(list_transform(lap, x -> CAST(x AS DOUBLE) * x))
              - list_sum(list_transform(lap, x -> CAST(x AS DOUBLE)))
                * list_sum(list_transform(lap, x -> CAST(x AS DOUBLE)))
                / 42.0) / 42.0 AS lap_var
      FROM l
    )
    SELECT doc_id, FLOOR(lap_var * 1e6) / 1e6 AS lap_var,
           lap_var < 3000 AS is_blurry
    FROM v
    """,
)
def multimodal_blur_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blur / low-detail screening by variance of the Laplacian — the
    standard CV focus measure (sharp images have high second-
    derivative energy; blurred ones do not), run over the SAME
    md5-derived 9x8 stub pixel plane the dHash path decodes (a
    production deployment swaps the plane for the mapInPandas PIL
    decode, identical downstream math). The 3x3 Laplacian runs on the
    42 interior pixels entirely JVM-side (the pixel array is
    materialized in a prior projection so the interpreted lambdas
    never re-derive the md5 — no-CSE rule); population variance is a
    ratio of exact integer sums, engine-deterministic before the
    FLOOR-6. Map-only: zero shuffles at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.col("text"), F.lit("|dhash9x8")))
    base = docs.select("doc_id", hx.alias("hx"))
    px = F.transform(
        F.sequence(F.lit(0), F.lit(71)),
        lambda i: F.conv(
            F.col("hx").substr((i % 16) * 2 + 1, F.lit(2)), 16, 10
        ).cast("int"),
    )
    with_px = base.select("doc_id", px.alias("px"))
    lap_idx = [
        (r * 9 + c + 1, (r - 1) * 9 + c + 1, (r + 1) * 9 + c + 1,
         r * 9 + c, r * 9 + c + 2)
        for r in range(1, 7)
        for c in range(1, 8)
    ]
    lap = F.array(
        *[
            (
                4 * F.element_at("px", ctr)
                - F.element_at("px", up)
                - F.element_at("px", dn)
                - F.element_at("px", lf)
                - F.element_at("px", rt)
            )
            for ctr, up, dn, lf, rt in lap_idx
        ]
    )
    with_lap = with_px.select("doc_id", lap.alias("lap"))
    s1 = F.aggregate(
        "lap", F.lit(0.0), lambda a, x: a + x.cast("double")
    )
    s2 = F.aggregate(
        "lap", F.lit(0.0), lambda a, x: a + x.cast("double") * x
    )
    lap_var = (s2 - s1 * s1 / 42.0) / 42.0
    return with_lap.select(
        "doc_id",
        (F.floor(lap_var * 1e6) / 1e6).alias("lap_var"),
        (lap_var < 3000).alias("is_blurry"),
    )


_SCENE_FRAME_CHARS = 128
_SCENE_MAX_FRAMES = 8
_SCENE_CUT_T = 64


@query(
    "multimodal_scene_cuts",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, LEAST(CAST(CEIL(length(text)
                   / {_SCENE_FRAME_CHARS}.0) AS INT), {_SCENE_MAX_FRAMES})),
               j -> ('0x' || substr(md5(substr(text,
                      (j-1)*{_SCENE_FRAME_CHARS} + 1,
                      {_SCENE_FRAME_CHARS})), 1, 2))::INT
             ) AS feat
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(len(feat) AS BIGINT) AS n_frames,
           CAST(len(list_filter(generate_series(2, CAST(len(feat) AS INT)),
                  j -> abs(feat[j] - feat[j-1]) > {_SCENE_CUT_T}))
                AS BIGINT) AS n_cuts
    FROM f
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over sampled frames: the payload is framed
    into {_SCENE_FRAME_CHARS}-char windows (first {_SCENE_MAX_FRAMES}
    kept — the sample_frames shape), each frame reduced to a
    1-byte md5 stub feature, and a CUT is declared where consecutive
    frame features jump by more than {_SCENE_CUT_T} — the shot-
    boundary pipeline structure (a real deployment swaps the stub
    for per-frame embeddings from the mapInPandas decoder; the
    framing, the consecutive-delta comparison, and the per-clip
    rollup are exactly this). JVM-only map pass; the frame feature
    array is materialized once and the cut scan folds inside it."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    n_frames = F.least(
        F.ceil(F.length("text") / float(_SCENE_FRAME_CHARS)).cast("int"),
        F.lit(_SCENE_MAX_FRAMES),
    )
    feat = F.transform(
        F.sequence(F.lit(1), n_frames),
        lambda j: F.conv(
            F.substring(
                F.md5(
                    F.substring(
                        F.col("text"),
                        (j - 1) * _SCENE_FRAME_CHARS + 1,
                        F.lit(_SCENE_FRAME_CHARS),
                    ).cast("binary")
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("int"),
    )
    with_feat = docs.select("doc_id", feat.alias("feat"))
    # sequence(2, 1) DESCENDS in Spark (DuckDB's generate_series is
    # empty) — single-frame clips must short-circuit to zero cuts
    cuts = F.when(F.size("feat") < 2, F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(2), F.size("feat")),
                lambda j: F.abs(
                    F.element_at("feat", j.cast("int"))
                    - F.element_at("feat", (j - 1).cast("int"))
                )
                > _SCENE_CUT_T,
            )
        )
    )
    return with_feat.select(
        "doc_id",
        F.size("feat").cast("long").alias("n_frames"),
        cuts.cast("long").alias("n_cuts"),
    )


@query(
    "multimodal_caption_align",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
             label,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    img AS (SELECT vec_id // 2 AS pid, label, emb, nrm FROM v
            WHERE vec_id % 2 = 0),
    cap AS (SELECT (vec_id - 1) // 2 AS pid, emb, nrm FROM v
            WHERE vec_id % 2 = 1),
    pairs AS (
      SELECT i.pid, i.label,
             ROUND(list_sum(list_transform(list_zip(i.emb, c.emb),
                   z -> z[1] * z[2])) / (i.nrm * c.nrm), 6) AS cos_true,
             ROUND(list_sum(list_transform(list_zip(i.emb, d.emb),
                   z -> z[1] * z[2])) / (i.nrm * d.nrm), 6) AS cos_decoy
      FROM img i
      JOIN cap c ON c.pid = i.pid
      JOIN cap d ON d.pid = i.pid + 1
    )
    SELECT CAST(label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN cos_true > cos_decoy THEN 1 ELSE 0 END)
                AS BIGINT) AS n_aligned,
           ROUND(SUM(cos_true - cos_decoy), 6) / COUNT(*) AS mean_margin,
           ROUND(SUM(cos_true), 6) / COUNT(*) AS mean_cos
    FROM pairs
    GROUP BY label
    ORDER BY label
    """,
)
def multimodal_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image<->caption pairing audit (CLIP-score-shaped, VERDICT r9
    task #7c): treat even vec_ids as image embeddings and the
    following odd vec_id as the paired caption; for each pair compute
    the true-pair cosine and the cosine against a DECOY caption (the
    next pair's), and report per image-label how often the true
    caption wins plus the mean alignment margin — the standard
    contrastive-retrieval sanity check before multimodal training.

    Scale shape: two equi-joins on the dense pair id (no window, no
    cross join) followed by one hash aggregation on label — linear,
    partition-prunable when the corpus is written pair-bucketed. FP
    rule: per-pair cosines rounded to 6 dp, group sums re-rounded to
    the same grid before the single IEEE division (registry contract).
    """
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        "label",
    )
    nrm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x))
    n = v.select("vec_id", "emb", "label", nrm.alias("nrm"))
    img = n.filter(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") / 2).cast("long").alias("pid"),
        "label",
        F.col("emb").alias("i_emb"),
        F.col("nrm").alias("i_nrm"),
    )
    cap = n.filter(F.col("vec_id") % 2 == 1).select(
        ((F.col("vec_id") - 1) / 2).cast("long").alias("pid"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    decoy = cap.select(
        (F.col("pid") - 1).alias("pid"),
        F.col("c_emb").alias("d_emb"),
        F.col("c_nrm").alias("d_nrm"),
    )

    def cos(a: str, b: str, na: str, nb: str):
        return F.round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (F.col(na) * F.col(nb)),
            6,
        )

    pairs = (
        img.join(cap, "pid")
        .join(decoy, "pid")
        .select(
            "label",
            cos("i_emb", "c_emb", "i_nrm", "c_nrm").alias("cos_true"),
            cos("i_emb", "d_emb", "i_nrm", "d_nrm").alias("cos_decoy"),
        )
    )
    return (
        pairs.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("cos_true") > F.col("cos_decoy"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_aligned"),
            (
                F.round(F.sum(F.col("cos_true") - F.col("cos_decoy")), 6)
                / F.count(F.lit(1))
            ).alias("mean_margin"),
            (F.round(F.sum("cos_true"), 6) / F.count(F.lit(1))).alias(
                "mean_cos"
            ),
        )
        .orderBy("label")
    )


_FRAME_DF_CAP = 256   # max videos sharing a frame hash and still joining
_FRAME_MIN_SHARED = 2  # frames in common to call two videos near-dup

# ~1/50 of videos share a planted 256-byte opening segment (2 frames at
# the 128-byte frame size) so the frame-overlap join sees real partial
# overlap: shared openings match, per-doc tails are md5-avalanche
# distinct — the credits/intro-sequence shape a real video corpus has.
_FRAME_PAY_SQL = (
    # class-keyed content must fill BOTH shared frames: a constant pad
    # would make frame 1 identical across every class — boilerplate the
    # DF cap correctly drops, leaving single-frame overlaps below the
    # near-dup threshold (caught at sf0.01: 21 rows instead of 500).
    # text is stripped to printable ASCII so the payload is ASCII BY
    # CONSTRUCTION: the Spark side frames the UTF-8 BYTES (the real
    # sample_frames plumbing) while this oracle frames CHARACTERS, and
    # the two slicings coincide only when byte == char — one multibyte
    # character anywhere would silently shift every later frame
    # boundary (ADVICE r10)
    "substr(repeat('seg' || CAST(doc_id % 50 AS VARCHAR) || '.', 64), 1, 256)"
    " || regexp_replace(text, '[^\\x20-\\x7E]', '', 'g')"
)


@query(
    "multimodal_frame_phash_dedup",
    oracle=f"""
    WITH pay AS (
      SELECT doc_id, {_FRAME_PAY_SQL} AS payload FROM documents
    ),
    fr AS (
      SELECT doc_id, payload,
             unnest(generate_series(0,
               LEAST(4, CAST(CEIL(length(payload) / 128.0) AS INT)) - 1))
               AS i
      FROM pay
    ),
    sig AS (
      SELECT DISTINCT doc_id,
             {_phash_sig_sql("substr(payload, 128*i + 1, 128)")} AS h
      FROM fr
    ),
    keep AS (SELECT h FROM sig GROUP BY h
             HAVING COUNT(*) <= {_FRAME_DF_CAP}),
    s2 AS (SELECT sig.doc_id, sig.h FROM sig JOIN keep USING (h)),
    m AS (
      SELECT a.doc_id AS d, b.doc_id AS o,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM s2 a JOIN s2 b ON a.h = b.h AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_FRAME_MIN_SHARED}
    )
    SELECT d AS doc_id, o AS best_match, n_shared FROM (
      SELECT d, o, n_shared,
             ROW_NUMBER() OVER (PARTITION BY d
                                ORDER BY n_shared DESC, o) AS rn
      FROM m)
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def multimodal_frame_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level near-duplicate detection via FRAME-hash overlap —
    the missing level above per-image phash dedup: sample frames from
    each video payload (operators.sample_frames), perceptual-hash
    each frame through the Arrow-batched decoder (dhash_images, md5
    stub here), then call two videos near-dups when they share >=
    {_FRAME_MIN_SHARED} frame hashes, reporting each video's best
    match. Position-independent (join on hash, not frame index), the
    re-encode/trim-robust form real video dedup uses.

    Scale shape: the pair generator is an EQUI-join on the 64-bit
    frame hash — a perfect inverted index — with a document-frequency
    cap ({_FRAME_DF_CAP}) dropping boilerplate frames (black frames,
    test cards) before the join, exactly the shingle DF-cap
    discipline from dedup_ngram_jaccard; candidate volume is bounded
    by df-cap x matching frames, never videos². The per-video argmax
    is one window over the (sparse) match relation."""
    from free_etl_spark.operators.multimodal import dhash_images, sample_frames

    def build_sig() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        payload = docs.select(
            F.col("doc_id").cast("string").alias("path"),
            F.encode(
                F.concat(
                    F.substring(
                        F.repeat(
                            F.concat(
                                F.lit("seg"),
                                (F.col("doc_id") % 50).cast("string"),
                                F.lit("."),
                            ),
                            64,
                        ),
                        1,
                        256,
                    ),
                    # printable-ASCII strip: keeps the byte-framed
                    # Spark side and the char-framed oracle on the
                    # same boundaries at ANY corpus (see _FRAME_PAY_SQL)
                    F.regexp_replace("text", r"[^\x20-\x7E]", ""),
                ),
                "UTF-8",
            ).alias("content"),
        )
        frames = sample_frames(payload, frame_bytes=128, max_frames=4)
        fr = frames.select(
            F.concat_ws("#", "path", F.col("frame_idx").cast("string")).alias(
                "path"
            ),
            F.col("frame_bytes").alias("content"),
        )
        return (
            dhash_images(fr, force_stub=True)
            .select(
                F.split_part(F.col("path"), F.lit("#"), F.lit(1))
                .cast("long")
                .alias("doc_id"),
                F.col("dhash64").alias("h"),
            )
            .distinct()
        )

    # persisted per (session, corpus): the decode subtree is referenced
    # by the DF-cap aggregate AND both self-join sides — at real image
    # sizes the decode IS the cost, so planning it 4x would 4x the job
    sig = cache.relation(spark, sf_dir, "frame_phash_sig", build_sig)
    keep = sig.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _FRAME_DF_CAP
    )
    s2 = sig.join(F.broadcast(keep.select("h")), "h")
    a = s2.select(F.col("doc_id").alias("d"), "h")
    b = s2.select(F.col("doc_id").alias("o"), "h")
    m = (
        a.join(b, "h")
        .filter(F.col("d") != F.col("o"))
        .groupBy("d", "o")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _FRAME_MIN_SHARED)
    )
    w = Window.partitionBy("d").orderBy(F.col("n_shared").desc(), "o")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d").alias("doc_id"),
            F.col("o").alias("best_match"),
            "n_shared",
        )
        .orderBy("doc_id")
    )


# ---- audio near-dup fingerprinting (VERDICT r10 task 4) ------------
# Chromaprint-style: per 64-sample PCM window, 16 sub-band energies
# (4 samples each, Σ|x| — exact integers) + the window total; 62
# fingerprint bits from four delta families. Every bit is an INTEGER
# comparison, so Spark and DuckDB agree exactly with no rounding.
_AFP_BANDS = 16          # sub-bands per analysis window
_AFP_BAND_W = _PCM_FRAME // _AFP_BANDS  # samples per sub-band (4)
_AFP_MAX_SIGS = 16       # fingerprint at most this many windows/doc
_AFP_DF_CAP = 256        # max docs sharing a fingerprint (boilerplate)
_AFP_HAMMING_T = 3       # near-match tolerance (4x16 bands: full recall)
_AFP_MIN_SHARED = 2      # matched frames to call two docs near-dup

# ~1/50 of audio payloads share a planted 384-byte class-keyed opening
# (3 full 64-sample windows -> fingerprints f=2,3 identical within the
# class) so the frame-match join sees real partial overlap — the
# re-encoded-intro shape audio dedup exists for. Content is class-
# keyed THROUGHOUT the shared span (the r10 frame-dedup lesson:
# constant padding creates one corpus-wide boilerplate unit the DF cap
# correctly drops).
_AFP_PAY_SQL = (
    "substr(repeat('aud' || CAST(doc_id % 50 AS VARCHAR) || '.', 96),"
    " 1, 384) || text"
)


def _afp_sig_sql(cur: str, prev: str) -> str:
    """Closed-form 62-bit audio fingerprint over two adjacent windows'
    band-energy lists (17th element = window total). Bit families:
    0-15 temporal (band grew vs previous window), 16-30 spectral
    (band vs next band, current window), 31-45 second-order
    (chromaprint's 2D delta-of-deltas), 46-61 coarse magnitude
    (16*band > window total — integer-exact 'above mean'). Bit 63
    unused, so the signed BIGINT is always non-negative."""
    terms = []

    def el(arr: str, i: int) -> str:
        return f"{arr}[{i}]"

    for j in range(62):
        if j < 16:
            b = j + 1
            cond = f"{el(cur, b)} > {el(prev, b)}"
        elif j < 31:
            b = j - 15
            cond = f"{el(cur, b)} > {el(cur, b + 1)}"
        elif j < 46:
            b = j - 30
            cond = (
                f"({el(cur, b)} - {el(cur, b + 1)})"
                f" > ({el(prev, b)} - {el(prev, b + 1)})"
            )
        else:
            b = j - 45
            cond = f"16 * {el(cur, b)} > {el(cur, 17)}"
        terms.append(f"CASE WHEN {cond} THEN (1::BIGINT << {j}) ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _afp_sig_col(cur, prev):
    """Spark mirror of _afp_sig_sql: same bit layout, same strict->0
    tie rule, element_at lookups on MATERIALIZED array values (cheap
    per-reference; never re-derives the energies). ``cur``/``prev``
    are column names or Column expressions (the streaming probe passes
    element_at lookups into a nested window array)."""
    if isinstance(cur, str):
        cur = F.col(cur)
    if isinstance(prev, str):
        prev = F.col(prev)

    def el(arr, i: int):
        return F.element_at(arr, i)

    expr = F.lit(0).cast("long")
    for j in range(62):
        if j < 16:
            b = j + 1
            cond = el(cur, b) > el(prev, b)
        elif j < 31:
            b = j - 15
            cond = el(cur, b) > el(cur, b + 1)
        elif j < 46:
            b = j - 30
            cond = (el(cur, b) - el(cur, b + 1)) > (
                el(prev, b) - el(prev, b + 1)
            )
        else:
            b = j - 45
            cond = el(cur, b) * 16 > el(cur, 17)
        expr = expr + F.when(cond, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return expr


def _afp_payload(docs: DataFrame) -> DataFrame:
    """Planted audio payload (doc_id, text) — Spark mirror of
    _AFP_PAY_SQL; shared by the batch relation and the stream probe."""
    return docs.select(
        "doc_id",
        F.concat(
            F.substring(
                F.repeat(
                    F.concat(
                        F.lit("aud"),
                        (F.col("doc_id") % 50).cast("string"),
                        F.lit("."),
                    ),
                    96,
                ),
                1,
                384,
            ),
            F.col("text"),
        ).alias("text"),
    )


def _afp_sig_rows(spark: SparkSession, pay: DataFrame) -> DataFrame:
    """(doc_id, sig) — per-document DISTINCT 62-bit frame fingerprints,
    derived MAP-SIDE from a (doc_id, text) payload frame. Works on
    batch AND streaming inputs (no window functions, no per-doc
    aggregation): the adjacent-window pairing is arrays_zip of two
    slices of the per-row window-energy array.

    Three hard-won shape rules are load-bearing here (each measured):
    (1) repartition the RAW rows first — the 1-file documents scan is
    a single partition and the decode dominates; (2) a second exchange
    after the decode projection pins the sample array materialized —
    without a boundary the int16 decode inlines into the per-window
    lambdas and re-runs per window (69 s -> 14 s at sf0.1); (3) the
    window-energy array is built ONCE per row and referenced
    THREE times (size + two slices) in the pairing projection, so
    CollapseProject cannot inline it, and the fingerprint reads its
    energies through the zip-struct LAMBDA VARIABLE — the
    element_at-on-a-column formulation re-derived the whole energy
    array per reference (~190x per fingerprint, 0.22 s/fingerprint:
    428 s at sf0.01 for what now takes ~2 s)."""
    cpus = spark.sparkContext.defaultParallelism
    pay = pay.filter(
        F.octet_length(F.encode("text", "UTF-8")) >= 4 * _PCM_FRAME
    ).repartition(cpus, "doc_id")
    base = (
        _pcm_frames_build(pay)
        .select("doc_id", "samples")
        .repartition(cpus, "doc_id")
    )

    # band energies as UNROLLED element_at sums (the probe_dim rule:
    # unrolled expression trees beat interpreted slice+fold in
    # map-side stages — measured 9.8 -> 8.0 s at sf0.1 here); the
    # window total is the sum of the 16 band sums, a pure integer
    # reassociation of the oracle's 64-term list_sum, so the values
    # are identical in both engines.
    def band_e_unrolled(f, b):
        base_i = (f - 1) * _PCM_FRAME + (b - 1) * _AFP_BAND_W
        expr = F.lit(0).cast("long")
        for o in range(1, _AFP_BAND_W + 1):
            expr = expr + F.abs(
                F.element_at(F.col("samples"), base_i + F.lit(o))
            )
        return expr

    def eb_unrolled(f):
        es = [band_e_unrolled(f, b) for b in range(1, _AFP_BANDS + 1)]
        total = es[0]
        for e in es[1:]:
            total = total + e
        return F.array(*es, total)

    nf = F.least(
        F.floor(F.size("samples") / _PCM_FRAME).cast("int"),
        F.lit(_AFP_MAX_SIGS + 1),
    )
    # the byte filter above guarantees nf >= 2
    ebs = F.transform(F.sequence(F.lit(1), nf), eb_unrolled)
    staged = base.select("doc_id", ebs.alias("ebs"))
    pairs = F.arrays_zip(
        F.slice("ebs", 2, F.size("ebs") - 1),
        F.slice("ebs", 1, F.size("ebs") - 1),
    )
    paired = staged.select("doc_id", pairs.alias("pairs"))
    sigs = F.array_distinct(
        F.transform(F.col("pairs"), lambda p: _afp_sig_col(p["0"], p["1"]))
    )
    return paired.select("doc_id", F.explode(sigs).alias("sig"))


def _audio_fp_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DISTINCT audio frame fingerprints (doc_id, sig) —
    the relation the near-dup join and the streaming probe's static
    index consume, persisted per (session, corpus) because the PCM
    decode + band folds dominate the cost. See _afp_sig_rows for the
    pipeline and its measured shape rules; the per-doc window cap
    bounds work per row at any corpus scale (the 'intro fingerprint'
    every audio matcher uses)."""

    def build() -> DataFrame:
        return _afp_sig_rows(
            spark, _afp_payload(load_table(spark, sf_dir, "documents"))
        )

    return cache.relation(spark, sf_dir, "audio_fp_sig", build)


def _audio_fp_sigs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DF-capped fingerprint index (doc_id, sig): _audio_fp_sigs
    minus fingerprints shared by more than {_AFP_DF_CAP} docs
    (silence/test-tone boilerplate). Persisted per (session, corpus)
    like its parent: the batch near-dup join consumes it once per run
    and the streaming probe's static side consumed it PER TRIGGER —
    each trigger re-ran the groupBy(sig) cap + join over the full sig
    relation (guide §3: pin the small static relation once; the
    per-trigger static side is now a cache read)."""

    def build() -> DataFrame:
        sd = _audio_fp_sigs(spark, sf_dir)
        keep = (
            sd.groupBy("sig")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _AFP_DF_CAP)
        )
        return sd.join(F.broadcast(keep.select("sig")), "sig")

    return cache.relation(spark, sf_dir, "audio_fp_sig_capped", build)


@query(
    "multimodal_audio_fingerprint_dedup",
    oracle=f"""
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
    m AS (
      SELECT x.doc_id AS d, y.doc_id AS o,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM s2 x JOIN s2 y
        ON x.doc_id <> y.doc_id
       AND bit_count(xor(x.sig, y.sig)) <= {_AFP_HAMMING_T}
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_AFP_MIN_SHARED}
    )
    SELECT d AS doc_id, o AS best_match, n_shared FROM (
      SELECT d, o, n_shared,
             ROW_NUMBER() OVER (PARTITION BY d
                                ORDER BY n_shared DESC, o) AS rn
      FROM m)
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def multimodal_audio_fingerprint_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-duplicate detection via chromaprint-style frame
    fingerprints — closing the one modality without a banded near-dup
    path (text/image/video have one; VERDICT r10 task 4). Each blob's
    PCM16 plane is windowed ({_PCM_FRAME} samples), each window
    reduced to {_AFP_BANDS} sub-band energies, and adjacent windows
    yield a 62-bit fingerprint from temporal / spectral /
    second-order-delta / coarse-magnitude comparisons (the
    Chromaprint/Shazam bit recipe over an energy plane; exact-integer
    bits, so fully value-oracled). Two blobs are near-dups when >=
    {_AFP_MIN_SHARED} frame fingerprints match within hamming
    {_AFP_HAMMING_T}; each reports its best match.

    Scale shape: candidates come from the SHARED pigeonhole band core
    (operators/hashing.py hamming_band_pairs — 4x16-bit band
    equi-join, full recall at threshold {_AFP_HAMMING_T}, ~N/65536
    expected bucket occupancy), after a document-frequency cap
    ({_AFP_DF_CAP}) drops boilerplate fingerprints (silence, test
    tones) — the shingle-DF-cap discipline. Per-doc work is bounded
    by the {_AFP_MAX_SIGS}-window cap; the per-(band, value) bucket
    bound makes candidate volume linear-with-cap, never blobs². The
    oracle brute-forces the identical answer (pigeonhole guarantees
    the banded join finds every pair the brute force does)."""
    from free_etl_spark.operators.hashing import hamming_band_pairs

    s2 = _audio_fp_sigs_capped(spark, sf_dir)
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("sig"))
    ids = s2.select(
        (F.col("doc_id") * 256 + rn).alias("fid"), F.col("sig")
    )
    pairs = hamming_band_pairs(ids, "fid", "sig", _AFP_HAMMING_T)
    dpairs = pairs.select(
        F.floor(F.col("fid_a") / 256).cast("long").alias("da"),
        F.floor(F.col("fid_b") / 256).cast("long").alias("db"),
    ).filter(F.col("da") != F.col("db"))
    m = (
        dpairs.select(F.col("da").alias("d"), F.col("db").alias("o"))
        .unionAll(dpairs.select(F.col("db").alias("d"), F.col("da").alias("o")))
        .groupBy("d", "o")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _AFP_MIN_SHARED)
    )
    w = Window.partitionBy("d").orderBy(F.col("n_shared").desc(), "o")
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d").alias("doc_id"),
            F.col("o").alias("best_match"),
            "n_shared",
        )
        .orderBy("doc_id")
    )


@query(
    "multimodal_audio_silence_trim",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
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
    f AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, CAST(CEIL(len(samples) / {_PCM_FRAME}.0) AS INT)),
               j -> list_max(list_transform(
                      samples[(j-1)*{_PCM_FRAME}+1 : (j-1)*{_PCM_FRAME}+{_PCM_FRAME}],
                      x -> abs(x))) >= {_PCM_QUIET}
             ) AS fl
      FROM s WHERE len(samples) > 0
    ),
    g AS (
      SELECT doc_id, CAST(len(fl) AS BIGINT) AS n_frames,
             COALESCE(list_position(fl, true), 0) AS first_on,
             CASE WHEN list_position(fl, true) IS NULL THEN 0
                  ELSE len(fl) - list_position(list_reverse(fl), true) + 1
             END AS last_on
      FROM f
    )
    SELECT doc_id, n_frames,
           CAST(CASE WHEN first_on = 0 THEN n_frames
                     ELSE first_on - 1 END AS BIGINT) AS lead_trim,
           CAST(CASE WHEN first_on = 0 THEN 0
                     ELSE n_frames - last_on END AS BIGINT) AS tail_trim,
           CAST(CASE WHEN first_on = 0 THEN 0
                     ELSE last_on - first_on + 1 END AS BIGINT) AS kept_frames,
           ROUND(CAST(CASE WHEN first_on = 0 THEN 0
                           ELSE last_on - first_on + 1 END AS DOUBLE)
                 / n_frames, 6) AS kept_ratio
    FROM g
    """,
)
def multimodal_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading/trailing silence trim boundaries per audio blob — the
    preprocessing transform between VAD and feature extraction (ASR
    pipelines trim before windowing so padding doesn't dominate short
    utterances). Per blob: frames to drop at each end (peak below the
    {_PCM_QUIET} threshold), frames kept, and the kept ratio; a blob
    with no speech frame trims to zero. Runs on the shared
    _pcm_frames decode plane (zero additional decode cost when the
    energy/VAD queries ran); first/last speech positions come from
    array_position over the per-row flag array — map-only, no
    shuffles, no per-frame rows."""
    frames = _pcm_frames(spark, sf_dir)
    fl = F.transform("frame_peaks", lambda p: p >= F.lit(_PCM_QUIET))
    g = frames.select(
        "doc_id",
        F.size("frame_peaks").cast("long").alias("n_frames"),
        F.array_position(fl, F.lit(True)).cast("long").alias("first_on"),
        F.when(
            F.array_position(fl, F.lit(True)) == 0, F.lit(0).cast("long")
        )
        .otherwise(
            F.size("frame_peaks")
            - F.array_position(F.reverse(fl), F.lit(True))
            + 1
        )
        .cast("long")
        .alias("last_on"),
    )
    kept = F.when(F.col("first_on") == 0, F.lit(0).cast("long")).otherwise(
        F.col("last_on") - F.col("first_on") + 1
    )
    return g.select(
        "doc_id",
        "n_frames",
        F.when(F.col("first_on") == 0, F.col("n_frames"))
        .otherwise(F.col("first_on") - 1)
        .cast("long")
        .alias("lead_trim"),
        F.when(F.col("first_on") == 0, F.lit(0))
        .otherwise(F.col("n_frames") - F.col("last_on"))
        .cast("long")
        .alias("tail_trim"),
        kept.cast("long").alias("kept_frames"),
        F.round(kept.cast("double") / F.col("n_frames"), 6).alias(
            "kept_ratio"
        ),
    )


@query(
    "multimodal_audio_downsample_2x",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
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
    d AS (
      SELECT doc_id,
             CAST(len(samples) AS BIGINT) AS n_in,
             list_transform(generate_series(1, len(samples), 2),
                            i -> samples[i]) AS ds,
             CAST(list_sum(list_transform(samples, x -> abs(x))) AS BIGINT)
               AS sum_in
      FROM s WHERE len(samples) > 0
    )
    SELECT doc_id, n_in,
           CAST(len(ds) AS BIGINT) AS n_out,
           CAST(list_sum(list_transform(ds, x -> abs(x))) AS BIGINT)
             AS sum_abs_out,
           CAST(list_sum(list_transform(ds, x -> abs(x))) AS DOUBLE)
             * 2 / NULLIF(CAST(sum_in AS DOUBLE), 0) AS energy_ratio
    FROM d
    """,
)
def multimodal_audio_downsample_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x decimation over the PCM16 sample plane — the sample-rate
    conversion stub of the audio family (the analogue of
    multimodal_resize_32 for images): keep every second sample,
    report in/out sample counts, the decimated |amplitude| checksum
    (exact integer — pins the kept-sample SELECTION, not just the
    count), and the energy-preservation ratio (2x the decimated
    energy over the original — near 1 for stationary signals, the
    anti-aliasing QA number). Map-only fold per blob; a production
    decoder swaps the hex plane for numpy polyphase resampling under
    the same schema."""
    # ride the shared PCM decode plane (energy/VAD/silence-trim share
    # it): the decode is the dominant cost and the persisted relation
    # already carries the full sample array
    withs = _pcm_frames(spark, sf_dir).select("doc_id", "samples")
    ds = F.transform(
        F.sequence(F.lit(1), F.size("samples"), F.lit(2)),
        lambda i: F.element_at(F.col("samples"), i),
    )
    absum = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
    )
    d = withs.select(
        "doc_id",
        F.size("samples").cast("long").alias("n_in"),
        ds.alias("ds"),
        absum(F.col("samples")).alias("sum_in"),
    )
    return d.select(
        "doc_id",
        "n_in",
        F.size("ds").cast("long").alias("n_out"),
        absum(F.col("ds")).alias("sum_abs_out"),
        (
            absum(F.col("ds")).cast("double")
            * 2
            / F.nullif(F.col("sum_in").cast("double"), F.lit(0.0))
        ).alias("energy_ratio"),
    )
