"""Text analysis over the documents table: token stats, quality
scoring, n-gram-heuristic language ID, document fingerprinting, exact
dedup. All pure column expressions (JVM-side); no Python UDFs.
(North-star extension ops — SURVEY.md §2B "text analysis".)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from free_etl_spark import cache
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table


def _tokens() -> F.Column:
    return F.split(F.col("text"), " ")


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id, lang,
           CAST(LENGTH(text) AS BIGINT)                         AS char_cnt,
           CAST(LEN(string_split(text, ' ')) AS BIGINT)         AS token_cnt,
           CAST(LEN(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq_token_cnt,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LEN(string_split(text, ' ')), 6)             AS avg_token_len,
           CAST((LENGTH(' ' || text || ' ')
                 - LENGTH(REPLACE(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS the_cnt
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + distinct-token and stopword stats."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("char_cnt"),
        F.size(_tokens()).cast("long").alias("token_cnt"),
        F.size(F.array_distinct(_tokens())).cast("long").alias("uniq_token_cnt"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "))).cast("double")
            / F.size(_tokens()),
            6,
        ).alias("avg_token_len"),
        (
            (F.length(padded) - F.length(F.replace(padded, F.lit(" the ")))) / 5
        )
        .cast("long")
        .alias("the_cnt"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(LENGTH(text) AS DOUBLE) AS chars,
             CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS toks,
             CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE) AS uniq
      FROM documents
    )
    SELECT doc_id, lang,
           ROUND(0.4 * LEAST(1.0, toks / 80.0)
               + 0.3 * (uniq / toks)
               + 0.3 * LEAST(1.0, chars / 400.0), 6) AS quality_score
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length saturation + lexical diversity
    (the shape of a FineWeb-style quality filter, minus the model)."""
    docs = load_table(spark, sf_dir, "documents")
    chars = F.length("text").cast("double")
    toks = F.size(_tokens()).cast("double")
    uniq = F.size(F.array_distinct(_tokens())).cast("double")
    score = (
        0.4 * F.least(F.lit(1.0), toks / 80.0)
        + 0.3 * (uniq / toks)
        + 0.3 * F.least(F.lit(1.0), chars / 400.0)
    )
    return docs.select("doc_id", "lang", F.round(score, 6).alias("quality_score"))


def _marker_cnt_sql(word: str) -> str:
    return (
        f"CAST((LENGTH(' ' || text || ' ') - LENGTH(REPLACE(' ' || text || ' ', "
        f"' {word} ', ''))) / {len(word) + 2} AS BIGINT)"
    )


def _marker_cnt(word: str) -> F.Column:
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(f" {word} "))))
        / (len(word) + 2)
    ).cast("long")


@query(
    "text_lang_id",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             {_marker_cnt_sql('the')}  AS cnt_the,
             {_marker_cnt_sql('data')} AS cnt_data,
             {_marker_cnt_sql('scan')} AS cnt_scan
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN cnt_the >= cnt_data AND cnt_the >= cnt_scan THEN 'en'
                WHEN cnt_data >= cnt_scan THEN 'data-heavy'
                ELSE 'scan-heavy' END AS predicted_class,
           cnt_the, cnt_data, cnt_scan
    FROM m
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-marker language/dialect classification. The synthetic
    corpus is English word salad, so the classes here are marker-token
    classes — the operator shape (per-language marker counts → argmax)
    is what a real stopword-profile language ID computes."""
    docs = load_table(spark, sf_dir, "documents")
    cnt_the = _marker_cnt("the")
    cnt_data = _marker_cnt("data")
    cnt_scan = _marker_cnt("scan")
    predicted = (
        F.when((cnt_the >= cnt_data) & (cnt_the >= cnt_scan), F.lit("en"))
        .when(cnt_data >= cnt_scan, F.lit("data-heavy"))
        .otherwise(F.lit("scan-heavy"))
    )
    return docs.select(
        "doc_id",
        "lang",
        predicted.alias("predicted_class"),
        cnt_the.alias("cnt_the"),
        cnt_data.alias("cnt_data"),
        cnt_scan.alias("cnt_scan"),
    )


@query(
    "quality_filter_funnel",
    oracle="""
    WITH t AS (
      SELECT lang, n_chars,
             LEN(string_split(text, ' ')) AS token_cnt,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / LEN(string_split(text, ' ')) AS avg_tok
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (n_chars >= 100) AS pass_len,
           COUNT(*) FILTER (n_chars >= 100 AND token_cnt >= 30) AS pass_tokens,
           COUNT(*) FILTER (n_chars >= 100 AND token_cnt >= 30
                            AND avg_tok BETWEEN 3 AND 8) AS pass_shape,
           ROUND(CAST(COUNT(*) FILTER (n_chars >= 100 AND token_cnt >= 30
                                       AND avg_tok BETWEEN 3 AND 8) AS DOUBLE)
                 / COUNT(*), 6) AS keep_rate
    FROM t GROUP BY lang
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel per language — the curation dashboard
    number: how many documents survive each successive filter stage
    (min length → min tokens → plausible token shape) and the final
    keep rate. One pass, conditional aggregation only — at 100 TB
    this is a single pruned scan + a |langs|-row shuffle; no stage
    materializes the filtered sets."""
    docs = load_table(spark, sf_dir, "documents")
    token_cnt = F.size(_tokens())
    avg_tok = F.length(F.replace(F.col("text"), F.lit(" "))).cast("double") / token_cnt
    s1 = F.col("n_chars") >= 100
    s2 = s1 & (token_cnt >= 30)
    s3 = s2 & avg_tok.between(3, 8)
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        cnt(s1).alias("pass_len"),
        cnt(s2).alias("pass_tokens"),
        cnt(s3).alias("pass_shape"),
        F.round(cnt(s3).cast("double") / F.count(F.lit(1)), 6).alias("keep_rate"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_fp,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp,
           SUBSTR(md5(text), 1, 4) AS fp_bucket
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content hash + order-insensitive
    bag-of-words hash (catches token-permuted duplicates) + a short
    bucket prefix for partition-friendly grouping."""
    docs = load_table(spark, sf_dir, "documents")
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens())))
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("content_fp"),
        F.md5(bag.cast("binary")).alias("bag_fp"),
        F.substring(F.md5(F.col("text").cast("binary")), 1, 4).alias("fp_bucket"),
    )


@query(
    "dedup_exact_md5",
    oracle="""
    SELECT md5(text) AS content_fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on content fingerprint, keep
    the lowest doc_id per group. At 100 TB this is the standard
    shuffle-on-digest dedup (uniform md5 keys → no skew)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("content_fp"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


@query(
    "text_bpe_token_estimate",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+'))
                AS BIGINT) AS bpe_ish_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS chars_div4_estimate,
           ROUND(CAST(LENGTH(text) AS DOUBLE)
                 / LEN(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]+')),
                 4) AS chars_per_token
    FROM documents
    """,
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""BPE-ish token counting (north-star "token counting" op): a
    GPT-2-style pre-tokenizer regex (letter runs / digit runs / symbol
    runs) counted JVM-side with regexp_extract_all, plus the ceil(n/4)
    chars-heuristic estimate. A real BPE merge table would run as a
    mapInPandas over these pre-tokens — the distributed shape is
    identical."""
    docs = load_table(spark, sf_dir, "documents")
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"
    n_tok = F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).cast("long")
    return docs.select(
        "doc_id",
        n_tok.alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("chars_div4_estimate"),
        F.round(F.length("text").cast("double") / n_tok, 4).alias("chars_per_token"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term <> '' GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
           WHERE term <> '' GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rnk
    FROM (SELECT doc_id, term, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rn
          FROM scored)
    WHERE rn <= 3 AND doc_id < 50
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF (north-star text-analysis op): term frequency per
    doc × log-inverse document frequency over the whole corpus, top-3
    terms per document (shown for doc_id < 50; TF is computed only for
    those docs, DF necessarily over the full corpus). The df side is a
    token-keyed aggregate broadcast into the tf join."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # tiny scalar; at scale: .first() of an agg
    tf = (
        tok.filter(F.col("doc_id") < 50)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@query(
    "text_fuzzy_name_match",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    k AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def text_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching with blocking: candidate pairs come from
    an equality join on a blocking key (the name's last word) — never
    an all-pairs edit-distance cross join — then exact levenshtein ≤ 3
    filters the block. The standard entity-resolution join shape: cost
    scales with block sizes, not |names|²."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    k = names.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    a = k.select(F.col("p_name").alias("name_a"), F.col("blk").alias("blk_a"))
    b = k.select(F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"))
    return (
        a.join(b, (F.col("blk_a") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b")))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 3)
    )


@query(
    "dedup_drop_duplicates",
    oracle="""
    SELECT lang, source FROM (SELECT DISTINCT lang, source FROM documents)
    """,
)
def dedup_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in exact-dedup surface: dropDuplicates([cols]) —
    semantically DISTINCT on the subset, one hash shuffle on the
    dedup key (dedup_exact_md5 above is the keep-canonical variant)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("lang", "source").dropDuplicates(["lang", "source"])


_CHUNK, _STRIDE = 100, 80  # 20-char overlap


@query(
    "text_chunk_documents",
    oracle=f"""
    SELECT doc_id, CAST(g.i AS INT) AS chunk_idx,
           substr(text, g.i * {_STRIDE} + 1, {_CHUNK}) AS chunk_text,
           CAST(length(substr(text, g.i * {_STRIDE} + 1, {_CHUNK})) AS INT)
             AS chunk_len
    FROM documents
    JOIN generate_series(0, 4095) AS g(i)
      ON g.i * {_STRIDE} < length(text)
    WHERE doc_id < 50
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training/embedding pipelines: fixed-size
    character windows ({_CHUNK} chars, stride {_STRIDE} → 20-char
    overlap), emitted as (doc_id, chunk_idx, chunk_text) rows. The
    slice loop is a JVM-side sequence+transform+posexplode — rows
    multiply map-side, no shuffle, no Python. (A token-boundary
    chunker swaps substring for a split-array slice; same shape.)"""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    n_chunks = F.ceil(F.length("text") / _STRIDE).cast("int")
    # guard empty text: sequence(0, -1) would yield the descending
    # [0, -1], not an empty list (same trap as multimodal.sample_frames)
    chunks = F.when(n_chunks <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
            lambda i: F.substring(F.col("text"), i * _STRIDE + 1, _CHUNK),
        )
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "chunk_text",
            F.length("chunk_text").cast("int").alias("chunk_len"),
        )
    )


_PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS token_cnt
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, token_cnt,
             CAST(SUM(token_cnt) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running
      FROM d
    ),
    b AS (
      SELECT lang,
             CAST(FLOOR((running - token_cnt) * 1.0 / {_PACK_BUDGET}) AS BIGINT)
               AS bin_id,
             token_cnt
      FROM r
    )
    SELECT lang, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(token_cnt) AS BIGINT) AS sum_tokens,
           FLOOR(SUM(token_cnt) * 10000.0 / {_PACK_BUDGET}) / 10000.0
             AS fill_ratio
    FROM b
    GROUP BY lang, bin_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the pretraining-data step that concatenates
    short documents into fixed token-budget bins (512 here) so training
    sequences waste no pad tokens. Greedy first-fit is inherently
    serial, so this uses the scalable streaming-fill formulation: docs
    are laid out in deterministic order (doc_id) per language and a doc
    belongs to the bin where its span STARTS in the concatenated token
    stream — bin_id = floor(preceding_tokens / budget), one running-sum
    window per lang partition. At 100 TB the window is partitioned by
    (lang, shard) so no global sort exists; per-partition packing is
    exactly what a sharded tokenizer job does. fill_ratio uses the
    FLOOR(x*10^4)/10^4 form because sum/512 is dyadic and exact ROUND
    half-boundaries differ between engines (Spark half-up, DuckDB
    half-even)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("token_cnt")
    )
    return pack_sequences(docs, _PACK_BUDGET)


def pack_sequences(docs: DataFrame, budget: int) -> DataFrame:
    """Streaming-fill packing core over (doc_id, lang, token_cnt) —
    the query above feeds it the documents table; property tests
    (tests/test_properties.py) drive it with adversarial corpora
    against a Python brute force."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = docs.select(
        "lang",
        F.floor(
            (F.sum("token_cnt").over(w) - F.col("token_cnt")) / budget
        ).alias("bin_id"),
        "token_cnt",
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("token_cnt").alias("sum_tokens"),
        (F.floor(F.sum("token_cnt") * 10000.0 / budget) / 10000.0).alias(
            "fill_ratio"
        ),
    )


_REP_T = 0.2  # dup-3gram ratio above which a doc is flagged repetitive


@query(
    "text_repetition_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             CAST(LEN(toks) AS BIGINT) AS token_cnt,
             [array_to_string(toks[i:i+1], ' ')
              FOR i IN range(1, GREATEST(LEN(toks) - 1, 0) + 1)] AS g2,
             [array_to_string(toks[i:i+2], ' ')
              FOR i IN range(1, GREATEST(LEN(toks) - 2, 0) + 1)] AS g3
      FROM t
    )
    SELECT doc_id, token_cnt,
           FLOOR(CASE WHEN LEN(g2) = 0 THEN 0.0
                 ELSE 1.0 - CAST(LEN(list_distinct(g2)) AS DOUBLE) / LEN(g2)
                 END * 1000000) / 1000000 AS dup_2gram,
           FLOOR(CASE WHEN LEN(g3) = 0 THEN 0.0
                 ELSE 1.0 - CAST(LEN(list_distinct(g3)) AS DOUBLE) / LEN(g3)
                 END * 1000000) / 1000000 AS dup_3gram,
           CASE WHEN LEN(g3) = 0 THEN FALSE
           ELSE (1.0 - CAST(LEN(list_distinct(g3)) AS DOUBLE) / LEN(g3))
                > {_REP_T} END AS is_repetitive
    FROM g
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scoring — the Gopher-rule quality
    signal that catches boilerplate/spam: the fraction of duplicate
    word 2-grams and 3-grams inside each doc (1 - distinct/total).
    Pure per-row JVM array expressions (split → sliding slices →
    array_distinct), no shuffle at all — at 100 TB this is a map-only
    pass. Ratios use FLOOR(x*1e6)/1e6: they are small-denominator
    rationals, exactly the half-boundary case where Spark and DuckDB
    ROUND diverge."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def distinct_grams(n: int):
        # n-grams as structs of n shifted token streams (arrays_zip of
        # slice(toks, k, ...) for k = 1..n) instead of joined strings:
        # every operator here is codegen-native, where a
        # transform(sequence, concat_ws(slice)) lambda is interpreted
        # per element (~3.5x slower measured at sf0.1). Equivalent to
        # distinct joined strings because tokens come from a
        # space-split and cannot contain the joiner. The zip is
        # null-padded to size(toks), appending exactly n-1 tail
        # structs that each contain a null — never equal to a true
        # n-gram struct or to each other — so subtract n-1.
        zipped = F.arrays_zip(
            toks, *[F.slice(toks, k, F.size(toks)) for k in range(2, n + 1)]
        )
        return F.when(F.size(toks) < n, F.lit(0)).otherwise(
            F.size(F.array_distinct(zipped)) - (n - 1)
        )

    # Stage the expensive per-row gram arrays in their own projection:
    # higher-order expressions are CodegenFallback (no subexpression
    # elimination), so referencing one twice rebuilds a ~4k-element
    # string array per use — this shape cost 10s at sf0.1. The totals
    # need no array at all (count = size - (n-1)); only the distinct
    # counts do, and d3 is referenced twice downstream, which keeps
    # CollapseProject from inlining it back (it only inlines exprs
    # referenced once or trivially cheap).
    staged = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("token_cnt"),
        distinct_grams(2).alias("d2"),
        distinct_grams(3).alias("d3"),
    )
    t2 = F.greatest(F.col("token_cnt") - 1, F.lit(0))
    t3 = F.greatest(F.col("token_cnt") - 2, F.lit(0))

    def ratio(d, t):
        # a doc too short to have any n-gram is NOT repetitive
        return F.when(t == 0, F.lit(0.0)).otherwise(
            1.0 - d.cast("double") / t
        )

    flo = lambda c: F.floor(c * 1000000) / 1000000  # noqa: E731
    return staged.select(
        "doc_id",
        "token_cnt",
        flo(ratio(F.col("d2"), t2)).alias("dup_2gram"),
        flo(ratio(F.col("d3"), t3)).alias("dup_3gram"),
        (ratio(F.col("d3"), t3) > _REP_T).alias("is_repetitive"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Octets constrained to 0-255 (leftmost-first alternation behaves
# identically in Java and RE2), so 999.1.2.3 no longer flags.
_PII_IPV4 = (
    r"\b(?:25[0-5]|2[0-4]\d|1?\d?\d)"
    r"(?:\.(?:25[0-5]|2[0-4]\d|1?\d?\d)){3}\b"
)
# Phone requires REAL telephone structure, not just separated digit
# groups: space-separated groups only count with a +country-code or a
# parenthesized area code in front (so "1990 1991 1992" year lists
# and "12 05 2024" date sequences no longer flag), while bare groups
# must be dash-separated ("555-123-4567"). ISBNs don't survive the
# 2-4-digit group shape + word boundaries. No lookahead: RE2 (the
# oracle's engine) doesn't support it; alternation is leftmost-first
# in both Java and RE2.
_PII_PHONE = (
    r"\+\d{1,4}(?:[ -]\(?\d{2,4}\)?){2,4}\b"  # +CC, any separator
    r"|\(\d{1,4}\)(?:[ -]?\d{2,4}){2,4}\b"  # (area) prefix
    r"|\b\d{1,4}(?:-\d{2,4}){2,4}\b"  # bare: dashes required
)


@query(
    "text_pii_scan",
    oracle=f"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS email_cnt,
           CAST(LEN(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS ipv4_cnt,
           CAST(LEN(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS phone_cnt,
           (LEN(regexp_extract_all(text, '{_PII_EMAIL}')) > 0
            OR LEN(regexp_extract_all(text, '{_PII_IPV4}')) > 0
            OR LEN(regexp_extract_all(text, '{_PII_PHONE}')) > 0) AS has_pii
    FROM documents
    """,
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII surface scan — the redaction-pipeline precursor that counts
    email / IPv4 / phone-shaped spans per document so downstream
    redaction or filtering can target only flagged docs. Patterns are
    restricted to the regex subset Java (Spark) and RE2 (DuckDB)
    interpret identically, so the oracle replays the exact matcher.
    Map-only JVM regexp_count — no shuffle, no Python; at 100 TB this
    is a single scan-side pass."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = lambda pat: F.regexp_count(F.col("text"), F.lit(pat)).cast("long")  # noqa: E731
    return docs.select(
        "doc_id",
        cnt(_PII_EMAIL).alias("email_cnt"),
        cnt(_PII_IPV4).alias("ipv4_cnt"),
        cnt(_PII_PHONE).alias("phone_cnt"),
        (
            (cnt(_PII_EMAIL) > 0) | (cnt(_PII_IPV4) > 0) | (cnt(_PII_PHONE) > 0)
        ).alias("has_pii"),
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (C4 / RefinedWeb curation staple):
# drop lines that recur across many documents (nav bars, cookie
# banners, footers) while keeping each document's unique content.
# ---------------------------------------------------------------------------

BOILERPLATE_MIN_DOCS = 3


def boilerplate_line_filter(lines: DataFrame, min_docs: int = BOILERPLATE_MIN_DOCS) -> DataFrame:
    """Filter a ``(doc_id, pos, line)`` relation: any line occurring in
    ``>= min_docs`` distinct documents is boilerplate; reassemble each
    doc from its kept lines in original order.

    Scale shape (100 TB lens): one explode-side shuffle on ``line`` for
    the distinct-doc frequency (two-phase partial aggregation), a
    broadcast left join of the (small — only lines above the threshold)
    boilerplate set back onto the lines, and one shuffle on ``doc_id``
    to reassemble. Nothing is all-pairs; the boilerplate set is
    dimension-sized by construction (bounded by corpus-wide repeated
    lines, not corpus size).
    """
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(F.broadcast(boiler), "line", "left").withColumn(
        "is_boiler", F.coalesce(F.col("is_boiler"), F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("is_boiler"), F.struct(F.col("pos"), F.col("line"))
    )
    return flagged.groupBy("doc_id").agg(
        F.sum(F.when(~F.col("is_boiler"), 1).otherwise(0))
        .cast("long")
        .alias("kept_lines"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("long")
        .alias("dropped_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
            ),
            " ",
        ).alias("clean_text"),
    )


@query(
    "text_boilerplate_lines",
    oracle=f"""
    WITH lines AS (
      SELECT doc_id, CAST((s - 1) // 10 AS INT) AS pos,
             array_to_string(string_split(text, ' ')[s:s+9], ' ') AS line
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1, 10)) AS s)
    ),
    boiler AS (
      SELECT line FROM lines GROUP BY line
      HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
    ),
    flagged AS (
      SELECT l.doc_id, l.pos, l.line, b.line IS NOT NULL AS is_boiler
      FROM lines l LEFT JOIN boiler b USING (line)
    )
    SELECT doc_id,
           CAST(COUNT(*) FILTER (WHERE NOT is_boiler) AS BIGINT) AS kept_lines,
           CAST(COUNT(*) FILTER (WHERE is_boiler) AS BIGINT)     AS dropped_lines,
           COALESCE(string_agg(line, ' ' ORDER BY pos)
                    FILTER (WHERE NOT is_boiler), '')             AS clean_text
    FROM flagged GROUP BY doc_id
    """,
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line-frequency boilerplate removal.

    The synthetic corpus stores each document as a single line of
    space-separated tokens (no ``\\n``), so the registered query uses a
    deterministic 10-token chunking as its line segmentation — the
    natural-corpus stand-in for newline splitting (at sf0.01, 15 chunks
    recur across >= 3 docs, so the drop path is exercised). Real
    newline-delimited input goes through the same
    ``boilerplate_line_filter`` with ``split(text, '\\n')`` lines
    (tests/test_queries_smoke.py crafts that case).
    """
    docs = load_table(spark, sf_dir, "documents")
    # tk materialized before the transform (split-in-lambda re-evaluates
    # per element — see text_bigram_lm_score)
    lines = docs.select("doc_id", _tokens().alias("tk")).select(
        "doc_id",
        F.expr(
            "inline(transform(sequence(1, size(tk), 10),"
            " s -> struct(CAST((s - 1) DIV 10 AS INT) AS pos,"
            " array_join(slice(tk, s, 10), ' ') AS line)))"
        ),
    )
    return boilerplate_line_filter(lines)


# ---------------------------------------------------------------------------
# Gopher-style rule filter + vocabulary coverage — the remaining two
# staples of a text-curation pass: hard rule gates with per-rule
# diagnostics, and the corpus token-frequency index that tokenizer /
# coverage decisions read.
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "and", "of", "to", "a", "in", "that", "with"]


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS token_cnt,
             ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                   / LEN(string_split(text, ' ')), 6) AS mean_word_len,
             ROUND(CAST(LEN(list_filter(string_split(text, ' '),
                        x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
                   / LEN(string_split(text, ' ')), 6) AS alpha_frac,
             CAST(LEN(list_intersect(list_distinct(string_split(text, ' ')),
                  {_STOPWORDS!r})) AS BIGINT) AS stop_hits
      FROM documents
    )
    SELECT doc_id, token_cnt, mean_word_len, alpha_frac, stop_hits,
           (token_cnt BETWEEN 40 AND 5000
            AND mean_word_len BETWEEN 3 AND 8
            AND alpha_frac >= 0.9
            AND stop_hits >= 1) AS keep
    FROM t
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard rule gate (word-count window, mean-word-length
    window, alphabetic-word fraction, stopword presence) with per-rule
    signals kept as diagnostics — the shape of the Rae et al. 2021
    quality rules, thresholds adapted to this corpus (40 <= tokens <=
    5000 splits it ~2:1). Pure map-side column expressions: one pruned
    scan, no shuffle, no Python — at 100 TB this runs at scan speed.
    The repetition rule of the same paper is text_repetition_score."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    token_cnt = F.size(toks).cast("long")
    mean_word_len = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "))).cast("double") / F.size(toks),
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda x: x.rlike("^[a-z]+$"))).cast("double")
        / F.size(toks),
        6,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in _STOPWORDS])
        )
    ).cast("long")
    out = docs.select(
        "doc_id",
        token_cnt.alias("token_cnt"),
        mean_word_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
    )
    keep = (
        F.col("token_cnt").between(40, 5000)
        & F.col("mean_word_len").between(3, 8)
        & (F.col("alpha_frac") >= 0.9)
        & (F.col("stop_hits") >= 1)
    )
    return out.withColumn("keep", keep)


@query(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (SELECT t.tok FROM documents,
                 UNNEST(string_split(text, ' ')) AS t(tok)),
    cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS s FROM cnt)
    SELECT tok,
           CAST(ROW_NUMBER() OVER w AS INT) AS rank, cnt,
           ROUND(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / (SELECT s FROM tot), 6) AS cum_share
    FROM cnt WINDOW w AS (ORDER BY cnt DESC, tok)
    ORDER BY rank LIMIT 50
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency index: top-50 tokens by count with
    cumulative corpus coverage — what tokenizer-vocabulary and
    coverage-threshold decisions read. One shuffle on token for the
    counts (two-phase partial agg); the global rank + cumulative
    share over the AGGREGATED vocab relation — which on a web-scale
    corpus with noisy tokens is 10^8+ rows, too big for a
    single-partition window — is the two-pass range-partitioned
    prefix sum (operators/prefix.py): global row number and running
    count both come from pid-local windows plus constant-size
    partition-total offsets, and the corpus-total token count rides
    the same totals relation. Ties order by (count DESC, token) for
    a total deterministic order; the final top-50 is a TakeOrdered,
    not a sort."""
    from free_etl_spark.operators.prefix import ordered_prefix

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(_tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pre = ordered_prefix(
        cnt,
        [F.desc("cnt"), F.col("tok")],
        cache_tag="vocab_coverage",
        sums={"__cum": "cnt"},
        rn="__rank",
        grand={"__s": "cnt"},
    )
    return (
        pre.select(
            "tok",
            F.col("__rank").cast("int").alias("rank"),
            "cnt",
            F.round(
                F.col("__cum").cast("double") / F.col("__s").cast("double"), 6
            ).alias("cum_share"),
        )
        .orderBy("rank")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Lexical-diversity, intra-document dedup, and corpus-LM surprisal —
# round-5 additions to the curation suite.
# ---------------------------------------------------------------------------


@query(
    "text_entropy_ttr",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT)          AS token_cnt,
           CAST(COUNT(*) AS BIGINT)        AS type_cnt,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
           ROUND((LN(CAST(SUM(c) AS DOUBLE))
                  - SUM(c * LN(CAST(c AS DOUBLE))) / SUM(c)) / LN(2), 6)
                                           AS word_entropy
    FROM freq GROUP BY doc_id
    """,
)
def text_entropy_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals: type-token ratio and Shannon
    word entropy per document (low-entropy docs are template/spam-like
    — a standard curation gate alongside the Gopher rules). Entropy
    uses the one-pass identity H = log2(N) - (1/N)·Σ c·log2(c), so a
    single explode → (doc_id, token) count → per-doc merge computes
    it: two partial-aggregated shuffles keyed by doc_id, no Python, no
    per-doc vocabulary materialized. Scales linearly in corpus tokens."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    return freq.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("token_cnt"),
        F.count(F.lit(1)).cast("long").alias("type_cnt"),
        F.round(F.count(F.lit(1)).cast("double") / n, 6).alias("ttr"),
        F.round(
            (F.log(n) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n)
            / F.log(F.lit(2.0)),
            6,
        ).alias("word_entropy"),
    )


_PARA_W = 3  # chunk width; see text_dedup_paragraphs docstring


@query(
    "text_dedup_paragraphs",
    oracle=f"""
    WITH lines AS (
      SELECT doc_id, CAST((s - 1) // {_PARA_W} AS INT) AS pos,
             array_to_string(string_split(text, ' ')[s:s+{_PARA_W - 1}], ' ') AS line
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1,
                                        {_PARA_W})) AS s)
    ),
    ranked AS (
      SELECT doc_id, pos, line,
             ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
      FROM lines
    )
    SELECT doc_id,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS kept_chunks,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS dropped_chunks,
           COALESCE(string_agg(line, ' ' ORDER BY pos)
                    FILTER (WHERE rn = 1), '')             AS clean_text
    FROM ranked GROUP BY doc_id
    """,
)
def text_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-paragraph removal (keep the first
    occurrence, drop later repeats, reassemble in order) — the
    within-doc complement of the cross-doc text_boilerplate_lines
    filter (C4 does both). As there, the single-line synthetic corpus
    stands in paragraphs with deterministic 3-token chunks (at sf0.01,
    3 chunks recur within a doc, so the drop path is exercised); real
    newline input segments with split(text, '\\n\\n') through the same
    relational core. One window (first-occurrence rank over doc-local
    chunks, partitioned by doc_id+chunk so state is per-document) +
    one per-doc aggregation; the ordered reassembly is a
    collect_list/array_sort over each doc's own chunks — bounded by
    document size, never corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # tk materialized before the transform (split-in-lambda re-evaluates
    # per element — see text_bigram_lm_score)
    lines = docs.select("doc_id", _tokens().alias("tk")).select(
        "doc_id",
        F.expr(
            f"inline(transform(sequence(1, size(tk), {_PARA_W}),"
            f" s -> struct(CAST((s - 1) DIV {_PARA_W} AS INT) AS pos,"
            f" array_join(slice(tk, s, {_PARA_W}), ' ') AS line)))"
        ),
    )
    return paragraph_dedup_filter(lines)


def paragraph_dedup_filter(lines: DataFrame) -> DataFrame:
    """Core of text_dedup_paragraphs over a generic (doc_id, pos,
    line) relation — real newline-delimited corpora feed it
    ``posexplode(split(text, '\\n\\n'))`` segments (tested in
    tests/test_queries_smoke.py), the registered query feeds token
    chunks. Keeps each document's first occurrence of every line,
    reassembles in position order."""
    rn = F.row_number().over(
        Window.partitionBy("doc_id", "line").orderBy("pos")
    )
    ranked = lines.select("doc_id", "pos", "line", rn.alias("rn"))
    keep = F.col("rn") == 1
    kept_struct = F.when(keep, F.struct("pos", "line"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.when(keep, F.lit(1))).cast("long").alias("kept_chunks"),
        F.count(F.when(~keep, F.lit(1))).cast("long").alias("dropped_chunks"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x["line"]
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    lm AS (
      SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ),
    tot AS (SELECT SUM(c) AS n FROM lm)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS token_cnt,
           ROUND(-AVG(LN(CAST(lm.c AS DOUBLE) / tot.n)) / LN(2), 6)
                                    AS mean_surprisal_bits
    FROM tok t JOIN lm ON t.tok = lm.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram-LM surprisal per document (mean -log2 p(w), the
    CCNet/KenLM-perplexity quality signal reduced to its unigram
    form): one corpus pass builds the LM (token → count, two-phase
    partial agg), the per-doc score then joins each token against the
    LM. The LM is vocabulary-sized — a dimension table — so the join
    is BROADCAST (map-side); the only corpus-sized shuffle is the
    final per-doc aggregation. Every token stays JVM-side; at 100 TB
    the LM for a real vocab (~1e6 rows) still broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("tok"))
    lm = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = lm.agg(F.sum("c").cast("double").alias("n"))
    return (
        tok.join(F.broadcast(lm), "tok")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("token_cnt"),
            F.round(
                -F.avg(F.log(F.col("c").cast("double") / F.col("n")))
                / F.log(F.lit(2.0)),
                6,
            ).alias("mean_surprisal_bits"),
        )
    )


# fixed, md5-free literal weights for the linear quality model — a
# stand-in for trained fastText/logreg coefficients; the shape (dense
# features -> dot -> sigmoid) is what matters, and both engines replay
# the same literals.
_QC_W = {
    "bias": -2.0,
    "log_tokens": 0.55,
    "mean_word_len": 0.35,
    "alpha_frac": 1.2,
    "stop_hit": 0.8,
    "ttr": -0.6,
}


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             LN(CAST(LEN(string_split(text, ' ')) AS DOUBLE)) AS log_tokens,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / LEN(string_split(text, ' ')) AS mean_word_len,
             CAST(LEN(list_filter(string_split(text, ' '),
                  x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
               / LEN(string_split(text, ' ')) AS alpha_frac,
             CASE WHEN LEN(list_intersect(list_distinct(string_split(text, ' ')),
                  {_STOPWORDS!r})) > 0 THEN 1.0 ELSE 0.0 END AS stop_hit,
             CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / LEN(string_split(text, ' ')) AS ttr
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             {_QC_W['bias']!r} + {_QC_W['log_tokens']!r} * log_tokens
             + {_QC_W['mean_word_len']!r} * mean_word_len
             + {_QC_W['alpha_frac']!r} * alpha_frac
             + {_QC_W['stop_hit']!r} * stop_hit
             + {_QC_W['ttr']!r} * ttr AS z
      FROM t
    )
    SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS quality_prob,
           (1.0 / (1.0 + EXP(-z)) >= 0.5) AS keep
    FROM z
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter — the third standard curation
    archetype next to hard rules (text_gopher_rules) and LM surprisal
    (text_unigram_logprob): a linear classifier over cheap lexical
    features with a sigmoid score and a 0.5 keep gate, the shape of
    the fastText/logreg quality models used by LLaMA/CCNet-style
    pipelines (here with fixed literal weights — training the weights
    is out of scope, serving them is the engine's job). Pure map-side
    column arithmetic: one pruned scan, no shuffle, no Python — at
    100 TB this runs at scan speed, and swapping in trained weights
    is a literal change."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n = F.size(toks).cast("double")
    feats = {
        "log_tokens": F.log(n),
        "mean_word_len": F.length(F.replace(F.col("text"), F.lit(" "))).cast(
            "double"
        )
        / n,
        "alpha_frac": F.size(
            F.filter(toks, lambda x: x.rlike("^[a-z]+$"))
        ).cast("double")
        / n,
        "stop_hit": F.when(
            F.size(
                F.array_intersect(
                    F.array_distinct(toks),
                    F.array(*[F.lit(w) for w in _STOPWORDS]),
                )
            )
            > 0,
            1.0,
        ).otherwise(0.0),
        "ttr": F.size(F.array_distinct(toks)).cast("double") / n,
    }
    z = F.lit(_QC_W["bias"])
    for name, col in feats.items():
        z = z + F.lit(_QC_W[name]) * col
    prob = 1.0 / (1.0 + F.exp(-z))
    return docs.select(
        "doc_id",
        F.round(prob, 6).alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


@query(
    "sample_importance_weights",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    corpus AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    ctot AS (SELECT SUM(c) AS n FROM corpus),
    target AS (SELECT tok, COUNT(*) AS c FROM tok WHERE lang = 'en'
               GROUP BY tok),
    ttot AS (SELECT SUM(c) AS n FROM target)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS token_cnt,
           ROUND(SUM(LN((COALESCE(tg.c, 0) + 1.0)
                        / (ttot.n + (SELECT COUNT(*) FROM corpus)))
                     - LN((co.c + 1.0)
                          / (ctot.n + (SELECT COUNT(*) FROM corpus))))
                 / COUNT(*), 6) AS log_ratio_per_token
    FROM tok t
    JOIN corpus co ON t.tok = co.tok
    LEFT JOIN target tg ON t.tok = tg.tok
    CROSS JOIN ctot CROSS JOIN ttot
    GROUP BY t.doc_id
    """,
)
def sample_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): per-token
    log-ratio of an add-one-smoothed target-domain unigram LM (here:
    the lang='en' slice) against the whole-corpus LM, averaged per
    document — documents whose token distribution resembles the
    target get high weights and are upsampled for training. Both LMs
    are vocabulary-sized aggregates (two passes over the exploded
    tokens, both broadcast into the scoring join); the per-doc
    aggregation is the only corpus-sized shuffle — identical scale
    shape to text_unigram_logprob, just with two LMs."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(_tokens()).alias("tok"))
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    target = (
        tok.filter(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    vocab = corpus.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("c").cast("double").alias("cn"),
    )
    ttot = target.agg(F.sum("tc").cast("double").alias("tn"))
    scored = (
        tok.join(F.broadcast(corpus), "tok")
        .join(F.broadcast(target), "tok", "left")
        .join(F.broadcast(vocab))
        .join(F.broadcast(ttot))
        .select(
            "doc_id",
            (
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                    / (F.col("tn") + F.col("v"))
                )
                - F.log((F.col("c") + 1.0) / (F.col("cn") + F.col("v")))
            ).alias("lr"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("token_cnt"),
        F.round(F.sum("lr") / F.count(F.lit(1)), 6).alias("log_ratio_per_token"),
    )


@query(
    "text_bigram_lm_score",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(tk))) AS i)
      WHERE len(tk) >= 2
    ),
    lm2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    lm1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
      FROM (SELECT unnest(tk) AS tok FROM t)
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS bigram_cnt,
           ROUND(-SUM(LN((lm2.c2 + 1.0) / (lm1.c1 + vocab.v)))
                 / COUNT(*) / LN(2), 6) AS mean_surprisal_bits
    FROM bg b
    JOIN lm2 USING (w1, w2)
    JOIN lm1 USING (w1)
    CROSS JOIN vocab
    GROUP BY b.doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM conditional surprisal per document — the
    n-gram step up from text_unigram_logprob toward the KenLM
    perplexity filter of CCNet: score each bigram with the add-one-
    smoothed conditional p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+|V|)
    trained on the corpus itself, and report mean -log2 p per doc
    (low = fluent/templated, high = noisy). One explode pass builds
    the bigram relation; the two LM tables are aggregates of it
    (two-phase partial agg). c(w1·) and |V| are vocabulary-sized and
    broadcast; the (w1,w2) bigram table is vocabulary²-bounded but
    Zipf-concentrated — left to AQE, which broadcasts it while it
    fits and falls back to a shuffled hash join beyond that, so the
    plan survives a real web-scale vocabulary. The only corpus-sized
    shuffle is the final per-doc aggregation. Docs with < 2 tokens
    have no bigrams and are excluded on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array BEFORE the transform: split() written
    # inline in the lambda re-evaluates per element — O(tokens^2) per
    # doc, measured 10x slower at sf0.1
    bg = (
        docs.select("doc_id", _tokens().alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.expr(
                "inline(transform(sequence(1, size(tk) - 1),"
                " i -> struct(element_at(tk, i) AS w1,"
                " element_at(tk, i + 1) AS w2)))"
            ),
        )
    )
    lm2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    lm1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(_tokens()).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    ln2 = F.log(F.lit(2.0))
    return (
        bg.join(lm2, ["w1", "w2"])
        .join(F.broadcast(lm1), "w1")
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bigram_cnt"),
            F.round(
                -F.sum(F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))))
                / F.count(F.lit(1))
                / ln2,
                6,
            ).alias("mean_surprisal_bits"),
        )
    )


_CODE_KW = (
    r"\b(def|class|return|import|function|var|const|void|int|"
    r"public|static|print|if|else|for|while|end)\b"
)


@query(
    "text_code_detection",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS n,
             CAST(LENGTH(text) - LENGTH(regexp_replace(text,
                  '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS sym_cnt,
             CAST(LEN(regexp_extract_all(text, '[{{}}();=\\[\\]]'))
                  AS BIGINT) AS punct_code_cnt,
             CAST(LEN(regexp_extract_all(text, '{_CODE_KW}'))
                  AS BIGINT) AS kw_cnt
      FROM documents
    )
    SELECT doc_id, sym_cnt, punct_code_cnt, kw_cnt,
           FLOOR(CAST(sym_cnt AS DOUBLE) / GREATEST(n, 1) * 1e6) / 1e6
             AS sym_frac,
           (punct_code_cnt >= 5 OR
            (kw_cnt >= 3 AND
             FLOOR(CAST(sym_cnt AS DOUBLE) / GREATEST(n, 1) * 1e6) / 1e6
               >= 0.02)) AS is_code
    FROM t
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the curation gate that routes
    source-code documents to a separate pipeline (or drops them from
    a prose corpus): symbol density outside [a-z0-9 ], code
    punctuation counts ({{}}();=[]), and code-keyword hits, combined
    into a rule the same shape as the fastText code detectors
    (thresholds adapted to this lowercase corpus). Pure map-side
    regexp counting over one pruned scan — no shuffle, no Python;
    at 100 TB this runs at scan speed. Patterns stay in the
    Java-regex ∩ RE2 common subset (same discipline as
    text_pii_scan) so the oracle replays the matcher; the symbol
    fraction is floor-truncated, never rounded, because doc lengths
    exceed the 15625-denominator bound where ROUND stays safe."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("long")
    sym_cnt = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    ).cast("long")
    punct_cnt = F.regexp_count("text", F.lit(r"[{}();=\[\]]")).cast("long")
    kw_cnt = F.regexp_count("text", F.lit(_CODE_KW)).cast("long")
    sym_frac = F.floor(
        sym_cnt.cast("double") / F.greatest(n, F.lit(1)) * 1e6
    ) / 1e6
    return docs.select(
        "doc_id",
        sym_cnt.alias("sym_cnt"),
        punct_cnt.alias("punct_code_cnt"),
        kw_cnt.alias("kw_cnt"),
        sym_frac.alias("sym_frac"),
        (
            (punct_cnt >= 5) | ((kw_cnt >= 3) & (sym_frac >= 0.02))
        ).alias("is_code"),
    )


_BM25_TERMS = ("the", "data", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "text_bm25_search",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
    stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                     COUNT(*) AS n FROM dl),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
           WHERE term IN ('the', 'data', 'scan') GROUP BY doc_id, term),
    idf AS (SELECT term,
                   LN(1 + (stats.n - COUNT(DISTINCT doc_id) + 0.5)
                          / (COUNT(DISTINCT doc_id) + 0.5)) AS idf
            FROM tok CROSS JOIN stats
            WHERE term IN ('the', 'data', 'scan')
            GROUP BY term, stats.n),
    scored AS (
      SELECT tf.doc_id,
             ROUND(SUM(idf.idf * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * dl.dl / stats.avgdl))), 6) AS bm25,
             CAST(COUNT(*) AS BIGINT) AS n_hit_terms
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25, n_hit_terms FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the corpus (the retrieval scorer a
    training-data pipeline uses for targeted subset mining and
    RAG-style eval-set construction): Okapi BM25 with k1=1.2, b=0.75
    for a fixed 3-term query, top-20 documents. Plan shape at 100 TB:
    one explode→filter pass computes tf restricted to the QUERY terms
    (the filter reaches the exploded generator — tf state is
    |hit docs|×|terms|, never |corpus vocab|), df/idf is a 3-row
    broadcast, doc lengths ride a map-side projection, and the final
    top-20 is a TakeOrdered, no global sort. All BM25 inputs are
    integers so both engines build identical doubles; the summed
    score is rounded to 6dp BEFORE ordering (tie-break doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = list(_BM25_TERMS)
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    hit = tok.filter(F.col("term").isin(terms))
    dl = docs.select("doc_id", F.size(_tokens()).cast("long").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
    )
    tf = hit.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    idf = (
        hit.join(F.broadcast(stats))
        .groupBy("term", "n")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "term",
            F.log(
                1
                + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    k1, b = _BM25_K1, _BM25_B
    contrib = (
        F.col("idf")
        * F.col("tf")
        * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        )
    )
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(20)


@query(
    "text_source_reputation",
    oracle="""
    WITH per_doc AS (
      SELECT source, n_chars,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS toks,
             CAST(n_chars < 100 AS INT) AS is_short
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           FLOOR(CAST(SUM(is_short) AS DOUBLE) / COUNT(*) * 1e6) / 1e6
             AS short_frac,
           (CAST(SUM(is_short) AS DOUBLE) / COUNT(*) > 0.5
            OR CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) < 120) AS flagged
    FROM per_doc GROUP BY source
    """,
)
def text_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/domain-level reputation rollup — the RefinedWeb-style
    curation stage that filters by PROVENANCE before looking at
    individual documents (a domain whose output is mostly short junk
    is dropped wholesale, far cheaper than per-doc classification):
    per-source doc counts, mean length, short-document fraction, and
    a keep/drop flag. One partial-aggregated shuffle on source
    (|domains| rows out); means use sum-over-count (integer grid),
    the fraction floor-truncates (power-of-two denominators), and the
    flag compares the same doubles both engines derived from integer
    sums — no raw-FP boundary anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    short = F.sum((F.col("n_chars") < 100).cast("int"))
    avg_chars = F.sum("n_chars").cast("double") / n
    short_frac_exact = short.cast("double") / n
    return docs.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        avg_chars.alias("avg_chars"),
        (F.floor(short_frac_exact * 1e6) / 1e6).alias("short_frac"),
        ((short_frac_exact > 0.5) | (avg_chars < 120)).alias("flagged"),
    )


@query(
    "text_quality_percentile_cut",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(LENGTH(text) AS DOUBLE) AS chars,
             CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS toks,
             CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE) AS uniq
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang,
             ROUND(0.4 * LEAST(1.0, toks / 80.0)
                 + 0.3 * (uniq / toks)
                 + 0.3 * LEAST(1.0, chars / 400.0), 6) AS quality_score
      FROM t
    ),
    r AS (
      SELECT lang, quality_score,
             ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM s
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           MIN(quality_score) AS min_score,
           MAX(quality_score) AS max_score
    FROM r WHERE rn * 10 <= n * 3
    GROUP BY lang
    """,
)
def text_quality_percentile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global quantile-threshold quality cut — 'keep the best 30% of
    the corpus by score' (the FineWeb/DCLM selection step where the
    budget, not an absolute threshold, decides the cut). The global
    rank comes from operators/prefix.ordered_prefix (range partition +
    pid-local windows + triangular offset join), so NO single-task
    window touches the corpus-sized relation — the oracle's
    ROW_NUMBER() OVER (ORDER BY ...) is exactly what this replaces at
    100 TB. Keep rule rn*10 <= n*3 is integer-exact floor(0.3 n) in
    both engines; the unique (score desc, doc_id) order makes the cut
    deterministic. Output per-lang kept counts with min/max score
    (order-insensitive exact aggregates)."""
    from free_etl_spark.operators.prefix import ordered_prefix

    docs = load_table(spark, sf_dir, "documents")
    chars = F.length("text").cast("double")
    toks = F.size(_tokens()).cast("double")
    uniq = F.size(F.array_distinct(_tokens())).cast("double")
    score = (
        0.4 * F.least(F.lit(1.0), toks / 80.0)
        + 0.3 * (uniq / toks)
        + 0.3 * F.least(F.lit(1.0), chars / 400.0)
    )
    scored = docs.select(
        "doc_id", "lang", F.round(score, 6).alias("quality_score")
    )
    pre = ordered_prefix(
        scored,
        [F.desc("quality_score"), F.col("doc_id")],
        cache_tag="quality_cut",
        rn="rn",
        grand={"n": F.lit(1)},
    )
    return (
        pre.filter(F.col("rn") * 10 <= F.col("n") * 3)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("quality_score").alias("min_score"),
            F.max("quality_score").alias("max_score"),
        )
    )


@query(
    "text_lang_confusion",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             {_marker_cnt_sql('the')}  AS cnt_the,
             {_marker_cnt_sql('data')} AS cnt_data,
             {_marker_cnt_sql('scan')} AS cnt_scan
      FROM documents
    ),
    pred AS (
      SELECT lang AS declared,
             CASE WHEN cnt_the >= cnt_data AND cnt_the >= cnt_scan THEN 'en'
                  WHEN cnt_data >= cnt_scan THEN 'data-heavy'
                  ELSE 'scan-heavy' END AS detected
      FROM m
    ),
    cm AS (
      SELECT declared, detected, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY declared, detected
    ),
    tot AS (SELECT declared, SUM(n_docs) AS t FROM cm GROUP BY declared)
    SELECT cm.declared, cm.detected, cm.n_docs,
           ROUND(CAST(cm.n_docs AS DOUBLE) / tot.t, 6) AS frac_of_declared
    FROM cm JOIN tot USING (declared)
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the QA report
    every lang-ID gate ships with: cross-tabulate the metadata `lang`
    column against the classifier's output (text_lang_id's marker
    argmax) with per-declared-language fractions, surfacing both
    mislabeled metadata and classifier drift. One aggregate over the
    map-side classification plus a (languages × classes)-bounded
    join — the matrix is dimension-sized regardless of corpus volume.
    The fraction divides two counts per cell; denominators are
    per-language doc counts (safe under the ROUND(int-ratio)
    convention at these magnitudes only because n_docs/t is a ratio
    of ints with denominator < 15625 at every SF the gate runs)."""
    docs = load_table(spark, sf_dir, "documents")
    cnt_the = _marker_cnt("the")
    cnt_data = _marker_cnt("data")
    cnt_scan = _marker_cnt("scan")
    detected = (
        F.when((cnt_the >= cnt_data) & (cnt_the >= cnt_scan), F.lit("en"))
        .when(cnt_data >= cnt_scan, F.lit("data-heavy"))
        .otherwise(F.lit("scan-heavy"))
    )
    cm = (
        docs.select(F.col("lang").alias("declared"), detected.alias("detected"))
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = cm.groupBy("declared").agg(F.sum("n_docs").alias("t"))
    return cm.join(F.broadcast(tot), "declared").select(
        "declared",
        "detected",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.col("t"), 6).alias(
            "frac_of_declared"
        ),
    )


_CHUNK_TOKS = 64
_CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    st AS (
      SELECT doc_id, tk, g.s,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY g.s) - 1
               AS chunk_id
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(tk), {_CHUNK_STRIDE})) AS s
      ) g
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(s AS INT) AS start_tok,
           CAST(LEAST({_CHUNK_TOKS}, len(tk) - s + 1) AS INT) AS n_toks,
           md5(array_to_string(tk[s : s + {_CHUNK_TOKS - 1}], ' '))
             AS chunk_fp
    FROM st
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap — the preprocessing step
    that turns long documents into trainable/embeddable windows:
    {_CHUNK_TOKS}-token chunks every {_CHUNK_STRIDE} tokens (16-token
    overlap preserves cross-boundary context). Emits chunk metadata +
    content fingerprint rather than duplicated text (at 100 TB the
    chunk table would multiply storage; downstream readers re-slice
    from the doc store by (start_tok, n_toks)). MAP-ONLY: the token
    array is materialized once per doc and chunk starts come from one
    sequence() — no shuffle, no re-evaluation of split() inside the
    lambda (the O(tokens²) trap documented in the verify notes)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    starts = F.sequence(
        F.lit(1), F.size("tk"), F.lit(_CHUNK_STRIDE)
    )
    chunk = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("int").alias("chunk_id"),
            s.cast("int").alias("start_tok"),
            F.least(F.lit(_CHUNK_TOKS), F.size("tk") - s + 1)
            .cast("int")
            .alias("n_toks"),
            F.md5(
                F.concat_ws(" ", F.slice("tk", s, _CHUNK_TOKS)).cast("binary")
            ).alias("chunk_fp"),
        ),
    )
    return docs.select("doc_id", F.explode(chunk).alias("c")).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.n_toks").alias("n_toks"),
        F.col("c.chunk_fp").alias("chunk_fp"),
    )


_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    uni AS (
      SELECT u.tok AS term, CAST(COUNT(*) AS BIGINT) AS c
      FROM t, UNNEST(tk) AS u(tok) GROUP BY u.tok
    ),
    nuni AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT tk[g.i] AS term_a, tk[g.i + 1] AS term_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g
      GROUP BY 1, 2
    ),
    nbi AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS m FROM bi)
    SELECT b.term_a, b.term_b, b.c_ab,
           ROUND(LN((CAST(b.c_ab AS DOUBLE) * n.n * n.n)
                    / (CAST(nb.m AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
    FROM bi b
    JOIN uni ua ON b.term_a = ua.term
    JOIN uni ub ON b.term_b = ub.term
    CROSS JOIN nuni n CROSS JOIN nbi nb
    WHERE b.c_ab >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, b.term_a, b.term_b LIMIT {_PMI_TOPK}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: bigrams
    whose co-occurrence beats the independence expectation, PMI =
    ln(p(ab) / (p(a) p(b))) with a count floor of {_PMI_MIN_COUNT}
    (rare pairs have unreliable PMI — the standard floor). Surfaces
    multi-word expressions worth protecting from tokenization /
    shuffling in a training pipeline. One unigram aggregate + one
    bigram aggregate (token array materialized BEFORE the index
    lambda), two term-keyed joins to attach marginals, TakeOrdered
    top-{_PMI_TOPK}; every PMI input is an integer count so both
    engines build identical doubles."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    uni = (
        docs.select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nuni = uni.agg(F.sum("c").cast("long").alias("n"))
    bigram = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.struct(
            F.element_at("tk", i).alias("term_a"),
            F.element_at("tk", i + 1).alias("term_b"),
        ),
    )
    bi = (
        docs.filter(F.size("tk") >= 2)
        .select(F.explode(bigram).alias("b"))
        .groupBy(
            F.col("b.term_a").alias("term_a"),
            F.col("b.term_b").alias("term_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    nbi = bi.agg(F.sum("c_ab").cast("long").alias("m"))
    ua = uni.select(F.col("term").alias("term_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("term_b"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("n") * F.col("n"))
            / (F.col("m").cast("double") * F.col("c_a") * F.col("c_b"))
        ),
        6,
    )
    return (
        bi.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(ua, "term_a")
        .join(ub, "term_b")
        .join(F.broadcast(nuni))
        .join(F.broadcast(nbi))
        .select("term_a", "term_b", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(_PMI_TOPK)
    )


@query(
    "text_feature_hashing",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      FROM documents
    ),
    bucketed AS (
      SELECT doc_id, tk,
             CAST(('0x' || substr(md5(tk), 1, 4))::UBIGINT AS INT) % 64
               AS bucket
      FROM tok WHERE tk <> ''
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tk) AS BIGINT) AS n_distinct_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM bucketed GROUP BY bucket
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): tokens
    map straight to one of 64 feature buckets via the md5 16-bit
    hash — no vocabulary build, no fit step, which is exactly why
    the trick is the scale answer for bag-of-words features (the
    vocabulary relation never exists; a 100 TB corpus featurizes in
    one map pass). Output is the bucket occupancy audit you check
    before picking the dimensionality: token mass, distinct tokens
    (collision pressure) and document reach per bucket. One explode
    + one groupBy on a 64-value key (hash-uniform, skew-free by
    construction)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tk")
    ).filter(F.col("tk") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tk")), 1, 4), 16, 10).cast("int")
        % 64
    )
    return tok.select("doc_id", "tk", bucket.alias("bucket")).groupBy(
        "bucket"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("tk").cast("long").alias("n_distinct_tokens"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


@query(
    "text_readability_flesch",
    oracle="""
    WITH counts AS (
      SELECT doc_id,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(GREATEST(1, LEN(list_filter(
                    regexp_split_to_array(text, '[^.!?]+'),
                    x -> x <> ''))) AS BIGINT) AS n_sentences,
             CAST(LEN(list_filter(
                    regexp_split_to_array(lower(text), '[^aeiouy]+'),
                    x -> x <> '')) AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
             AS flesch
    FROM counts WHERE n_words > 0
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: 206.835 - 1.015*(words/
    sentences) - 84.6*(syllables/words), with syllables approximated
    by vowel-group count (the standard dictionary-free heuristic)
    and sentences by [.!?]-run count (clamped to 1 for fragments).
    A pure map-side projection — three regex splits per row, no
    shuffle at all, so it rides along any scan at 100 TB. Output is
    per-document (ints + one rounded double): averaging across docs
    would put an order-dependent FP sum on the oracle boundary,
    per-row arithmetic is bit-identical in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("long")
    sent_groups = F.size(
        F.filter(F.split(F.col("text"), "[^.!?]+"), lambda x: x != "")
    )
    n_sentences = F.greatest(F.lit(1), sent_groups).cast("long")
    n_syll = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^aeiouy]+"),
            lambda x: x != "",
        )
    ).cast("long")
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return out.withColumn(
        "flesch",
        F.round(
            206.835
            - 1.015
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - 84.6
            * (F.col("n_syllables").cast("double") / F.col("n_words")),
            4,
        ),
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE LEN(string_split(text, ' ')) >= 3
    ),
    grams AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, LEN(t) - 2),
                      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
                 AS g
        FROM tk
      )
    ),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT grams.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN first_seen.first_doc = grams.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           FLOOR(SUM(CASE WHEN first_seen.first_doc = grams.doc_id
                          THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6) / 1e6 AS novelty
    FROM grams JOIN first_seen USING (g)
    GROUP BY grams.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty: the fraction of a document's
    distinct word trigrams whose corpus-wide FIRST appearance (min
    doc_id) is the document itself — the curve data engineers read
    to see where a crawl stops contributing new content (novelty
    collapsing toward 0 = the corpus is re-crawling itself). First
    occurrence is attributed with one gram-keyed min-aggregate then
    a gram join back — never a cross-doc comparison. The token
    array is materialized BEFORE the trigram lambda (interpreted
    HOFs have no CSE — re-splitting inside the lambda is O(tokens²)
    per doc). Ties on doc_id give the earliest doc novelty credit,
    deterministically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3)
    gram = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("t") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("t"), i),
                F.element_at(F.col("t"), i + 1),
                F.element_at(F.col("t"), i + 2),
            ),
        )
    )
    grams = tk.select("doc_id", gram.alias("g")).distinct()
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(first_seen, "g")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        novel.cast("long").alias("n_novel"),
        (
            F.floor(novel / F.count(F.lit(1)).cast("double") * 1e6) / 1e6
        ).alias("novelty"),
    )


@query(
    "text_kl_divergence",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      FROM documents
    ),
    tokc AS (
      SELECT doc_id, tk, CAST(COUNT(*) AS DOUBLE) AS n
      FROM tok WHERE tk <> '' GROUP BY doc_id, tk
    ),
    doc_tot AS (SELECT doc_id, SUM(n) AS dn FROM tokc GROUP BY doc_id),
    corp AS (SELECT tk, SUM(n) AS cn FROM tokc GROUP BY tk),
    corp_tot AS (SELECT SUM(cn) AS ct FROM corp),
    kl AS (
      SELECT tokc.doc_id,
             SUM((tokc.n / doc_tot.dn)
                 * ln((tokc.n / doc_tot.dn)
                      / (corp.cn / corp_tot.ct))) AS kl
      FROM tokc
      JOIN doc_tot ON doc_tot.doc_id = tokc.doc_id
      JOIN corp ON corp.tk = tokc.tk
      CROSS JOIN corp_tot
      GROUP BY tokc.doc_id
    )
    SELECT doc_id, FLOOR(kl * 1e6) / 1e6 AS kl_divergence
    FROM kl ORDER BY kl DESC, doc_id LIMIT 50
    """,
)
def text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional outlier scan: KL(doc || corpus) of each
    document's unigram distribution against the corpus-wide one —
    the top-50 most divergent documents are the machine-generated /
    off-domain / wrong-language candidates a curation pass reviews
    (complements text_quality_classifier's surface features with an
    information-theoretic score). Every probability is a ratio of
    integer counts (identical doubles in both engines); the corpus
    distribution never exceeds the vocabulary relation and joins
    back token-keyed; top-50 is TakeOrdered with doc_id tie-break,
    FLOOR-6 before the cut is NOT applied to the sort key (exact kl
    sorts, the rounding is display-only)."""
    docs = load_table(spark, sf_dir, "documents")
    tokc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tk"))
        .filter(F.col("tk") != "")
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    doc_tot = tokc.groupBy("doc_id").agg(F.sum("n").alias("dn"))
    corp = tokc.groupBy("tk").agg(F.sum("n").alias("cn"))
    corp_tot = corp.agg(F.sum("cn").alias("ct"))
    kl = (
        tokc.join(doc_tot, "doc_id")
        .join(corp, "tk")
        .join(F.broadcast(corp_tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                (F.col("n") / F.col("dn"))
                * F.log(
                    (F.col("n") / F.col("dn"))
                    / (F.col("cn") / F.col("ct"))
                )
            ).alias("kl")
        )
    )
    return (
        kl.orderBy(F.col("kl").desc(), "doc_id")
        .limit(50)
        .select(
            "doc_id", (F.floor(F.col("kl") * 1e6) / 1e6).alias("kl_divergence")
        )
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    vocab AS (
      SELECT tk, CAST(COUNT(*) AS DOUBLE) AS freq
      FROM tok WHERE tk <> '' GROUP BY tk
    ),
    top AS (
      SELECT tk, freq FROM vocab ORDER BY freq DESC, tk LIMIT 1000
    ),
    xy AS (
      SELECT ln(ROW_NUMBER() OVER (ORDER BY freq DESC, tk)) AS x,
             ln(freq) AS y
      FROM top
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM xy
    )
    SELECT n,
           FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e4) / 1e4
             AS slope,
           FLOOR((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e4)
             / 1e4 AS r2
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the token frequency distribution: OLS of
    ln(freq) on ln(rank) over the top-1000 tokens — slope near -1 is
    the signature of natural language, far from it flags synthetic /
    templated / scraped-garbage corpora (a corpus-level quality
    signal, complementing the per-doc scores). The corpus collapses
    to the vocabulary relation in one shuffle; top-1000 is a
    TakeOrdered (freq desc, token tie-break) and the rank window runs
    over that CONSTANT 1000-row relation — bounded, never
    corpus-scale. FLOOR-4 absorbs the cross-engine last-ulp drift of
    the 1000-term FP sums (same tolerance as agg_regression's
    ROUND-4)."""
    docs = load_table(spark, sf_dir, "documents")
    top = (
        docs.select(F.explode(F.split("text", " ")).alias("tk"))
        .filter(F.col("tk") != "")
        .groupBy("tk")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
        .orderBy(F.col("freq").desc(), "tk")
        .limit(1000)
    )
    w = Window.orderBy(F.col("freq").desc(), "tk")
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log("freq").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n",
        (F.floor(num / den * 1e4) / 1e4).alias("slope"),
        (F.floor(num * num / (den * deny) * 1e4) / 1e4).alias("r2"),
    )


@query(
    "text_ocr_garbage",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                  AS BIGINT) AS n_sym,
             CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
                  AS BIGINT) AS n_vowel,
             CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                  AS BIGINT) AS n_alpha,
             CAST(COALESCE(list_max(list_transform(
                    regexp_extract_all(lower(text),
                      '[bcdfghjklmnpqrstvwxz]+'), s -> length(s))), 0)
                  AS BIGINT) AS max_cons_run
      FROM documents WHERE length(text) > 0
    ),
    sc AS (
      SELECT doc_id, n, max_cons_run,
             FLOOR(CAST(n_sym AS DOUBLE) / n * 1e6) / 1e6 AS sym_ratio,
             FLOOR(CASE WHEN n_alpha = 0 THEN 1.0
                        ELSE CAST(n_alpha - n_vowel AS DOUBLE) / n_alpha
                   END * 1e6) / 1e6 AS cons_ratio,
             CAST(2 * n_sym + (n_alpha - 2 * n_vowel)
                  + 5 * CASE WHEN max_cons_run >= 5 THEN 1 ELSE 0 END
                  AS BIGINT) AS garbage_points
      FROM f
    )
    SELECT doc_id, n, sym_ratio, cons_ratio, max_cons_run,
           garbage_points
    FROM sc ORDER BY garbage_points DESC, doc_id LIMIT 20
    """,
)
def text_ocr_garbage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR/mojibake-garbage detection: surface statistics that
    separate real prose from scanner noise — symbol ratio (chars
    outside [A-Za-z0-9 ]), consonant share of letters, and the
    longest all-consonant run (OCR confusions like 'rn->m' pile up
    unpronounceable clusters). The composite garbage_points is pure
    integer arithmetic (2*symbols + consonant surplus + long-run
    flag), so the ranking has NO FP boundary anywhere; displayed
    ratios are exact single divisions FLOOR-6ed. Map-only scan +
    TakeOrdered top-20 — scales as a linear pass."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    low = F.lower(F.col("text"))
    n = F.length("text").cast("long")
    n_sym = F.length(
        F.regexp_replace("text", "[A-Za-z0-9 ]", "")
    ).cast("long")
    n_vowel = F.length(F.regexp_replace(low, "[^aeiou]", "")).cast("long")
    n_alpha = F.length(F.regexp_replace(low, "[^a-z]", "")).cast("long")
    runs = F.regexp_extract_all(low, F.lit("[bcdfghjklmnpqrstvwxz]+"), 0)
    max_run = F.coalesce(
        F.array_max(F.transform(runs, lambda s: F.length(s))), F.lit(0)
    ).cast("long")
    f = docs.select(
        "doc_id",
        n.alias("n"),
        n_sym.alias("n_sym"),
        n_vowel.alias("n_vowel"),
        n_alpha.alias("n_alpha"),
        max_run.alias("max_cons_run"),
    )
    pts = (
        2 * F.col("n_sym")
        + (F.col("n_alpha") - 2 * F.col("n_vowel"))
        + 5 * F.when(F.col("max_cons_run") >= 5, 1).otherwise(0)
    ).cast("long")
    sc = f.select(
        "doc_id",
        "n",
        (F.floor(F.col("n_sym").cast("double") / F.col("n") * 1e6) / 1e6)
        .alias("sym_ratio"),
        (
            F.floor(
                F.when(F.col("n_alpha") == 0, F.lit(1.0))
                .otherwise(
                    (F.col("n_alpha") - F.col("n_vowel")).cast("double")
                    / F.col("n_alpha")
                )
                * 1e6
            )
            / 1e6
        ).alias("cons_ratio"),
        "max_cons_run",
        pts.alias("garbage_points"),
    )
    return sc.orderBy(F.col("garbage_points").desc(), "doc_id").limit(20)


_SFT_SYSTEM = "You are a helpful assistant."
_SFT_BUDGET = 256  # token budget for the user turn


@query(
    "text_chat_template_pack",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents
    ),
    fmt AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             len(toks) > {_SFT_BUDGET} AS truncated,
             '<|system|>' || chr(10) || '{_SFT_SYSTEM}' || chr(10)
               || '<|user|>' || chr(10)
               || array_to_string(toks[1:{_SFT_BUDGET}], ' ') || chr(10)
               || '<|assistant|>' || chr(10) AS prompt
      FROM tok
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN truncated THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(SUM(LEAST(n_tokens, {_SFT_BUDGET})) AS BIGINT)
             AS total_kept_tokens,
           CAST(SUM(length(prompt)) AS BIGINT) AS total_prompt_chars,
           min(md5(prompt)) AS min_prompt_md5
    FROM fmt GROUP BY lang
    """,
)
def text_chat_template_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template formatting: wrap each document as a user
    turn inside a fixed system/user/assistant special-token template,
    truncating the user turn to a {_SFT_BUDGET}-token budget — the
    instruction-tuning data-prep step between curation and training.
    The per-lang report carries doc/truncation counts, kept-token
    totals, and the MIN md5 of the rendered prompts — a value-level
    pin that the BYTES of the template (separators, newlines,
    truncation boundary) are identical, not just the counts.
    Map-only string assembly; one tiny grouped aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    base = docs.select("doc_id", "lang", toks.alias("toks"))
    prompt = F.concat(
        F.lit("<|system|>\n" + _SFT_SYSTEM + "\n<|user|>\n"),
        F.array_join(F.slice("toks", 1, _SFT_BUDGET), " "),
        F.lit("\n<|assistant|>\n"),
    )
    fmt = base.select(
        "lang",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") > _SFT_BUDGET).alias("truncated"),
        prompt.alias("prompt"),
    )
    return fmt.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("truncated"), 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.sum(F.least(F.col("n_tokens"), F.lit(_SFT_BUDGET)))
        .cast("long")
        .alias("total_kept_tokens"),
        F.sum(F.length("prompt")).cast("long").alias("total_prompt_chars"),
        F.min(F.md5("prompt")).alias("min_prompt_md5"),
    )


_PII_PLANT_SQL = (
    "CASE WHEN doc_id % 20 = 0 THEN text || ' contact user' || doc_id"
    " || '@example.com or 555-' || (100 + doc_id % 900) || '-'"
    " || (1000 + doc_id % 9000) ELSE text END"
)


@query(
    "text_pii_redact",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, {_PII_PLANT_SQL} AS text FROM documents
    ),
    red AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS orig_len,
             CAST(LEN(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{{2,6}}'))
               AS BIGINT) AS n_emails,
             CAST(LEN(regexp_extract_all(text,
               '[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}')) AS BIGINT) AS n_phones,
             regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{{2,6}}',
               '[EMAIL]', 'g'),
               '[0-9]{{3}}-[0-9]{{3}}-[0-9]{{4}}', '[PHONE]', 'g')
               AS redacted
      FROM planted
    )
    SELECT doc_id, orig_len, n_emails, n_phones,
           CAST(length(redacted) AS BIGINT) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM red WHERE n_emails + n_phones > 0
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (the action text_pii_scan only counts): replace
    email and phone spans with typed placeholders, emitting per-doc
    span counts, length delta, and the md5 of the redacted text — a
    byte-level pin that both engines rewrote the SAME spans the same
    way. Because the natural corpus contains no PII, ~5% of docs get
    a deterministic doc_id-derived email+phone APPENDED before
    redaction (same planting pattern as the phash duplicate plant),
    so the replace path is exercised on real positive rows. Patterns
    stay in the Java/RE2-identical regex subset. Map-only."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-"),
                (100 + F.col("doc_id") % 900).cast("string"),
                F.lit("-"),
                (1000 + F.col("doc_id") % 9000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,6}"
    phone = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
    red = planted.select(
        "doc_id",
        F.length("text").cast("long").alias("orig_len"),
        F.regexp_count("text", F.lit(email)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(phone)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", email, "[EMAIL]"), phone, "[PHONE]"
        ).alias("redacted"),
    )
    return red.filter(F.col("n_emails") + F.col("n_phones") > 0).select(
        "doc_id",
        "orig_len",
        "n_emails",
        "n_phones",
        F.length("redacted").cast("long").alias("redacted_len"),
        F.md5("redacted").alias("redacted_md5"),
    )


@query(
    "text_negative_sampling",
    oracle="""
    WITH vocab AS (
      SELECT tk, pow(CAST(COUNT(*) AS DOUBLE), 0.75) AS w
      FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)
      WHERE tk <> '' GROUP BY tk
    ),
    cum AS (
      SELECT tk, w,
             SUM(w) OVER (ORDER BY tk ROWS UNBOUNDED PRECEDING) AS hi,
             SUM(w) OVER (ORDER BY tk ROWS UNBOUNDED PRECEDING) - w
               AS lo
      FROM vocab
    ),
    tot AS (SELECT SUM(w) AS z FROM vocab),
    draws AS (
      SELECT i,
             (('0x' || substr(md5('neg|' || i), 1, 8))::BIGINT
              / 4294967296.0) AS u
      FROM (SELECT unnest(generate_series(0, 999)) AS i)
    ),
    hits AS (
      SELECT d.i, c.tk
      FROM draws d CROSS JOIN tot
      JOIN cum c ON d.u * tot.z >= c.lo AND d.u * tot.z < c.hi
    )
    SELECT tk AS token, CAST(COUNT(*) AS BIGINT) AS n_drawn
    FROM hits GROUP BY tk
    ORDER BY n_drawn DESC, tk LIMIT 30
    """,
)
def text_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative sampling: draw 1000 tokens from the
    unigram^0.75 distribution (the Mikolov smoothing that up-weights
    rare words) by INVERSE-CDF lookup — cumulative weights over the
    vocabulary via the distributed prefix sum, deterministic
    md5-uniforms, and a range join mapping each draw into its
    [lo, hi) cumulative interval. This is the alias-table-free way
    to sample from a corpus-sized categorical distribution without
    collecting it to the driver; the draw relation is constant-size
    and broadcasts onto the interval relation. The prefix runs
    through operators/prefix.ordered_prefix (no single-task window);
    cumulative bounds are sums of deterministic pow() doubles, so
    interval edges are engine-identical and each draw lands in
    exactly one interval."""
    from free_etl_spark.operators.prefix import ordered_prefix

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tk"))
        .filter(F.col("tk") != "")
        .groupBy("tk")
        .agg(F.pow(F.count(F.lit(1)).cast("double"), 0.75).alias("w"))
    )
    cum = ordered_prefix(
        vocab,
        [F.col("tk")],
        cache_tag="negsample_vocab",
        sums={"hi": "w"},
        grand={"z": "w"},
    ).withColumn("lo", F.col("hi") - F.col("w"))
    draws = spark.range(1000).select(
        F.col("id").alias("i"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("neg|"), F.col("id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            / 4294967296.0
        ).alias("u"),
    )
    hits = cum.join(
        F.broadcast(draws),
        (F.col("u") * F.col("z") >= F.col("lo"))
        & (F.col("u") * F.col("z") < F.col("hi")),
    )
    return (
        hits.groupBy(F.col("tk").alias("token"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_drawn"))
        .orderBy(F.col("n_drawn").desc(), "token")
        .limit(30)
    )


@query(
    "text_bpe_merge_candidates",
    oracle="""
    WITH words AS (
      SELECT lower(tk) AS w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)
      WHERE tk <> '' AND regexp_matches(tk, '^[A-Za-z]+$')
      GROUP BY lower(tk)
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, SUM(freq) AS n
      FROM words
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, length(w) - 1)) AS i
      ) g
      GROUP BY substr(w, i, 2)
    )
    SELECT pair, CAST(n AS BIGINT) AS n
    FROM pairs ORDER BY n DESC, pair LIMIT 20
    """,
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIRST merge round of BPE tokenizer training: collapse the
    corpus to the word-frequency relation (the step that makes BPE
    training tractable — pair counts weight by word frequency, never
    rescanning raw text), enumerate adjacent symbol pairs per word,
    and rank the top-20 merge candidates — exactly the aggregate a
    distributed tokenizer trainer (GPT-2/SentencePiece lineage) runs
    per merge iteration; subsequent rounds replay this with the
    winning pair fused (the driver loop carries only the merge
    table). Word-keyed vocabulary relation is the only shuffle; pair
    enumeration explodes bounded by word length; top-20 is
    TakeOrdered. All integer counts."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tk"))
        .filter(
            (F.col("tk") != "") & F.col("tk").rlike("^[A-Za-z]+$")
        )
        .groupBy(F.lower(F.col("tk")).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.substring(F.col("w"), i, F.lit(2)),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
    )
    return pairs.orderBy(F.col("n").desc(), "pair").limit(20)


def _bpe_rounds_cte(rounds: int) -> str:
    """The shared WITH-chain for the BPE oracles: one (pairs, argmax,
    merge-apply) CTE block per round, exactly the pinned-round unroll
    pattern graph_kcore uses for its peels. The merge-apply is a left
    fold over the spaced symbol string (list_reduce), byte-identical
    to the Spark-side F.aggregate fold: merge (la, lb) when the
    accumulator's LAST symbol equals la and the next symbol is lb —
    the same greedy left-to-right semantics as the classic regex-sub
    BPE reference implementation. ``w{rounds}`` is the fully-merged
    vocabulary relation; ``b1..b{rounds}`` are the learned merges."""
    sql = [
        r"""
    WITH w0 AS (
      SELECT trim(regexp_replace(lower(tk), '(.)', '\1 ', 'g')) AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)
      WHERE tk <> '' AND regexp_matches(tk, '^[A-Za-z]+$')
      GROUP BY lower(tk)
    )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        sql.append(f"""
    , p{r} AS (
      SELECT l[i] AS la, l[i+1] AS lb, CAST(SUM(freq) AS BIGINT) AS n
      FROM (SELECT string_split(s, ' ') AS l, freq FROM w{p})
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, len(l) - 1)) AS i
      ) g
      GROUP BY 1, 2
    ), b{r} AS (
      SELECT la, lb, n FROM p{r} ORDER BY n DESC, la, lb LIMIT 1
    ), w{r} AS (
      SELECT list_reduce(string_split(s, ' '),
        (acc, x) -> CASE
          WHEN (acc = la OR acc LIKE '% ' || la) AND x = lb
          THEN left(acc, length(acc) - length(la)) || la || lb
          ELSE acc || ' ' || x END) AS s, freq
      FROM w{p} CROSS JOIN b{r}
    )""")
    return "".join(sql)


def _bpe_train_oracle(rounds: int) -> str:
    """Unrolled DuckDB oracle for ``text_bpe_train_rounds``: the
    shared round chain + the merge-table union."""
    sel = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, la AS lhs, lb AS rhs, la || lb AS merged, n"
        f" FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return (
        _bpe_rounds_cte(rounds) + f"\n    SELECT * FROM ({sel}) ORDER BY round"
    )


def _bpe_encode_oracle(rounds: int) -> str:
    """Unrolled DuckDB oracle for ``text_bpe_encode``: the shared
    round chain + corpus-compression aggregates over the fully-merged
    vocabulary ``w{rounds}``. The compression ratio is ONE IEEE
    division of two exactly-computed integers — engine-deterministic
    without rounding."""
    return (
        _bpe_rounds_cte(rounds)
        + f"""
    SELECT CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(length(replace(s, ' ', '')) * freq) AS BIGINT)
             AS tokens_char_level,
           CAST(SUM(len(string_split(s, ' ')) * freq) AS BIGINT)
             AS tokens_after_merges,
           CAST(SUM(len(string_split(s, ' ')) * freq) AS DOUBLE)
             / CAST(SUM(length(replace(s, ' ', '')) * freq) AS DOUBLE)
             AS compression_ratio
    FROM w{rounds}"""
    )


_BPE_TRAIN_ROUNDS = 6


def _bpe_fit(
    spark: SparkSession, sf_dir: str, rounds: int
) -> tuple[list[tuple], DataFrame]:
    """Session-cached BPE trainer: returns (merge table rows, fully-merged
    vocabulary relation), fitted once per (session, corpus, rounds)
    while documents.parquet is unchanged. THREE queries consume the
    identical fit (trainer, encoder, per-lang fertility) and each fit
    costs ~1.8 s of iterative folds at sf0.1; the vocab relation is an
    eager localCheckpoint, so reuse across queries is safe and leaks
    LESS than re-fitting."""
    fit = lambda: _bpe_fit_impl(spark, sf_dir, rounds)  # noqa: E731
    return cache.memo(spark, sf_dir, f"bpe_fit_r{rounds}", fit)


def _bpe_fit_impl(
    spark: SparkSession, sf_dir: str, rounds: int
) -> tuple[list[tuple], DataFrame]:
    """Run the iterative BPE trainer: returns (merge table rows,
    fully-merged vocabulary relation). Shared by the trainer query
    (which returns the merges) and the encoder query (which consumes
    the merged vocabulary). See text_bpe_train_rounds for the scale
    rationale."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tk"))
        .filter((F.col("tk") != "") & F.col("tk").rlike("^[A-Za-z]+$"))
        .groupBy(F.lower(F.col("tk")).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("s"), "freq"
        )
    )
    cur = words.localCheckpoint(eager=True)
    merges: list[tuple] = []
    for r in range(1, rounds + 1):
        pairs = (
            cur.select(F.split("s", " ").alias("l"), "freq")
            .filter(F.size("l") >= 2)  # sequence(1,0) would DESCEND
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("l") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("l"), i).alias("la"),
                            F.element_at(F.col("l"), i + F.lit(1)).alias(
                                "lb"
                            ),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.la").alias("la"), F.col("p.lb").alias("lb"))
            .agg(F.sum("freq").cast("long").alias("n"))
        )
        best = pairs.orderBy(F.col("n").desc(), "la", "lb").first()
        if best is None:  # degenerate corpus: nothing left to merge
            break
        la, lb, n = best["la"], best["lb"], best["n"]
        merges.append((r, la, lb, la + lb, n))
        prev = cur
        cur = cur.select(
            F.aggregate(
                F.split("s", " "),
                F.lit(""),
                lambda acc, x: F.when(acc == F.lit(""), x)
                .when(
                    ((acc == F.lit(la)) | acc.endswith(" " + la))
                    & (x == F.lit(lb)),
                    F.concat(
                        F.substring(
                            acc, F.lit(1), F.length(acc) - len(la)
                        ),
                        F.lit(la + lb),
                    ),
                )
                .otherwise(F.concat(acc, F.lit(" "), x)),
            ).alias("s"),
            "freq",
        ).localCheckpoint(eager=True)
        # the new checkpoint fully supersedes the previous round's —
        # release its blocks NOW instead of orphaning one generation
        # per round until driver GC (ADVICE r10)
        cache.release(prev)
    return merges, cur


@query("text_bpe_train_rounds", oracle=_bpe_train_oracle(_BPE_TRAIN_ROUNDS))
def text_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTUAL BPE trainer loop (completing the round-1 statistics
    of text_bpe_merge_candidates): for 6 pinned rounds, count adjacent
    symbol pairs weighted by word frequency, pick the argmax pair
    (count desc, pair asc tie-break), fuse it everywhere, and recount
    — the GPT-2/SentencePiece training recipe on the collapsed
    word-frequency relation. Returns the learned merge table
    (round, lhs, rhs, merged, n); by round 6 a multi-character symbol
    participates, proving real iteration rather than round-1 stats.

    Scale shape: per round, one map-side fold over the vocabulary
    relation (never the corpus — the word-frequency collapse is what
    makes distributed BPE training tractable) plus one pair-keyed
    shuffle for the counts. The per-round argmax is a single-row
    TakeOrdered fetched to the driver — the canonical iterative-
    algorithm coordination (kmeans centroids, pagerank convergence),
    NOT a data collect: driver state is 6 merge rows total at any
    corpus size. localCheckpoint truncates lineage per round exactly
    like graph_kcore's peels. The merge-apply fold references the
    pre-materialized symbol array column, so no expression re-inlines
    into the HOF lambda (the projection-collapse re-evaluation trap).
    Symbols are alphabetic-only by the word filter, so fold string
    surgery needs no escaping on either engine."""
    merges, _ = _bpe_fit(spark, sf_dir, _BPE_TRAIN_ROUNDS)
    return spark.createDataFrame(
        merges, "round int, lhs string, rhs string, merged string, n long"
    )


@query("text_bpe_encode", oracle=_bpe_encode_oracle(_BPE_TRAIN_ROUNDS))
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The natural CONSUMER of the learned BPE merge table
    (VERDICT r8 task #7): tokenize the corpus with the 6 learned
    merges and report the compression they buy — corpus word count,
    char-level token count (the r0 baseline: every letter is a
    token), token count after the merges, and the compression ratio.
    This is the tokenizer-design feedback number (tokens-per-byte)
    every LLM data pipeline tracks when choosing a vocabulary.

    Scale shape: training is _bpe_fit (per-round vocabulary fold +
    pair-keyed shuffle, bounded driver state — see
    text_bpe_train_rounds); encoding costs nothing extra because the
    trainer's merge-apply fold already materialized the fully-merged
    vocabulary relation — the corpus-level numbers are ONE aggregate
    over it, weighted by word frequency (never a rescan of raw text).
    The compression ratio is a single IEEE division of two exact
    integers — engine-deterministic, no rounding needed."""
    _, vocab = _bpe_fit(spark, sf_dir, _BPE_TRAIN_ROUNDS)
    toks = F.size(F.split("s", " ")).cast("long")
    chars = F.length(F.translate("s", " ", "")).cast("long")
    return vocab.agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.sum(chars * F.col("freq")).cast("long").alias("tokens_char_level"),
        F.sum(toks * F.col("freq")).cast("long").alias("tokens_after_merges"),
        (
            F.sum(toks * F.col("freq")).cast("double")
            / F.sum(chars * F.col("freq")).cast("double")
        ).alias("compression_ratio"),
    )


def _bpe_fertility_oracle(rounds: int) -> str:
    """Unrolled DuckDB oracle for ``text_bpe_fertility_by_lang``: the
    shared round chain + per-language word counts joined back to the
    fully-merged vocabulary on the de-spaced symbol string (the
    merged string's letters concatenated ARE the original word)."""
    return (
        _bpe_rounds_cte(rounds)
        + f"""
    , wl AS (
      SELECT lang, lower(tk) AS w, CAST(COUNT(*) AS BIGINT) AS freq_l
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS tk
            FROM documents)
      WHERE tk <> '' AND regexp_matches(tk, '^[A-Za-z]+$')
      GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(freq_l) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(v.s, ' ')) * freq_l) AS BIGINT)
             AS n_tokens,
           CAST(SUM(length(replace(v.s, ' ', '')) * freq_l) AS BIGINT)
             AS n_chars,
           CAST(SUM(len(string_split(v.s, ' ')) * freq_l) AS DOUBLE)
             / SUM(freq_l) AS fertility,
           CAST(SUM(length(replace(v.s, ' ', '')) * freq_l) AS DOUBLE)
             / SUM(len(string_split(v.s, ' ')) * freq_l)
             AS chars_per_token
    FROM wl JOIN w{rounds} v ON replace(v.s, ' ', '') = wl.w
    GROUP BY lang
    ORDER BY lang"""
    )


@query(
    "text_bpe_fertility_by_lang",
    oracle=_bpe_fertility_oracle(_BPE_TRAIN_ROUNDS),
)
def text_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit by language — the multilingual-mix
    health check every shared-vocabulary LLM pipeline runs: apply the
    corpus-trained BPE merges and report tokens-per-word (fertility)
    and chars-per-token per declared language. A language whose
    fertility is far above the corpus-dominant one is being
    over-segmented by the shared vocabulary (its text costs more
    tokens per word), the classic signal to rebalance the training
    mix or grow the vocab.

    Scale shape: training is the shared _bpe_fit (vocabulary-relation
    folds, bounded driver state); the per-language pass joins the
    per-(lang, word) frequency relation to the merged vocabulary on
    the de-spaced symbol string — word-keyed equi-join, aggregate-
    sized output. Fertility and chars_per_token are single IEEE
    divisions of exact integers — engine-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    wl = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tk"))
        .filter((F.col("tk") != "") & F.col("tk").rlike("^[A-Za-z]+$"))
        .groupBy("lang", F.lower(F.col("tk")).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq_l"))
    )
    _, vocab = _bpe_fit(spark, sf_dir, _BPE_TRAIN_ROUNDS)
    v = vocab.select(
        F.translate("s", " ", "").alias("w"),
        F.size(F.split("s", " ")).cast("long").alias("toks"),
        F.length(F.translate("s", " ", "")).cast("long").alias("chars"),
    )
    j = wl.join(v, "w")
    return (
        j.groupBy("lang")
        .agg(
            F.sum("freq_l").cast("long").alias("n_words"),
            F.sum(F.col("toks") * F.col("freq_l"))
            .cast("long")
            .alias("n_tokens"),
            F.sum(F.col("chars") * F.col("freq_l"))
            .cast("long")
            .alias("n_chars"),
            (
                F.sum(F.col("toks") * F.col("freq_l")).cast("double")
                / F.sum("freq_l")
            ).alias("fertility"),
            (
                F.sum(F.col("chars") * F.col("freq_l")).cast("double")
                / F.sum(F.col("toks") * F.col("freq_l"))
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )
