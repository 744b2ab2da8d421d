"""Deterministic sampling operators (training-data pipeline staple:
hold-out splits, stratified subsets, reproducible downsampling).

``df.sample(seed=)`` is only reproducible for a fixed partitioning, so
at 100 TB (where file splits shift) these use **hash sampling**: a row
is in the sample iff a stable content hash of its key lands under the
rate threshold. Fully deterministic across engines, partitionings and
reruns — which is also what makes a DuckDB value-level oracle possible
(both engines compute the identical md5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from free_etl_spark import cache
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table

# md5 of the decimal doc_id string; first 4 hex chars → 16 bits
_BUCKETS = 1 << 16


def _hash16(col):
    return F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 4), 16, 10).cast("int")


_H16_SQL = "CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 4))::UBIGINT AS INT)"


@query(
    "sample_hash_bernoulli",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_H16_SQL.format(c="doc_id")} < CAST(FLOOR(0.10 * 65536) AS INT)
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% Bernoulli sample by key hash: stable under repartitioning,
    file-split changes and reruns (unlike seed-based sample())."""
    docs = load_table(spark, sf_dir, "documents")
    thresh = int(0.10 * _BUCKETS)
    return docs.filter(_hash16(F.col("doc_id")) < thresh).select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "sample_stratified_topn",
    oracle=f"""
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {_H16_SQL.format(c="doc_id")}, doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 20
    """,
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-quota sample: exactly 20 docs per source,
    chosen by hash order (deterministic pseudo-random, no global
    sort). The per-stratum top-N is a window + filter — one shuffle
    on the stratum key."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(_hash16(F.col("doc_id")), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("source", "doc_id")
    )


@query(
    "data_mix_report",
    oracle="""
    WITH m AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6) AS token_share
    FROM m
    """,
)
def data_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report: documents and whitespace tokens per
    (lang, source) cell plus each cell's share of total tokens — the
    numbers a data-mixture weighting decision reads. One pruned scan
    with map-side partial aggregation; the share window runs over the
    |langs|×|sources| aggregate (tiny at any corpus scale), never the
    fact table."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias("n_tokens"),
    )
    w = Window.partitionBy()
    return m.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 6).alias(
            "token_share"
        ),
    )


@query(
    "sample_train_test_split",
    oracle=f"""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM (
      SELECT CASE WHEN {_H16_SQL.format(c="doc_id")} < CAST(FLOOR(0.8 * 65536) AS INT)
                  THEN 'train' ELSE 'test' END AS split,
             n_chars
      FROM documents
    )
    GROUP BY split
    """,
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/20 train-test assignment by key hash, with
    per-split stats — the canonical dataset-split shape; rows never
    move (the label is a projection), so it composes with any
    downstream partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        _hash16(F.col("doc_id")) < int(0.8 * _BUCKETS), F.lit("train")
    ).otherwise(F.lit("test"))
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # sum-over-count: integer n_chars puts ROUND(AVG) on
            # engine-divergent boundaries (see tpch_q1 note)
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "avg_chars"
            ),
        )
    )


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, n_chars,
             ROUND(LN(({_H16_SQL.format(c="doc_id")} + 1.0) / 65537.0)
                   / n_chars, 9) AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, priority
    FROM (SELECT doc_id, n_chars, priority,
                 ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
          FROM pri)
    WHERE rn <= 50
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    priority sampling): key = ln(u)/w with u hash-derived — longer
    documents are proportionally likelier to be drawn, yet the draw is
    fully deterministic and engine-independent. Top-k by priority is a
    single ORDER BY ... LIMIT (Spark's TakeOrdered: per-partition
    heaps, no global sort). Priorities round to 9 dp with doc_id
    tie-breaks so cross-engine libm ULP differences can't reorder."""
    docs = load_table(spark, sf_dir, "documents")
    u = (_hash16(F.col("doc_id")) + 1.0) / 65537.0
    pri = F.round(F.log(u) / F.col("n_chars"), 9)
    return (
        docs.select("doc_id", "n_chars", pri.alias("priority"))
        .orderBy(F.col("priority").desc(), F.col("doc_id"))
        .limit(50)
    )


@query(
    "sample_lang_mix",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    p AS (
      SELECT lang, n_lang,
             LEAST(1.0, (SELECT COUNT(*) FROM documents) * 1.0
                        / ((SELECT COUNT(*) FROM c) * n_lang)) AS rate
      FROM c
    ),
    s AS (
      SELECT d.lang, COUNT(*) AS sampled_cnt
      FROM documents d JOIN p USING (lang)
      WHERE {_H16_SQL.format(c="d.doc_id")} < CAST(FLOOR(rate * 65536) AS INT)
      GROUP BY d.lang
    )
    SELECT p.lang,
           CAST(p.n_lang AS BIGINT) AS n_lang,
           FLOOR(p.rate * 1000000) / 1000000 AS rate,
           CAST(COALESCE(s.sampled_cnt, 0) AS BIGINT) AS sampled_cnt
    FROM p LEFT JOIN s USING (lang)
    """,
)
def sample_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing sampler — the mixture-reweighting step
    a pretraining pipeline runs to hit a target composition (uniform
    across languages here; the corpus is ~40% en, so the dominant
    language genuinely downsamples at every SF): each language's
    acceptance rate is min(1, target_share·total/n_lang), applied as a
    deterministic hash-Bernoulli so the same corpus always yields the
    same sample. Two passes: a tiny per-language count aggregate
    (|langs| rows — windowed totals, then broadcast back onto the
    corpus scan), and a single filtered pass over the docs. At 100 TB the rate table is
    dimension-sized and the sample pass is map-side only — no shuffle
    of the corpus itself. The FP pipeline (one multiply, one divide,
    explicit FLOOR before the int threshold — engines disagree on
    double→int CAST rounding) is replayed exactly by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    w = Window.partitionBy()
    rates = counts.select(
        "lang",
        "n_lang",
        F.least(
            F.lit(1.0),
            (F.sum("n_lang").over(w) * 1.0)
            / (F.count(F.lit(1)).over(w) * F.col("n_lang")),
        ).alias("rate"),
    )
    thresh = F.floor(F.col("rate") * _BUCKETS).cast("int")
    sampled = (
        docs.join(F.broadcast(rates), "lang")
        .filter(_hash16(F.col("doc_id")) < thresh)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("sampled_cnt"))
    )
    return (
        rates.join(sampled, "lang", "left")
        .select(
            "lang",
            F.col("n_lang").cast("long").alias("n_lang"),
            (F.floor(F.col("rate") * 1000000) / 1000000).alias("rate"),
            F.coalesce(F.col("sampled_cnt"), F.lit(0)).cast("long").alias("sampled_cnt"),
        )
    )


@query(
    "sample_budget_selection",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(string_split(text, ' ')) AS BIGINT) AS toks,
             0.4 * LEAST(1.0, LEN(string_split(text, ' ')) / 80.0)
             + 0.3 * (CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
                      / LEN(string_split(text, ' ')))
             + 0.3 * LEAST(1.0, LENGTH(text) / 400.0) AS score
      FROM documents
    ),
    hist AS (
      SELECT CAST(FLOOR(score * 100) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS tokens
      FROM t GROUP BY 1
    ),
    c AS (
      SELECT bucket, n_docs, tokens,
             CAST(SUM(tokens) OVER (ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens,
             0.3 * SUM(tokens) OVER () AS budget
      FROM hist
    )
    SELECT bucket, n_docs, tokens, cum_tokens,
           (cum_tokens - tokens < budget) AS selected
    FROM c
    """,
)
def sample_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection WITHOUT a global sort: rank docs by
    a quality score and keep the best until a 30%-of-corpus token
    budget. The naive formulation (ORDER BY score, running sum, cut)
    is a single-partition sort of the CORPUS — dead at 100 TB. This
    runs the scalable shape instead: quantize scores into 101 buckets
    (one map pass), aggregate token counts per bucket (dimension-sized
    shuffle), cumulative-sum over the BUCKET histogram (a 101-row
    window), and mark every bucket whose preceding cumulative mass is
    under budget — the selection predicate (`score-bucket > b*`) then
    applies map-side to the corpus with at most one bucket of
    overshoot. Same two-pass threshold design approximate quantile
    selection uses."""
    docs = load_table(spark, sf_dir, "documents")
    toks_arr = F.split(F.col("text"), " ")
    toks = F.size(toks_arr).cast("long")
    score = (
        0.4 * F.least(F.lit(1.0), F.size(toks_arr) / 80.0)
        + 0.3
        * (F.size(F.array_distinct(toks_arr)).cast("double") / F.size(toks_arr))
        + 0.3 * F.least(F.lit(1.0), F.length("text") / 400.0)
    )
    t = docs.select(toks.alias("toks"), score.alias("score"))
    hist = t.groupBy(
        F.floor(F.col("score") * 100).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("tokens"),
    )
    w_cum = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    c = hist.select(
        "bucket",
        "n_docs",
        "tokens",
        F.sum("tokens").over(w_cum).cast("long").alias("cum_tokens"),
        (0.3 * F.sum("tokens").over(w_all)).alias("budget"),
    )
    return c.select(
        "bucket",
        "n_docs",
        "tokens",
        "cum_tokens",
        (F.col("cum_tokens") - F.col("tokens") < F.col("budget")).alias(
            "selected"
        ),
    )


@query(
    "sample_shard_assignment",
    oracle=f"""
    SELECT ({_H16_SQL.format(c="doc_id")}) % 64 AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY 1
    """,
)
def sample_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output sharding — the final step of a training
    pipeline: each document lands in one of 64 shards by content-hash
    (stable across repartitioning and reruns, so an interrupted write
    resumes into identical shards), and the per-shard row/byte stats
    are the balance audit a 100 TB export needs before the writer
    fans out ``partitionBy(shard_id)``. The hash-uniform assignment
    keeps shard sizes within sampling noise of equal — no global sort,
    no skewed writer."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (_hash16(F.col("doc_id")) % 64).alias("shard_id")
    return docs.groupBy(shard).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_lang) AS n FROM c),
    pw AS (
      SELECT lang, n_lang, SQRT(CAST(n_lang AS DOUBLE) / tot.n) AS w
      FROM c CROSS JOIN tot
    ),
    sh AS (
      SELECT lang, n_lang,
             w / (SELECT SUM(w) FROM pw) AS share
      FROM pw
    ),
    p AS (
      SELECT sh.lang, sh.n_lang, sh.share,
             LEAST(1.0, sh.share * tot.n / sh.n_lang) AS rate
      FROM sh CROSS JOIN tot
    ),
    s AS (
      SELECT d.lang, COUNT(*) AS sampled_cnt
      FROM documents d JOIN p USING (lang)
      WHERE {{h16}} < CAST(FLOOR(rate * 65536) AS INT)
      GROUP BY d.lang
    )
    SELECT p.lang,
           CAST(p.n_lang AS BIGINT) AS n_lang,
           FLOOR(p.share * 1000000) / 1000000 AS target_share,
           FLOOR(p.rate * 1000000) / 1000000 AS rate,
           CAST(COALESCE(s.sampled_cnt, 0) AS BIGINT) AS sampled_cnt
    FROM p LEFT JOIN s USING (lang)
    """.format(h16=_H16_SQL.format(c="d.doc_id")),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (the alpha-sampling mix
    of XLM-R / mC4-style multilingual pretraining): target share of
    language i is p_i^alpha / sum p_j^alpha with alpha = 0.5, which
    upsamples tail languages less aggressively than the uniform
    rebalance of sample_lang_mix. alpha = 0.5 is deliberately the
    SQRT exponent: IEEE sqrt is correctly rounded in both engines
    (bit-identical), where an arbitrary pow() could differ in the
    last ulp. Same scale shape as sample_lang_mix: |langs|-row rate
    table broadcast onto a map-side hash-Bernoulli filter — the
    corpus is never shuffled; the deterministic doc_id hash makes
    the sample reproducible under repartitioning and retries."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    w = Window.partitionBy()
    pw = counts.select(
        "lang",
        "n_lang",
        F.sum("n_lang").over(w).alias("n"),
        F.sqrt(F.col("n_lang").cast("double") / F.sum("n_lang").over(w)).alias(
            "pwr"
        ),
    )
    shares = pw.select(
        "lang",
        "n_lang",
        "n",
        (F.col("pwr") / F.sum("pwr").over(w)).alias("share"),
    ).withColumn(
        "rate",
        F.least(
            F.lit(1.0), F.col("share") * F.col("n") / F.col("n_lang")
        ),
    )
    thresh = F.floor(F.col("rate") * _BUCKETS).cast("int")
    sampled = (
        docs.join(F.broadcast(shares.select("lang", "rate")), "lang")
        .filter(_hash16(F.col("doc_id")) < thresh)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("sampled_cnt"))
    )
    return (
        shares.join(sampled, "lang", "left")
        .select(
            "lang",
            F.col("n_lang").cast("long").alias("n_lang"),
            (F.floor(F.col("share") * 1000000) / 1000000).alias("target_share"),
            (F.floor(F.col("rate") * 1000000) / 1000000).alias("rate"),
            F.coalesce(F.col("sampled_cnt"), F.lit(0))
            .cast("long")
            .alias("sampled_cnt"),
        )
    )


@query(
    "sample_leakage_safe_split",
    oracle=None,  # assigned below: reuses the components CTE
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/test split: the hash that assigns a document
    to a split is computed over its NEAR-DUP CLUSTER representative
    (dedup_cluster_components min-label), not the doc itself — so two
    near-duplicate documents can never land in different splits, the
    train→test leakage a doc-keyed hash split silently allows. This is
    the standard leakage guard for LLM eval sets (e.g. dedup-aware
    held-out construction). Scale: one components pass (distributed
    min-label) + a map-side hash projection; the split stats are a
    4-row aggregate. no_leakage re-derives the invariant from the
    split assignment itself: the number of distinct (component, split)
    pairs must equal the number of distinct components."""
    from free_etl_spark.queries.dedup import dedup_cluster_components

    comp = dedup_cluster_components(spark, sf_dir)  # (doc_id, component)
    split = F.when(
        _hash16(F.col("component")) < int(0.8 * _BUCKETS), F.lit("train")
    ).otherwise(F.lit("test"))
    tagged = comp.select("doc_id", "component", split.alias("split"))
    stats = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("component").cast("long").alias("n_components"),
    )
    audit = tagged.agg(
        (
            F.countDistinct("component", "split")
            == F.countDistinct("component")
        ).alias("no_leakage")
    )
    return stats.join(F.broadcast(audit))


def _leakage_split_oracle() -> str:
    # force dedup's registrations (module import order in queries/
    # __init__ puts sampling before dedup)
    import free_etl_spark.queries.dedup  # noqa: F401
    from free_etl_spark.registry import ORACLES as _ALL

    comp_sql = _ALL["dedup_cluster_components"].strip().rstrip(";")
    h = _H16_SQL.format(c="component")
    return f"""
    WITH comp AS ({comp_sql}),
    tagged AS (
      SELECT doc_id, component,
             CASE WHEN {h} < CAST(FLOOR(0.8 * 65536) AS INT)
                  THEN 'train' ELSE 'test' END AS split
      FROM comp
    ),
    audit AS (
      SELECT COUNT(DISTINCT (component, split)) = COUNT(DISTINCT component)
               AS no_leakage
      FROM tagged
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
           audit.no_leakage
    FROM tagged CROSS JOIN audit
    GROUP BY split, audit.no_leakage
    """


from free_etl_spark.registry import ORACLES as _REG_ORACLES  # noqa: E402

_REG_ORACLES["sample_leakage_safe_split"] = _leakage_split_oracle()


@query(
    "sample_curriculum_shards",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             ROUND(0.4 * LEAST(1.0, LEN(string_split(text, ' ')) / 80.0)
                 + 0.3 * (CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
                          / LEN(string_split(text, ' ')))
                 + 0.3 * LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 400.0), 6)
               AS quality
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, quality,
             CAST(NTILE(16) OVER (ORDER BY quality DESC, doc_id) AS INT)
               AS shard
      FROM q
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(MIN(quality), 6) AS min_q, ROUND(MAX(quality), 6) AS max_q
    FROM sharded GROUP BY shard
    """,
)
def sample_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered shard assignment: documents ranked by the
    (oracle-stable, 6dp-rounded) quality score, highest first, and cut
    into 16 equal shards — shard 1 is the cleanest data, the tail
    shards the noisiest, the layout a curriculum or quality-annealed
    training schedule consumes. The global NTILE over the corpus-
    sized relation uses operators/prefix.global_ntile (range-
    partitioned prefix row number + closed-form bucket), NOT a
    single-task window — same discipline as window_ntile_movavg; the
    quality expression is exactly text_quality_score's, rounded
    BEFORE ordering so both engines rank identical doubles
    ((quality DESC, doc_id) is a total order). Gate cost when run
    first in a session is session warmup, not plan cost: ~2s warm
    (range partition + pid windows + 16-row rollup)."""
    from free_etl_spark.operators.prefix import global_ntile

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    chars = F.length("text").cast("double")
    quality = F.round(
        0.4 * F.least(F.lit(1.0), F.size(toks) / F.lit(80.0))
        + 0.3
        * (F.size(F.array_distinct(toks)).cast("double") / F.size(toks))
        + 0.3 * F.least(F.lit(1.0), chars / 400.0),
        6,
    )
    scored = docs.select("doc_id", quality.alias("quality"))
    sharded = global_ntile(
        scored,
        [F.desc("quality"), F.col("doc_id")],
        16,
        "shard",
        cache_tag="curriculum_shards",
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.min("quality"), 6).alias("min_q"),
        F.round(F.max("quality"), 6).alias("max_q"),
    )


_RESERVOIR_R = 8


@query(
    "sample_reservoir_per_group",
    oracle=f"""
    WITH h AS (
      SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    r AS (
      SELECT lang, doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
      FROM h
    )
    SELECT lang, doc_id, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= {_RESERVOIR_R}
    """,
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic R-per-group uniform sample ('give me 8 random
    docs per language for eval') — hash-ordered, so stable under
    reruns, repartitioning and file splits, unlike seeded sample().

    The scale shape is the MERGEABLE two-phase top-R, not a per-group
    window: a ROW_NUMBER() OVER (PARTITION BY lang) funnels each
    language through ONE task — with a handful of languages over a
    100 TB corpus that is a guaranteed skew stall. Instead (1) each
    (lang, input-partition) cell keeps its local R smallest (hash,
    doc_id) structs — aggregate buffers bounded by rows-per-partition,
    output bounded at R rows per cell; (2) the per-cell winners
    (R x n_partitions rows per lang, corpus-size-independent) merge to
    the global R smallest. Both phases are hash aggregates with
    partial combine; order within the final array gives the rank.
    The DuckDB oracle states the same semantics with the window it can
    afford single-node."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    s = F.struct(h.alias("h"), F.col("doc_id").alias("doc_id"))
    local = (
        docs.select("lang", s.alias("s"))
        .groupBy("lang", F.spark_partition_id().alias("pid"))
        .agg(
            F.slice(
                F.array_sort(F.collect_list("s")), 1, _RESERVOIR_R
            ).alias("top")
        )
    )
    final = local.groupBy("lang").agg(
        F.slice(
            F.array_sort(F.flatten(F.collect_list("top"))), 1, _RESERVOIR_R
        ).alias("top")
    )
    return final.select(
        "lang", F.posexplode("top").alias("pos", "s")
    ).select(
        "lang",
        F.col("s.doc_id").alias("doc_id"),
        (F.col("pos") + 1).cast("int").alias("rk"),
    )


def _downweight_oracle() -> str:
    import free_etl_spark.queries.dedup  # noqa: F401
    from free_etl_spark.registry import ORACLES as _ALL

    comp_sql = _ALL["dedup_cluster_components"].strip().rstrip(";")
    return f"""
    WITH comp AS ({comp_sql}),
    sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component)
    SELECT c.doc_id, c.component, s.cluster_size,
           ROUND(1.0 / s.cluster_size, 6) AS weight
    FROM comp c JOIN sizes s USING (component)
    """


@query("sample_downweight_duplicates", oracle=_downweight_oracle())
def sample_downweight_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup by down-weighting: instead of DROPPING near-dup
    cluster members (dedup_pipeline_keep_set) every document survives
    with sampling weight 1/cluster_size, so each duplicate CLUSTER
    contributes one document's worth of probability mass to training —
    the keep-everything alternative real pipelines use when duplicates
    carry distribution signal (natural over-representation that hard
    dedup would erase). Reuses the near-dup components; the weight is
    a component-keyed aggregate joined back — one extra shuffle over
    the |docs| relation, and the weight column composes directly with
    the hash-Bernoulli samplers (accept iff h16/65536 < rate * weight)."""
    import free_etl_spark.queries.dedup as _dedup

    comp = _dedup.dedup_cluster_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        "doc_id",
        "component",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )


def sample_grouped_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 5-fold cross-validation assignment: each near-dup
    cluster (dedup_cluster_components min-label representative) is
    hashed to one of 5 folds, so near-duplicate documents always share a
    fold and no fold's held-out set leaks into another's training
    set — sample_leakage_safe_split's invariant generalized from one
    80/20 split to k rotating splits. The fold id is the md5-uniform
    16-bit hash mod 5 (engine-portable); the audit re-derives the
    no-cross-fold-cluster invariant from the assignment. Same scale
    shape as the split: one components pass + map-side hash."""
    from free_etl_spark.queries.dedup import dedup_cluster_components

    comp = dedup_cluster_components(spark, sf_dir)
    fold = (_hash16(F.col("component")) % 5).cast("int")
    tagged = comp.select("doc_id", "component", fold.alias("fold"))
    stats = tagged.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("component").cast("long").alias("n_components"),
    )
    audit = tagged.agg(
        (
            F.countDistinct("component", "fold")
            == F.countDistinct("component")
        ).alias("no_leakage")
    )
    return stats.join(F.broadcast(audit))


def _grouped_kfold_oracle() -> str:
    import free_etl_spark.queries.dedup  # noqa: F401
    from free_etl_spark.registry import ORACLES as _ALL

    comp_sql = _ALL["dedup_cluster_components"].strip().rstrip(";")
    h = _H16_SQL.format(c="component")
    return f"""
    WITH comp AS ({comp_sql}),
    tagged AS (
      SELECT doc_id, component, CAST({h} % 5 AS INT) AS fold
      FROM comp
    ),
    audit AS (
      SELECT COUNT(DISTINCT (component, fold)) = COUNT(DISTINCT component)
               AS no_leakage
      FROM tagged
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
           audit.no_leakage
    FROM tagged CROSS JOIN audit
    GROUP BY fold, audit.no_leakage
    """


from free_etl_spark.registry import query as _q_late  # noqa: E402

_q_late("sample_grouped_kfold", oracle=_grouped_kfold_oracle())(
    sample_grouped_kfold
)


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH strata AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_h,
             ROUND(stddev_samp(CAST(n_chars AS DOUBLE)), 6) AS sd_h
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_h * sd_h) AS denom FROM strata)
    SELECT source, n_h, sd_h,
           CAST(FLOOR(200.0 * n_h * sd_h / tot.denom) AS INT)
             AS alloc
    FROM strata CROSS JOIN tot
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: a 200-doc budget
    split across sources proportional to N_h * sigma_h (stratum size
    times within-stratum stddev of document length) — the design
    that minimizes estimator variance for a fixed budget, vs the
    proportional allocation sample_stratified_topn uses. One
    stratum aggregate + a broadcast denominator; the stddev is
    ROUND(6)-stabilized before the allocation arithmetic so both
    engines divide identical doubles, and the final seat count
    FLOORs (the cast-rounds gotcha)."""
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.round(F.stddev_samp(F.col("n_chars").cast("double")), 6).alias(
            "sd_h"
        ),
    )
    tot = strata.agg(F.sum(F.col("n_h") * F.col("sd_h")).alias("denom"))
    return strata.join(F.broadcast(tot)).select(
        "source",
        "n_h",
        "sd_h",
        F.floor(200.0 * F.col("n_h") * F.col("sd_h") / F.col("denom"))
        .cast("int")
        .alias("alloc"),
    )


@query(
    "sample_time_based_split",
    oracle="""
    WITH e AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ep FROM events
    ),
    cut AS (
      SELECT CAST(FLOOR(quantile_cont(ep, 0.8)) AS BIGINT) AS cut_us
      FROM e
    )
    SELECT cut.cut_us,
           CAST(SUM(CASE WHEN e.ep <= cut.cut_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN e.ep > cut.cut_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_test,
           FLOOR(SUM(CASE WHEN e.ep <= cut.cut_us THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6) / 1e6 AS train_frac
    FROM e CROSS JOIN cut
    GROUP BY cut.cut_us
    """,
)
def sample_time_based_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split: cut at the 80th percentile of event
    time — the split that respects causality (no future rows in
    train), which hash-based splits violate for forecasting tasks.
    The cutoff is one exact-percentile aggregate over epoch
    microseconds (distributed partial aggregation, FLOOR to an
    integer cut so both engines compare on the same boundary),
    broadcast back onto a single counting pass. Two shuffles total
    at any corpus size; the assignment itself is a map-side
    comparison any downstream writer applies for free."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ep")
    )
    cut = ev.agg(
        F.floor(F.percentile("ep", F.lit(0.8))).cast("long").alias("cut_us")
    )
    return (
        ev.join(F.broadcast(cut))
        .groupBy("cut_us")
        .agg(
            F.sum(F.when(F.col("ep") <= F.col("cut_us"), 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("ep") > F.col("cut_us"), 1).otherwise(0))
            .cast("long")
            .alias("n_test"),
            (
                F.floor(
                    F.sum(
                        F.when(F.col("ep") <= F.col("cut_us"), 1).otherwise(0)
                    )
                    / F.count(F.lit(1)).cast("double")
                    * 1e6
                )
                / 1e6
            ).alias("train_frac"),
        )
    )


@query(
    "sample_weighted_reservoir_es",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln(( ('0x' || substr(md5('es|' || doc_id), 1, 8))::BIGINT
                  + 1.0) / 4294967297.0)
               / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           FLOOR(es_key * 1e9) / 1e9 AS es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id LIMIT 50
    """,
)
def sample_weighted_reservoir_es(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement by the
    Efraimidis-Spirakis one-pass scheme: each item draws
    u = hash-uniform(0,1) and keeps key = u^(1/w) — equivalently
    ln(u)/w, monotone-identical and numerically safer — and the
    top-k keys ARE a weighted sample without replacement (longer
    documents proportionally likelier). The uniform comes from the
    first 8 md5 hex digits (+1 over 2^32+1, so u is never 0 or 1),
    making the draw deterministic and oracle-replayable; selection
    is a TakeOrdered top-50, one map-side pass at any corpus size —
    the distributed answer to 'sample 50 docs proportional to
    length' that needs no global sort and no driver state.
    ln + division on identical doubles is engine-deterministic;
    FLOOR-9 on display only."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    u_num = F.conv(
        F.substring(F.md5(F.concat(F.lit("es|"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("double") + 1.0
    es_key = F.log(u_num / 4294967297.0) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            es_key.alias("k"),
        )
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            "weight",
            (F.floor(F.col("k") * 1e9) / 1e9).alias("es_key"),
        )
    )


@query(
    "sample_feature_snapshot",
    oracle="""
    WITH cutoff AS (SELECT TIMESTAMP '2024-01-22 00:00:00' AS c),
    pre AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events_before,
             CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS days_active,
             date_diff('day', MAX(CAST(ts AS DATE)), DATE '2024-01-22')
               AS recency_days,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS BIGINT) AS n_purchases_before
      FROM events CROSS JOIN cutoff
      WHERE CAST(ts AS TIMESTAMP) < cutoff.c
      GROUP BY user_id
    ),
    post AS (
      SELECT DISTINCT user_id
      FROM events CROSS JOIN cutoff
      WHERE CAST(ts AS TIMESTAMP) >= cutoff.c
        AND CAST(ts AS TIMESTAMP) < cutoff.c + INTERVAL 7 DAY
        AND event_type = 'purchase'
    )
    SELECT pre.user_id, n_events_before, days_active,
           CAST(recency_days AS BIGINT) AS recency_days,
           n_purchases_before,
           pre.user_id IN (SELECT user_id FROM post) AS label_purchase_7d
    FROM pre
    """,
)
def sample_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature snapshot (the feature-store
    primitive): per user, training features computed ONLY from
    events strictly before the cutoff (activity volume, active days,
    recency, purchase count) and the label ONLY from the 7-day
    window after it — the construction that makes offline training
    match online serving and kills the silent label-leakage bug
    temporal mixing causes. One pre-cutoff grouped aggregate + one
    post-window semi-join on user_id; every feature is an integer.
    The cutoff is a fixed literal so snapshots are reproducible
    (re-runs of a feature backfill must be byte-identical)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-22 00:00:00").cast("timestamp_ntz")
    ts = F.col("ts").cast("timestamp_ntz")
    pre = (
        ev.filter(ts < cut)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events_before"),
            F.countDistinct(F.to_date("ts")).cast("long").alias("days_active"),
            F.datediff(
                F.lit("2024-01-22").cast("date"), F.max(F.to_date("ts"))
            )
            .cast("long")
            .alias("recency_days"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_purchases_before"),
        )
    )
    post = (
        ev.filter(
            (ts >= cut)
            & (ts < F.lit("2024-01-29 00:00:00").cast("timestamp_ntz"))
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("lbl", F.lit(True))
    )
    return pre.join(post, "user_id", "left").select(
        "user_id",
        "n_events_before",
        "days_active",
        "recency_days",
        "n_purchases_before",
        F.coalesce(F.col("lbl"), F.lit(False)).alias("label_purchase_7d"),
    )


@query(
    "sample_class_balance",
    oracle="""
    WITH sizes AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_before
      FROM embeddings GROUP BY label
    ),
    cap AS (SELECT MIN(n_before) AS m FROM sizes),
    ranked AS (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) AS rn
      FROM embeddings
    ),
    kept AS (
      SELECT label, vec_id FROM ranked CROSS JOIN cap WHERE rn <= cap.m
    )
    SELECT s.label, s.n_before,
           CAST(COUNT(k.vec_id) AS BIGINT) AS n_kept,
           CAST(SUM(k.vec_id) AS BIGINT) AS vec_id_checksum
    FROM sizes s JOIN kept k ON k.label = s.label
    GROUP BY s.label, s.n_before
    ORDER BY s.label
    """,
)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balanced downsampling: cap every label at
    the minority-class size, selecting survivors by md5(vec_id) order
    — the standard rebalancing step before training a classifier head
    (complements sample_temperature_mix, which SOFTENS imbalance
    rather than equalizing it). The md5 order makes the kept set a
    content-addressed pseudo-random draw both engines replay exactly;
    the per-label vec_id checksum pins set equality, not just counts.

    Scale shape: one label-keyed aggregate for class sizes, one
    scalar min (a one-row broadcast), one label-partitioned
    row_number window — the label key is low-cardinality by
    definition, so at 100 TB the window is the skew point and the
    per-label partitions are the unit of parallelism (acceptable: a
    training-set label space is bounded; for extreme rows-per-label,
    the same cap composes with a pre-filter hash sample). Integer
    outputs only."""
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    cap = sizes.agg(F.min("n_before").alias("m"))
    ranked = emb.select(
        "label",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("label").orderBy(
                F.md5(F.col("vec_id").cast("string")), "vec_id"
            )
        )
        .alias("rn"),
    )
    kept = ranked.crossJoin(F.broadcast(cap)).filter(
        F.col("rn") <= F.col("m")
    )
    return (
        sizes.join(kept, "label")
        .groupBy("label", "n_before")
        .agg(
            F.count("vec_id").cast("long").alias("n_kept"),
            F.sum("vec_id").cast("long").alias("vec_id_checksum"),
        )
        .orderBy("label")
    )


_EPOCH_CAP = 4        # max repetitions of any bucket (RpD sweet spot)
_BUDGET_MULT = 2      # token budget = 2x the corpus


@query(
    "sample_epoch_mix_schedule",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS tok_cnt,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr
      FROM documents
    ),
    b AS (
      SELECT doc_id, tok_cnt,
             NTILE(4) OVER (ORDER BY ttr DESC, doc_id) AS bucket
      FROM d
    ),
    agg AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tok_cnt) AS BIGINT) AS bucket_tokens
      FROM b GROUP BY bucket
    ),
    sched AS (
      SELECT bucket, n_docs, bucket_tokens,
             (SELECT SUM(bucket_tokens) * {_BUDGET_MULT} FROM agg)
               - {_EPOCH_CAP} * COALESCE(SUM(bucket_tokens) OVER (
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS allowed
      FROM agg
    )
    SELECT CAST(bucket AS INT) AS bucket, n_docs, bucket_tokens,
           CAST(LEAST({_EPOCH_CAP}, GREATEST(0,
                CAST(FLOOR(allowed / bucket_tokens) AS BIGINT))) AS INT)
             AS epochs,
           CAST(LEAST({_EPOCH_CAP}, GREATEST(0,
                CAST(FLOOR(allowed / bucket_tokens) AS BIGINT)))
                * bucket_tokens AS BIGINT) AS effective_tokens
    FROM sched
    ORDER BY bucket
    """,
)
def sample_epoch_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch-repetition schedule (the Muennighoff-
    et-al recipe a token-budgeted pretraining run uses when unique
    data runs out): docs are quartile-bucketed by a quality proxy
    (type-token ratio, highest first), and the token budget
    (2x the corpus) is allocated greedily — each bucket
    repeats for min(4, what the remaining budget affords)
    epochs, so the highest-quality quartile repeats up to the cap and
    the tail gets zero. The greedy is CLOSED-FORM: bucket i's
    remaining budget assumes all better buckets took the cap, which
    is exactly greedy-with-cap semantics (a bucket that can't afford
    one full epoch ends the schedule).

    Scale shape: one scan to token-count (map-side), one NTILE over
    the quality ordering via operators/prefix.global_ntile (range-
    partitioned prefix row number, NOT a single-task window — the
    sample_curriculum_shards discipline), a 4-row aggregate, and a
    4-row window for the prefix sums. The ttr ordering key is a
    single IEEE division of the same two integers in both engines —
    bit-identical, so the total order (ttr DESC, doc_id) needs no
    rounding. Everything after the bucket agg is aggregate-sized."""
    from free_etl_spark.operators.prefix import global_ntile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    d = d.select(
        "doc_id",
        F.size("toks").alias("tok_cnt"),
        (
            F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
        ).alias("ttr"),
    )
    b = global_ntile(
        d,
        [F.desc("ttr"), F.col("doc_id")],
        4,
        "bucket",
        cache_tag="epoch_mix_buckets",
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok_cnt").cast("long").alias("bucket_tokens"),
    )
    wtot = Window.partitionBy()
    wpre = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    allowed = (
        F.sum("bucket_tokens").over(wtot) * _BUDGET_MULT
        - _EPOCH_CAP * F.coalesce(F.sum("bucket_tokens").over(wpre), F.lit(0))
    )
    epochs = F.least(
        F.lit(_EPOCH_CAP),
        F.greatest(
            F.lit(0),
            F.floor(allowed / F.col("bucket_tokens")).cast("long"),
        ),
    ).cast("int")
    return (
        agg.select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "bucket_tokens",
            epochs.alias("epochs"),
            (epochs.cast("long") * F.col("bucket_tokens"))
            .cast("long")
            .alias("effective_tokens"),
        )
        .orderBy("bucket")
    )


_KC_POOL = 64   # candidate shortlist (pre-sampled at scale)
_KC_K = 5       # coreset size = selection rounds


def _kcenter_oracle(k: int) -> str:
    """Unrolled DuckDB oracle for ``sample_kcenter_coreset``: one
    (selected-set, min-distance, argmax) CTE block per round — the
    sim_mmr_rerank / BPE-trainer pinned-round pattern. Distances use
    the identical list_zip/list_sum fold as the Spark
    zip_with/aggregate form, so the per-round maximin argmax agrees
    without rounding."""
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))"
        " * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))))"
    )
    sql = [
        f"""
    WITH pool AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id < {_KC_POOL}
    ),
    p1 AS (
      SELECT 1 AS rank, vec_id, label, embedding, 0.0 AS maximin_d2
      FROM pool ORDER BY vec_id LIMIT 1
    )"""
    ]
    pair = d2.format(a="c.embedding", b="s.embedding")
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM p{i}" for i in range(1, r))
        sql.append(f"""
    , sel{r} AS ({prev})
    , m{r} AS (
      SELECT c.vec_id, c.label, c.embedding,
             MIN({pair}) AS mind
      FROM pool c JOIN sel{r} s ON c.vec_id <> s.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r})
      GROUP BY c.vec_id, c.label, c.embedding
    ), p{r} AS (
      SELECT {r} AS rank, vec_id, label, embedding, mind AS maximin_d2
      FROM m{r} ORDER BY mind DESC, vec_id LIMIT 1
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM p{r}" for r in range(1, k + 1))
    sql.append(f"""
    SELECT CAST(rank AS INT) AS rank, vec_id, CAST(label AS INT) AS label,
           maximin_d2
    FROM ({union}) ORDER BY rank""")
    return "".join(sql)


@query("sample_kcenter_coreset", oracle=_kcenter_oracle(_KC_K))
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center CORESET selection — diversity-based data
    pruning (the global complement to sim_mmr_rerank's query-relative
    re-rank): seed with the lowest vec_id, then each round pick the
    candidate FARTHEST from its nearest already-selected center
    (maximin L2², vec_id tie-break) — the classic 2-approximation of
    the k-center cover, used to prune redundant training examples
    while keeping the embedding space covered.

    Scale shape: greedy k-center is inherently sequential in k, so
    the loop runs k pinned rounds (the BPE-trainer/MMR coordination
    pattern — driver state is one selected row per round, never
    data); each round is one broadcast of the <=k selected centers
    against the candidate pool + a single-row TakeOrdered. The pool
    here is a fixed shortlist (vec_id < 64) — at 100 TB the pool
    comes from a pre-sampling/pre-clustering pass (the IVF centroids
    themselves are the natural shortlist), never the raw corpus.
    Distances are the identical fold in both engines — bit-exact
    argmax, no rounding."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _KC_POOL
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    seed = emb.orderBy("vec_id").first()
    selected = [(1, seed["vec_id"], int(seed["label"]), 0.0)]
    sel_rows = [(seed["vec_id"], seed["e"])]
    d2 = F.aggregate(
        F.zip_with("e", "se", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    for r in range(2, _KC_K + 1):
        sel_ids = [v for v, _ in sel_rows]
        s = spark.createDataFrame(
            sel_rows, "sid long, se array<double>"
        )
        best = (
            emb.filter(~F.col("vec_id").isin(sel_ids))
            .join(F.broadcast(s))
            .select("vec_id", "label", "e", d2.alias("d2"))
            .groupBy("vec_id", "label", "e")
            .agg(F.min("d2").alias("mind"))
            .orderBy(F.col("mind").desc(), "vec_id")
            .first()
        )
        selected.append((r, best["vec_id"], int(best["label"]), best["mind"]))
        sel_rows.append((best["vec_id"], best["e"]))
    return spark.createDataFrame(
        selected, "rank int, vec_id long, label int, maximin_d2 double"
    )


from free_etl_spark.queries.dedup import _DF_CAP as _DF_CAP_S  # noqa: E402
from free_etl_spark.queries.dedup import _JACCARD_T as _JACCARD_T_S  # noqa: E402
from free_etl_spark.queries.dedup import _SH_SQL as _SH_SQL_S  # noqa: E402


@query(
    "sample_dedup_aware_weights",
    oracle=f"""
    WITH RECURSIVE {_SH_SQL_S},
    fp AS (
      SELECT doc_id, lang,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS canon_fp
      FROM documents
    ),
    exact_g AS (
      SELECT canon_fp, MIN(doc_id) AS keeper, COUNT(*) AS exact_sz
      FROM fp GROUP BY canon_fp
    ),
    kdoc AS (SELECT keeper AS doc_id FROM exact_g),
    shk AS (SELECT sh.doc_id, sh.sh FROM sh JOIN kdoc USING (doc_id)),
    keepk AS (SELECT sh FROM shk GROUP BY sh HAVING COUNT(*) <= {_DF_CAP_S}),
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
            >= {_JACCARD_T_S}
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
    clus AS (
      SELECT c.component, CAST(SUM(g.exact_sz) AS BIGINT) AS sz
      FROM comp c JOIN exact_g g ON g.keeper = c.doc_id
      GROUP BY c.component
    ),
    wdoc AS (
      SELECT f.lang, ROUND(1.0 / cl.sz, 6) AS w
      FROM fp f
      JOIN exact_g g USING (canon_fp)
      JOIN comp c ON c.doc_id = g.keeper
      JOIN clus cl USING (component)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(w), 4) AS effective_docs,
           ROUND(COUNT(*) / SUM(w), 4) AS duplication_factor
    FROM wdoc GROUP BY lang
    """,
)
def sample_dedup_aware_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware sampling weights — keep EVERY copy but weight each
    document by 1/cluster-size so a duplicate cluster contributes
    exactly one effective document (the soft alternative to hard
    removal some pipelines prefer: preserves within-cluster variation
    while neutralizing over-representation). Clusters are the full
    pipeline clusters (exact groups folded into near-dup components,
    the same machinery as quality_dedup_cluster_sizes, sharing the
    session-cached `pipeline_pairs` relation). Per language: raw
    docs, effective docs (Σ 1/sz, each weight 6-dp-rounded before the
    sum so the cross-engine sum-order error stays far from the 4-dp
    output grid), and the duplication factor raw/effective — the
    number a mixture designer divides by before setting per-source
    rates.

    Shape at 100 TB: the weight attachment is three key equi-joins
    down the (doc -> exact group -> component -> cluster size) chain,
    each keyed on ids, no new pairwise work — the pair generation and
    clustering are the already-audited shared relations."""
    from free_etl_spark.operators.components import connected_components
    from free_etl_spark.queries.dedup import (
        _jaccard_pairs,
        _shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    fp = docs.select(
        "doc_id", "lang", F.md5(canon.cast("binary")).alias("canon_fp")
    )
    exact_g = fp.groupBy("canon_fp").agg(
        F.min("doc_id").alias("keeper"),
        F.count(F.lit(1)).alias("exact_sz"),
    )
    keepers = exact_g.select(F.col("keeper").alias("doc_id"))

    def build_pairs() -> DataFrame:
        sh = _shingles(spark, sf_dir).join(keepers, "doc_id")
        return _jaccard_pairs(sh).filter(
            F.col("jaccard") >= _JACCARD_T_S
        ).select("doc_a", "doc_b")

    pairs = cache.relation(spark, sf_dir, "pipeline_pairs", build_pairs)
    comp = connected_components(
        keepers, pairs, node_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    clus = (
        comp.join(
            exact_g.select(F.col("keeper").alias("doc_id"), "exact_sz"),
            "doc_id",
        )
        .groupBy("component")
        .agg(F.sum("exact_sz").cast("long").alias("sz"))
    )
    wdoc = (
        fp.join(exact_g, "canon_fp")
        .join(
            comp.select(F.col("doc_id").alias("keeper"), "component"),
            "keeper",
        )
        .join(clus, "component")
        .select("lang", F.round(F.lit(1.0) / F.col("sz"), 6).alias("w"))
    )
    return wdoc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("w"), 4).alias("effective_docs"),
        F.round(F.count(F.lit(1)) / F.sum("w"), 4).alias("duplication_factor"),
    )


@query(
    "sample_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {_H16_SQL.format(c="doc_id")}, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY source) AS dom_n,
             COUNT(*) OVER () AS total_n
      FROM documents
    )
    SELECT source,
           CAST(MAX(dom_n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rn <= CAST(CEIL(0.05 * total_n) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= CAST(CEIL(0.05 * total_n) AS BIGINT)
                         THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM ranked
    GROUP BY source
    """,
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-source capping (the C4/RefinedWeb 'no domain may
    exceed X% of the corpus' rule, here X=5%): any source above the
    cap keeps exactly ceil(0.05·N) docs, chosen by HASH order (stable
    under repartitioning and incremental growth — a doc that survives
    today survives tomorrow unless the cap shrinks); sources under the
    cap are untouched. This differs from sample_stratified_topn's
    FIXED quota: the cap scales with the corpus and binds only the
    heavy tail. One window over the source key (a single shuffle) plus
    a scalar total; at 100 TB the per-source rank is the same
    hash-window every dedup stage already pays, and the cap threshold
    is one broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        _hash16(F.col("doc_id")), F.col("doc_id")
    )
    # total_n via broadcast scalar, NOT an unpartitioned window (which
    # would funnel every row through one reducer — the global-window
    # anti-pattern tests/test_plans.py gates elsewhere)
    total = docs.agg(F.count(F.lit(1)).alias("total_n"))
    ranked = (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("dom_n", F.count(F.lit(1)).over(Window.partitionBy("source")))
        .crossJoin(F.broadcast(total))
    )
    cap = F.ceil(F.lit(0.05) * F.col("total_n")).cast("long")
    kept = F.col("rn") <= cap
    return ranked.groupBy("source").agg(
        F.max("dom_n").cast("long").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
    )
