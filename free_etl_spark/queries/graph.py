"""Graph analytics expressed relationally (SURVEY.md §2B extension,
alongside the connected-components operator in
free_etl_spark/operators/components.py): iterative algorithms as
join+aggregate rounds over an edge relation — no GraphX/GraphFrames
dependency, so the same code runs on any Spark cluster.

The 100 TB shape is aggregate-then-iterate: the expensive part is
distilling the raw event log (the 100 TB side) into a weighted edge
relation — one window pass plus one groupBy shuffle; the rank
iterations then run over the aggregated edges, which are orders of
magnitude smaller but still a distributed DataFrame (node sets like
URLs or users don't fit a driver). Each iteration is one
broadcast-or-shuffle join + one groupBy — the standard Pregel-as-SQL
lowering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from free_etl_spark import cache
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table

_D = 0.85  # damping factor


def transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted directed edges src→dst = consecutive event_type pairs
    per user (ordered by ts, event_id for a total order). Persisted
    per (session, corpus mtime) via the shared relation cache — the
    rank loop takes several actions over the same distilled edges."""

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type"
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        ).filter(F.col("dst").isNotNull())
        return seq.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("double").alias("w")
        )

    return cache.relation(
        spark, sf_dir, "graph_edges", build, src_table="events.parquet"
    )


def pagerank(edges: DataFrame, iterations: int) -> DataFrame:
    """Power-iteration PageRank over a weighted edge list.

    r_{i+1}(v) = (1-d)/N + d * Σ_u r_i(u) * w(u,v) / out(u), dangling
    mass redistributed uniformly (a node with no outgoing edges spreads
    its rank to every node). Pure DataFrame ops: each iteration is one
    join on src + one groupBy on dst; the rank relation stays
    distributed (node sets at corpus scale are URLs/users, not a
    driver-side list).
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # scalar: one number on the driver, by design
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # normalized transition weight per edge, reused every iteration
    norm = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("p")
    )
    # the dangling-node SET is static (nodes with no outgoing edges);
    # only its rank mass changes per iteration
    dangling_nodes = nodes.join(outw, nodes.node == outw.src, "left_anti")
    ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))
    for i in range(iterations):
        contrib = (
            norm.join(ranks, norm.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("r")).alias("inflow"))
        )
        # dangling mass leaks — fold it back in as a one-row broadcast
        # (stays inside the plan: no per-iteration driver action)
        dangling = dangling_nodes.join(ranks, "node").agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("dmass")
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - _D) / n)
                    + F.lit(_D)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dmass") / n
                    )
                ).alias("r"),
            )
        )
        # each iteration references the previous ranks plan TWICE
        # (contrib + dangling), so a fully lazy chain doubles the
        # embedded plan per round (~2^iterations analysis cost).
        # Fine for the registered 2-iteration query; for deeper runs,
        # truncate the lineage each round — the materialized relation
        # is node-set-sized, the cheapest thing in the job.
        if iterations > 3 and i < iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


@query(
    "graph_pagerank_2iter",
    oracle="""
    WITH seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    edges AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst FROM edges
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    norm AS (
      SELECT e.src, e.dst, e.w / o.outw AS p
      FROM edges e
      JOIN (SELECT src, SUM(w) AS outw FROM edges GROUP BY src) o
        ON o.src = e.src
    ),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    d0 AS (
      SELECT COALESCE(SUM(r), 0.0) AS mass FROM r0
      WHERE node NOT IN (SELECT src FROM edges)
    ),
    r1 AS (
      SELECT nodes.node,
             (1.0 - 0.85) / nn.n
             + 0.85 * (COALESCE(fl.inflow, 0.0) + d0.mass / nn.n) AS r
      FROM nodes CROSS JOIN nn CROSS JOIN d0
      LEFT JOIN (
        SELECT norm.dst, SUM(norm.p * r0.r) AS inflow
        FROM norm JOIN r0 ON r0.node = norm.src
        GROUP BY norm.dst
      ) fl ON fl.dst = nodes.node
    ),
    d1 AS (
      SELECT COALESCE(SUM(r), 0.0) AS mass FROM r1
      WHERE node NOT IN (SELECT src FROM edges)
    ),
    r2 AS (
      SELECT nodes.node,
             (1.0 - 0.85) / nn.n
             + 0.85 * (COALESCE(fl.inflow, 0.0) + d1.mass / nn.n) AS r
      FROM nodes CROSS JOIN nn CROSS JOIN d1
      LEFT JOIN (
        SELECT norm.dst, SUM(norm.p * r1.r) AS inflow
        FROM norm JOIN r1 ON r1.node = norm.src
        GROUP BY norm.dst
      ) fl ON fl.dst = nodes.node
    )
    SELECT node AS event_type, ROUND(r, 6) AS pagerank FROM r2
    """,
)
def graph_pagerank_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two power iterations of PageRank over the event-type transition
    graph distilled from the events log. The distillation (window +
    groupBy over the full log) is the at-scale cost; the iterations
    are broadcast joins over the aggregated edge relation. The oracle
    replays both iterations as SQL CTEs."""
    edges = transition_edges(spark, sf_dir)
    ranks = pagerank(edges, iterations=2)
    return ranks.select(
        F.col("node").alias("event_type"), F.round("r", 6).alias("pagerank")
    )


@query(
    "graph_reachability_rcte",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    edges AS (
      SELECT DISTINCT src, dst FROM seq
      WHERE dst IS NOT NULL AND dst <> src
    ),
    start AS (SELECT MIN(src) AS node FROM edges),
    reach(node, depth) AS (
      SELECT node, 0 FROM start
      UNION ALL
      SELECT e.dst, r.depth + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.depth < 3
    )
    SELECT node AS event_type,
           CAST(MIN(depth) AS INT) AS min_depth,
           CAST(COUNT(*) AS BIGINT) AS n_walks
    FROM reach GROUP BY node
    """,
)
def graph_reachability_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth reachability over the event-type transition graph
    via WITH RECURSIVE (in-engine recursion, new in Spark 4) — shortest
    hop distance and bounded-walk counts from the lexicographically
    first source node. The recursion runs over the distilled distinct
    edge relation; the events scan (the 100 TB side) happens once in
    the seed CTE. The identical recursive SQL runs on DuckDB as the
    oracle. Complements the DataFrame-loop PageRank above: same
    aggregate-then-iterate shape, but the iteration is expressed in
    SQL and executed by the engine's recursion operator.

    The edge distillation is materialized BEFORE the recursion (the
    persisted transition_edges relation, registered as a view) — left
    inline as a CTE, the engine re-evaluates the full-log window scan
    on every recursion step, which the 10x scale probe measured at
    ~4x the query's whole runtime. Distill-once-then-recurse is the
    scale-correct shape for any recursive query whose step joins a
    derived relation."""
    edges = transition_edges(spark, sf_dir).filter(
        F.col("dst") != F.col("src")
    )
    edges.select("src", "dst").createOrReplaceTempView("rcte_edges_in")
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT src, dst FROM rcte_edges_in
        ),
        start AS (SELECT MIN(src) AS node FROM edges),
        reach(node, depth) AS (
          SELECT node, 0 FROM start
          UNION ALL
          SELECT e.dst, r.depth + 1
          FROM reach r JOIN edges e ON e.src = r.node
          WHERE r.depth < 3
        )
        SELECT node AS event_type,
               CAST(MIN(depth) AS INT) AS min_depth,
               CAST(COUNT(*) AS BIGINT) AS n_walks
        FROM reach GROUP BY node
        """
    )


def undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected edges (a < b lexicographically, self-loops
    dropped) distilled from the transition graph — the common base of
    the triangle-count and label-propagation operators below."""
    e = transition_edges(spark, sf_dir)
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


_UND_SQL = """
    seq AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM seq WHERE dst IS NOT NULL AND dst <> src
    )
"""


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_UND_SQL},
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ),
    rk AS (
      SELECT node, ROW_NUMBER() OVER (ORDER BY d, node) AS r FROM deg
    ),
    er AS (
      SELECT CASE WHEN ra.r < rb.r THEN a ELSE b END AS lo,
             CASE WHEN ra.r < rb.r THEN b ELSE a END AS hi,
             LEAST(ra.r, rb.r) AS lo_r, GREATEST(ra.r, rb.r) AS hi_r
      FROM und JOIN rk ra ON ra.node = und.a JOIN rk rb ON rb.node = und.b
    ),
    tri AS (
      SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
      FROM er e1
      JOIN er e2 ON e2.lo = e1.lo AND e2.hi_r > e1.hi_r
      JOIN er e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    ),
    cnt AS (
      SELECT node, COUNT(*) AS tri_cnt FROM (
        SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT d.node AS event_type,
           CAST(COALESCE(c.tri_cnt, 0) AS BIGINT) AS tri_cnt
    FROM deg d LEFT JOIN cnt c ON c.node = d.node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the undirected transition
    graph, by the compact-forward / node-iterator algorithm: rank
    vertices by (degree, name), orient every edge low-rank -> high-
    rank, build wedges centered on each edge's LOWEST-ranked vertex,
    and close them against the oriented edge list. Each triangle is
    found exactly once, and centering wedges on the lowest-DEGREE
    vertex bounds the wedge relation by sum(d_v * min-degree) instead
    of sum(d_v^2) — the standard fix that keeps the self-join from
    exploding on skewed (power-law) graphs at scale. The (degree,
    name) total order is compared directly as a tuple (see
    oriented_edges): no rank window over the node set and no
    node-sized broadcast anywhere — all joins are equi-joins on
    vertex keys plus the lexicographic (hi_d, hi) inequality, which
    encodes the identical order the oracle's ROW_NUMBER rank does.
    Nodes in no triangle report 0 via the left join."""

    und = undirected_edges(spark, sf_dir)
    deg = node_degrees(und)
    # the oriented edge list is referenced three times by the wedge
    # self-join — persist it (edge-set-sized) so the rank window and
    # upstream distillation run once, not three times
    er = cache.relation(
        spark,
        sf_dir,
        "graph_er",
        lambda: oriented_edges(und, deg),
        src_table="events.parquet",
    )
    return triangle_counts(und, deg=deg, er=er).select(
        F.col("node").alias("event_type"), "tri_cnt"
    )


def node_degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def oriented_edges(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each undirected edge from its lower-(degree, name)
    endpoint to the higher one: (lo, hi, hi_d).

    The total order is compared DIRECTLY as the (d, node) tuple — no
    ``row_number`` materialization: a global rank window would funnel
    the whole node set through one task AND force a node-sized
    broadcast of the rank table, while the tuple order needs only
    equi-joins on the degree relation (AQE picks broadcast vs shuffle
    by actual size). Downstream wedge joins compare (hi_d, hi)
    lexicographically — the same order the rank encoded."""
    da, db = deg.alias("da"), deg.alias("db")
    a_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("a") < F.col("b"))
    )
    return (
        und.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
            F.when(a_first, F.col("db.d")).otherwise(F.col("da.d")).alias(
                "hi_d"
            ),
        )
    )


def triangle_counts(
    und: DataFrame,
    deg: DataFrame | None = None,
    er: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle counts (node, tri_cnt) over an undirected
    (a, b) edge relation — the compact-forward wedge-join pipeline of
    graph_triangle_count, exposed for reuse/testing. Callers may pass
    a persisted ``er`` (the registered query does); otherwise the
    oriented edge list is derived inline."""
    deg = deg if deg is not None else node_degrees(und)
    er = er if er is not None else oriented_edges(und, deg)
    e1, e2, e3 = er.alias("e1"), er.alias("e2"), er.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e2.lo") == F.col("e1.lo"))
            & (
                (F.col("e2.hi_d") > F.col("e1.hi_d"))
                | (
                    (F.col("e2.hi_d") == F.col("e1.hi_d"))
                    & (F.col("e2.hi") > F.col("e1.hi"))
                )
            ),
        )
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.hi"))
            & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.col("e1.lo").alias("x"),
            F.col("e1.hi").alias("y"),
            F.col("e2.hi").alias("z"),
        )
    )
    # one explode pass, not a 3-way unionAll of projections: the
    # union triples the map-task count over the triangle relation
    # (each triangle is scanned three times in three stages) while
    # explode emits the same (node, +1) stream in a single scan that
    # partial-aggregates map-side before the one shuffle
    cnt = (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_cnt"))
    )
    return deg.join(cnt, "node", "left").select(
        "node",
        F.coalesce(F.col("tri_cnt"), F.lit(0)).cast("long").alias("tri_cnt"),
    )


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH {_UND_SQL},
    nb AS (
      SELECT a AS node, b AS nbr FROM und
      UNION ALL SELECT b, a FROM und
    ),
    nodes AS (SELECT DISTINCT node FROM nb),
    l0 AS (SELECT node, node AS label FROM nodes),
    v1 AS (
      SELECT nb.node, l0.label, COUNT(*) AS c
      FROM nb JOIN l0 ON l0.node = nb.nbr GROUP BY nb.node, l0.label
    ),
    l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM v1) WHERE rn = 1
    ),
    v2 AS (
      SELECT nb.node, l1.label, COUNT(*) AS c
      FROM nb JOIN l1 ON l1.node = nb.nbr GROUP BY nb.node, l1.label
    ),
    l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM v2) WHERE rn = 1
    )
    SELECT n.node AS event_type, COALESCE(l2.label, n.node) AS label
    FROM nodes n LEFT JOIN l2 ON l2.node = n.node
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous rounds of label propagation (community
    detection): every node starts labeled with itself; each round it
    adopts the most frequent label among its neighbors, ties broken
    toward the smallest label so both engines converge identically
    (vanilla LPA breaks ties randomly — the deterministic tie-break
    is the cross-engine contract). Each round is one join of the
    neighbor relation against the label relation plus one count and
    one per-node rank window — the Pregel-as-SQL lowering, same shape
    as the PageRank iterations above; label relations stay node-set-
    sized and distributed. Isolated nodes (none here) keep their own
    label via the final left join."""

    und = undirected_edges(spark, sf_dir)

    def build_nb() -> DataFrame:
        return und.select(
            F.col("a").alias("node"), F.col("b").alias("nbr")
        ).unionAll(
            und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
        )

    # the neighbor relation drives every propagation round — persist
    # it (edge-set-sized) so each round joins the cached relation
    # instead of re-distilling the event log
    nb = cache.relation(
        spark, sf_dir, "graph_nb", build_nb, src_table="events.parquet"
    )
    return label_propagation_rounds(nb, rounds=2).select(
        F.col("node").alias("event_type"), "label"
    )


def label_propagation_rounds(nb: DataFrame, rounds: int) -> DataFrame:
    """Synchronous mode-label propagation over a (node, nbr) neighbor
    relation, ties broken toward the smallest label; returns
    (node, label) for every node in the relation. Core of
    graph_label_propagation, exposed for reuse/testing."""
    nodes = nb.select("node").distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    rn_w = Window.partitionBy("node").orderBy(F.desc("c"), "label")
    for _ in range(rounds):
        votes = (
            nb.join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("nbr"), F.col("label")
                    )
                ),
                "nbr",
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.select(
                "node", "label", F.row_number().over(rn_w).alias("rn")
            )
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
    )


# ---- density-axis caps (VERDICT r11 task 2) --------------------------
# With N× traffic in a FIXED window, users-per-bucket grows ~N and the
# bucket self-join emits ~N² pairs per bucket — measured: kcore decade
# exponent 1.71 on the density axis before re-graining (docs/SCALE.md).
# The engine answer is a deterministic per-bucket ACTIVITY CAP: rank
# each bucket's active users by md5(bucket_text ∥ user) — a stable,
# partition-order-independent, engine-portable hash order — and keep
# the first CAP. Below the cap the graph is EXACTLY the uncapped graph
# (caps sit above every occupancy observed on the supported corpora:
# hour max 166 / minute max 12 at sf0.1, and the time-dilated sf1
# keeps instantaneous traffic constant); above it, per-bucket pair
# fan-out is bounded at CAP²/2 no matter how dense the window gets.
# Mixing the bucket into the hash drops a hot user in SOME buckets
# rather than everywhere, so the sample preserves degree structure
# instead of amputating a fixed user tail.
_HOUR_CAP = 256
_MINUTE_CAP = 16


def _capped_active(ub_act: DataFrame, fmt: str, cap: int) -> DataFrame:
    """(u, b) distinct-activity relation → per-bucket capped relation.
    The rank window is PARTITIONED BY THE BUCKET (size = occupancy,
    the quantity being capped — linear work, never a global sort);
    ``fmt`` renders the bucket identically in Spark (date_format) and
    DuckDB (strftime) so both engines keep the same users."""
    w = Window.partitionBy("b").orderBy(
        F.md5(
            F.concat(
                F.date_format(F.col("b"), fmt), F.col("u").cast("string")
            )
        ),
        F.col("u"),
    )
    return (
        ub_act.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )


def _capped_pairs(kept: DataFrame) -> DataFrame:
    """Bucket-keyed self-join (u_a < u_b) → ≥2-shared-bucket edges."""
    x, y = kept.alias("x"), kept.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b")) & (F.col("x.u") < F.col("y.u")),
        )
        .groupBy(F.col("x.u").alias("ua"), F.col("y.u").alias("ub"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pairs.filter(F.col("w") >= 2).select("ua", "ub")


def _capped_edges_sql(grain: str, fmt: str, cap: int) -> str:
    """DuckDB twin of _capped_active + _capped_pairs (CTEs ub_act /
    ub_kept / edges), one template for both grains."""
    return f"""
    ub_act AS (
      SELECT DISTINCT user_id AS u,
             date_trunc('{grain}', CAST(ts AS TIMESTAMP)) AS b
      FROM events
    ),
    ub_kept AS (
      SELECT u, b FROM (
        SELECT u, b, ROW_NUMBER() OVER (
          PARTITION BY b
          ORDER BY md5(concat(strftime(b, '{fmt}'), CAST(u AS VARCHAR))), u
        ) AS rn FROM ub_act
      ) WHERE rn <= {cap}
    ),
    edges AS (
      SELECT ua, ub FROM (
        SELECT x.u AS ua, y.u AS ub, COUNT(*) AS w
        FROM ub_kept x JOIN ub_kept y ON x.b = y.b AND x.u < y.u
        GROUP BY 1, 2
      ) WHERE w >= 2
    )
"""


def user_copresence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected user-user edges: two users are connected when they
    were active in >= 2 of the same clock hours. Built as distinct
    (user, hour) -> per-bucket activity cap (_HOUR_CAP, the density-
    axis bound — see _capped_active) -> hour-keyed self-join
    (u_a < u_b) -> weight filter: the join fan-out is quadratic in
    the per-hour KEPT-user count, never in total users, so at 100 TB
    the knobs are the bucket width (hour) and the cap — the distilled
    edge relation the algorithms below consume is orders of magnitude
    smaller than the event log. Persisted via the shared relation
    cache (k-core takes several actions over it)."""

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        uh = ev.select(
            F.col("user_id").alias("u"),
            F.date_trunc("hour", F.col("ts")).alias("b"),
        ).distinct()
        return _capped_pairs(_capped_active(uh, "yyyy-MM-dd HH", _HOUR_CAP))

    return cache.relation(
        spark, sf_dir, "user_edges", build, src_table="events.parquet"
    )


_USER_EDGES_CAPPED_SQL = _capped_edges_sql("hour", "%Y-%m-%d %H", _HOUR_CAP)


@query(
    "graph_density_cap",
    oracle=f"""
    WITH {_capped_edges_sql("hour", "%Y-%m-%d %H", 4)},
    occ_b AS (SELECT b, COUNT(*) AS n FROM ub_act GROUP BY b),
    occ_a AS (SELECT b, COUNT(*) AS n FROM ub_kept GROUP BY b),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT ua AS node FROM edges UNION ALL SELECT ub FROM edges
      ) GROUP BY node
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ub_act) AS n_active,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ub_kept) AS n_kept,
           (SELECT CAST(MAX(n) AS BIGINT) FROM occ_b) AS max_occ_before,
           (SELECT CAST(MAX(n) AS BIGINT) FROM occ_a) AS max_occ_after,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(COALESCE(MAX(d), 0) AS BIGINT) FROM deg)
             AS max_degree
    """,
)
def graph_density_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The density-axis cap with a deliberately BINDING cap (4 users
    per hour bucket — every supported corpus exceeds it, sf0.01 hour
    max occupancy is 28), so the driver value-oracles the cap
    semantics themselves, not just the pass-through regime the
    production caps (_HOUR_CAP/_MINUTE_CAP) sit in at test SFs:
    the deterministic md5-ranked keep-set, the capped occupancy
    (max_occ_after == 4), and the edge relation built from kept
    users only. One row of BIGINT audit counters — the report a
    densifying 100 TB event graph build ships with. Fan-out after
    the cap is ≤ C(4,2) = 6 pairs per bucket regardless of traffic
    density; the uncapped quadratic regime this bounds was measured
    at decade exponent 1.71 (docs/SCALE.md, kcore density axis)."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        F.col("user_id").alias("u"),
        F.date_trunc("hour", F.col("ts")).alias("b"),
    ).distinct()
    act = act.localCheckpoint(eager=False)  # reused by 3 aggregates
    kept = _capped_active(act, "yyyy-MM-dd HH", 4)
    kept = kept.localCheckpoint(eager=False)
    edges = _capped_pairs(kept)
    edges = edges.localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("ua").alias("node"))
        .unionAll(edges.select(F.col("ub").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_active = act.agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    n_kept = kept.agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    occ_b = (
        act.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").cast("long").alias("max_occ_before"))
    )
    occ_a = (
        kept.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").cast("long").alias("max_occ_after"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    max_deg = deg.agg(
        F.coalesce(F.max("d"), F.lit(0)).cast("long").alias("max_degree")
    )
    return (
        n_active.crossJoin(n_kept)
        .crossJoin(occ_b)
        .crossJoin(occ_a)
        .crossJoin(n_edges)
        .crossJoin(max_deg)
    )


@query(
    "graph_degree_stats",
    oracle=f"""
    WITH {_USER_EDGES_CAPPED_SQL},
    deg AS (
      SELECT node, CAST(COUNT(*) AS DOUBLE) AS d FROM (
        SELECT ua AS node FROM edges UNION ALL SELECT ub FROM edges
      ) GROUP BY node
    ),
    ends AS (
      SELECT da.d AS dx, db.d AS dy
      FROM edges JOIN deg da ON da.node = edges.ua
                 JOIN deg db ON db.node = edges.ub
      UNION ALL
      SELECT db.d, da.d
      FROM edges JOIN deg da ON da.node = edges.ua
                 JOIN deg db ON db.node = edges.ub
    ),
    mom AS (
      SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
             SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx,
             SUM(dy * dy) AS syy
      FROM ends
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT ROUND(AVG(d), 6) FROM deg) AS avg_degree,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree,
           CASE WHEN (sxx - sx * sx / m) > 1e-9
                THEN ROUND((sxy - sx * sy / m)
                           / sqrt((sxx - sx * sx / m)
                                  * (syy - sy * sy / m)), 6)
                ELSE NULL END AS assortativity
    FROM mom
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree summary + degree assortativity (Pearson correlation of
    endpoint degrees over the symmetrized edge list — Newman 2002's
    r) for the user co-presence graph. Positive r: hubs attach to
    hubs; negative: hub-and-spoke. The correlation uses explicit
    moment sums with a guarded denominator (a regular graph has zero
    degree variance — Spark ANSI would raise DIVIDE_BY_ZERO where
    DuckDB returns NULL/NaN). Everything is degree-relation joins —
    the node table never leaves the cluster.

    One-pass moment trick (r9, 3.3 s → ~1 s at sf0.1): the oracle's
    symmetrized endpoint relation (dx,dy) ∪ (dy,dx) makes every
    moment derivable from ONE scan of the edge-degree join — m = 2E,
    sx = sy = Σ(da+db), sxy = 2·Σ(da·db), sxx = syy = Σ(da²+db²) —
    so the join is evaluated once instead of twice and the separate
    edge-count pass disappears (E = the join's row count). Degrees
    are integer-valued doubles, so every sum/product is FP-exact and
    order-independent: the derived moments are bit-identical to the
    oracle's union-scan sums, and the covariance/variance tail
    applies the same IEEE ops in the same order. The degree relation
    (|V| rows, bounded by the user dimension) is localCheckpointed
    once instead of recomputed per consumer."""
    edges = user_copresence_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("ua").alias("node"))
        .unionAll(edges.select(F.col("ub").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    ).localCheckpoint(eager=True)
    da = deg.select(F.col("node").alias("ua"), F.col("d").alias("dxa"))
    db = deg.select(F.col("node").alias("ub"), F.col("d").alias("dxb"))
    ej = edges.join(da, "ua").join(db, "ub")
    half = ej.agg(
        F.count(F.lit(1)).alias("e"),
        F.sum(F.col("dxa") + F.col("dxb")).alias("s1"),
        F.sum(F.col("dxa") * F.col("dxb")).alias("p"),
        F.sum(
            F.col("dxa") * F.col("dxa") + F.col("dxb") * F.col("dxb")
        ).alias("s2"),
    )
    mom = half.select(
        F.col("e").cast("long").alias("n_edges"),
        (F.col("e") * F.lit(2)).cast("double").alias("m"),
        F.col("s1").alias("sx"),
        F.col("s1").alias("sy"),
        (F.lit(2.0) * F.col("p")).alias("sxy"),
        F.col("s2").alias("sxx"),
        F.col("s2").alias("syy"),
    )
    summary = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.round(F.avg("d"), 6).alias("avg_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("m")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m")
    return summary.join(mom).select(
        "n_nodes",
        "n_edges",
        "avg_degree",
        "max_degree",
        F.when(vx > 1e-9, F.round(cov / F.sqrt(vx * vy), 6)).alias(
            "assortativity"
        ),
    )


def _induced_degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("ua").alias("node"))
        .unionAll(edges.select(F.col("ub").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` synchronous peels toward the k-core: each round
    drops every node whose degree IN THE SURVIVING SUBGRAPH is < k,
    then recomputes induced degrees. Returns the surviving node set.
    Each round is two semi-joins + one groupBy — the classic
    Pregel-style lowering; at scale you persist the (shrinking) edge
    relation per round and stop when a count() fixpoint check shows
    no change (here the round count is pinned so the DuckDB oracle
    can unroll the identical computation)."""
    surv_edges = edges
    for _ in range(rounds):
        keep = _induced_degrees(surv_edges).filter(F.col("d") >= k)
        surv_edges = surv_edges.join(
            keep.select(F.col("node").alias("ua")), "ua", "semi"
        ).join(keep.select(F.col("node").alias("ub")), "ub", "semi")
        # cut the lineage per round (pagerank does the same): without
        # this every later action replays all prior rounds' joins and
        # the plan grows multiplicatively (measured ~650 stages / 27 s
        # at sf0.001 for 3 rounds; ~3 s with the checkpoint).
        surv_edges = surv_edges.localCheckpoint(eager=False)
    return _induced_degrees(surv_edges).filter(F.col("d") >= k).select("node")


@query(
    "graph_kcore",
    oracle=f"""
    WITH {_USER_EDGES_CAPPED_SQL},
    deg0 AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT ua AS node FROM edges UNION ALL SELECT ub FROM edges
      ) GROUP BY node
    ),
    s1 AS (SELECT node FROM deg0 WHERE d >= 3),
    e1 AS (
      SELECT ua, ub FROM edges
      WHERE ua IN (SELECT node FROM s1) AND ub IN (SELECT node FROM s1)
    ),
    deg1 AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT ua AS node FROM e1 UNION ALL SELECT ub FROM e1
      ) GROUP BY node
    ),
    s2 AS (SELECT node FROM deg1 WHERE d >= 3),
    e2 AS (
      SELECT ua, ub FROM e1
      WHERE ua IN (SELECT node FROM s2) AND ub IN (SELECT node FROM s2)
    ),
    deg2 AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT ua AS node FROM e2 UNION ALL SELECT ub FROM e2
      ) GROUP BY node
    ),
    s3 AS (SELECT node FROM deg2 WHERE d >= 3)
    SELECT d0.node AS user_id, d0.d AS degree,
           CASE WHEN d0.node IN (SELECT node FROM s3)
                THEN TRUE ELSE FALSE END AS in_3core
    FROM deg0 d0
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core membership of the user co-presence graph after three
    synchronous peel rounds — the community-density screen ("which
    users sit in a tight cluster of mutually co-active users") used
    to find engaged cohorts and bot rings. The round count is pinned
    at 3 so the oracle unrolls the identical peels; the Spark side
    runs the same loop via ``kcore_peel`` (which at scale would run
    to a count-fixpoint instead). Output: every node with its
    original degree and its 3-core survival flag. Gate cost is
    dominated by the three checkpointed round-jobs (fixed
    job-submission overhead like graph_pagerank_2iter, not plan
    cost)."""
    edges = user_copresence_edges(spark, sf_dir)
    deg0 = _induced_degrees(edges)
    core = kcore_peel(edges, k=3, rounds=3).withColumn(
        "in_3core", F.lit(True)
    )
    return deg0.join(core, "node", "left").select(
        F.col("node").alias("user_id"),
        F.col("d").alias("degree"),
        F.coalesce("in_3core", F.lit(False)).alias("in_3core"),
    )


@query(
    "graph_adamic_adar",
    oracle="""
    WITH buyers AS (
      SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    deg AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS d
      FROM buyers GROUP BY part
    ),
    pairs AS (
      SELECT a.cust AS cust_a, b.cust AS cust_b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             SUM(1.0 / ln(deg.d)) AS aa
      FROM buyers a
      JOIN buyers b ON a.part = b.part AND a.cust < b.cust
      JOIN deg ON deg.part = a.part
      WHERE deg.d BETWEEN 2 AND 64
      GROUP BY 1, 2
    )
    SELECT cust_a, cust_b, n_common,
           FLOOR(aa * 1e6) / 1e6 AS adamic_adar
    FROM pairs
    ORDER BY aa DESC, cust_a, cust_b LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the customer-part bipartite
    graph: for customer pairs sharing purchased parts, score
    sum(1/ln(buyers_of_part)) — rare shared parts count more. The
    candidate generator is the part-keyed self-join of the distinct
    (customer, part) relation RESTRICTED to parts with 2..64 buyers
    BEFORE pairing (the orders_also_bought `keep` pattern): the
    degree filter sits below both self-join inputs in the optimized
    plan, so pair enumeration is bounded by 64^2 per part AS
    EXECUTED — a ubiquitous part never materializes B^2 join rows.
    (Ubiquitous items carry ~no signal and their 1/ln weight is
    minimal — the standard link-prediction cut, and the knob that
    bounds the worst part's fan-out at 100 TB; the cap-below-join
    property is gated in tests/test_plans.py.) The kept relation
    carries the part degree, so no third join is needed; top-20 is
    TakeOrdered with full key tie-break. The distinct (cust, part)
    relation is the same one orders_also_bought distills — both pull
    it from the shared session relation cache, so either query warms
    the other."""
    from free_etl_spark.queries.tpch_more import bought_baskets

    buyers = bought_baskets(spark, sf_dir)
    deg = buyers.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # The filtered degree relation is one row per 2..64-buyer part —
    # a part-keyed dimension, tiny relative to the bipartite fact —
    # so it BROADCASTS: each self-join side is then the (reusable)
    # part-keyed exchange of `buyers` plus a map-side hash join,
    # instead of two extra shuffle joins per side (9.7 s shuffle-form
    # vs 4.3 s broadcast-form at sf0.1 — the renamed b-side projection
    # defeats exchange reuse of the whole kept subtree).
    kept = buyers.join(
        F.broadcast(deg.filter((F.col("d") >= 2) & (F.col("d") <= 64))),
        "part",
    )
    a = kept.alias("a")
    b = kept.select(
        F.col("cust").alias("cust_b"), F.col("part").alias("pb")
    )
    pairs = (
        a.join(b, (F.col("a.part") == F.col("pb")) & (F.col("a.cust") < F.col("cust_b")))
        .groupBy(F.col("a.cust").alias("cust_a"), "cust_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(1.0 / F.log("d")).alias("aa"),
        )
    )
    return (
        pairs.orderBy(F.col("aa").desc(), "cust_a", "cust_b")
        .limit(20)
        .select(
            "cust_a",
            "cust_b",
            "n_common",
            (F.floor(F.col("aa") * 1e6) / 1e6).alias("adamic_adar"),
        )
    )


_MIN_EDGES_CAPPED_SQL = _capped_edges_sql(
    "minute", "%Y-%m-%d %H:%M", _MINUTE_CAP
)


def user_interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINUTE-grain co-presence edges (>= 2 shared active minutes):
    the sparse 'interaction' graph, vs user_copresence_edges' hour
    grain which this synthetic corpus saturates into a near-complete
    graph (sf0.1: avg degree 1464 of 1499 — any triangle enumeration
    over it is Omega(n^3) regardless of algorithm). Tightening the
    bucket is the REAL scale knob the hour-grain docstring promises:
    the same distill-join-filter pipeline, two orders of magnitude
    fewer edges (sf0.1: 5.6k edges, max degree 28), and a semantics
    ('repeatedly active in the same minute') that actually indicates
    interaction rather than mere coexistence, capped per bucket at
    _MINUTE_CAP (density axis — see _capped_active). Persisted like
    its hour-grain sibling."""

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        um = ev.select(
            F.col("user_id").alias("u"),
            F.date_trunc("minute", F.col("ts")).alias("b"),
        ).distinct()
        return _capped_pairs(
            _capped_active(um, "yyyy-MM-dd HH:mm", _MINUTE_CAP)
        )

    return cache.relation(
        spark, sf_dir, "user_min_edges", build, src_table="events.parquet"
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_MIN_EDGES_CAPPED_SQL},
    tris AS (
      SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
      FROM edges e1
      JOIN edges e2 ON e2.ua = e1.ub
      JOIN edges e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
    ),
    node_tri AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT ua AS node FROM edges UNION ALL SELECT ub FROM edges
      ) GROUP BY node
    )
    SELECT deg.node AS user_id, deg.d AS degree,
           COALESCE(node_tri.t, 0) AS tri_cnt,
           CASE WHEN deg.d >= 2
                THEN FLOOR(2.0 * COALESCE(node_tri.t, 0)
                           / (deg.d * (deg.d - 1)) * 1e6) / 1e6
                ELSE 0.0 END AS clustering_coeff
    FROM deg LEFT JOIN node_tri ON node_tri.node = deg.node
    """,
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local clustering coefficient per user over the minute-grain
    interaction graph: 2*triangles / d*(d-1) — how much each user's
    neighborhood is itself interconnected (near 1 = tight clique,
    the bot-ring / community-core signal that degree alone misses).
    Runs the compact-forward triangle machinery (triangle_counts:
    wedges centered on the lowest-degree endpoint, tuple-order
    orientation, no rank window) over user_interaction_edges — the
    SPARSE minute-grain graph; the hour-grain copresence graph is
    near-complete on this corpus, which makes triangle work
    Omega(n^3) by definition, not by plan (measured 38.8 s at sf0.1
    before the re-grain, 2 orders of magnitude of wasted wedges).
    The coefficient itself is an exact integer ratio FLOOR-6ed — no
    FP boundary. Degrees and triangles join node-keyed."""

    edges = user_interaction_edges(spark, sf_dir)
    und = edges.select(F.col("ua").alias("a"), F.col("ub").alias("b"))
    deg = node_degrees(und)
    # the oriented edge list feeds the wedge self-join three times —
    # persist it (edge-set-sized) exactly like graph_triangle_count,
    # or the orientation joins replay per branch
    er = cache.relation(
        spark,
        sf_dir,
        "user_min_er",
        lambda: oriented_edges(und, deg),
        src_table="events.parquet",
    )
    tri = triangle_counts(und, deg=deg, er=er).withColumnRenamed(
        "node", "tnode"
    )
    return (
        deg.join(tri, F.col("node") == F.col("tnode"), "left")
        .select(
            F.col("node").alias("user_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("tri_cnt"), F.lit(0))
            .cast("long")
            .alias("tri_cnt"),
            F.when(
                F.col("d") >= 2,
                F.floor(
                    2.0
                    * F.coalesce(F.col("tri_cnt"), F.lit(0))
                    / (F.col("d") * (F.col("d") - 1))
                    * 1e6
                )
                / 1e6,
            )
            .otherwise(0.0)
            .alias("clustering_coeff"),
        )
    )


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_MIN_EDGES_CAPPED_SQL},
    sym AS (
      SELECT ua AS node, ub AS nbr FROM edges
      UNION ALL
      SELECT ub, ua FROM edges
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY node
    ),
    kept AS (
      SELECT s.node, s.nbr FROM sym s
      JOIN deg ON deg.node = s.nbr
      WHERE deg.d BETWEEN 2 AND 64
    ),
    kdeg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS kd FROM kept GROUP BY node
    ),
    common AS (
      SELECT a.node AS user_a, b.node AS user_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM kept a JOIN kept b ON a.nbr = b.nbr AND a.node < b.node
      GROUP BY 1, 2
    )
    SELECT c.user_a, c.user_b, c.n_common,
           CAST(c.n_common AS DOUBLE)
             / CAST(ka.kd + kb.kd - c.n_common AS DOUBLE) AS jaccard
    FROM common c
    JOIN kdeg ka ON ka.node = c.user_a
    JOIN kdeg kb ON kb.node = c.user_b
    ORDER BY jaccard DESC, c.user_a, c.user_b LIMIT 20
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard link prediction over the user co-presence
    graph: for user pairs sharing neighbors, |N(a) intersect N(b)| /
    |N(a) union N(b)| — the normalized companion to graph_adamic_adar
    (which weights rare common neighbors by 1/ln d). Semantics are
    defined over the HUB-CAPPED subgraph: wedge centers (the shared
    neighbor) are restricted to degree 2..64 BEFORE pair enumeration,
    and the degrees in the denominator count only capped-center
    adjacencies, so numerator and denominator describe the same
    subgraph — the standard link-prediction cut that bounds the
    worst hub's wedge fan-out at 64^2 AS EXECUTED (hub neighbors
    carry ~no signal: everyone shares them). The filtered degree
    relation is a node-keyed dimension and BROADCASTS below both
    self-join inputs (the graph_adamic_adar pattern, gated in
    tests/test_plans.py); top-20 is TakeOrdered with full-key
    tie-break. The Jaccard ratio is one IEEE division of exact
    integers — engine-deterministic without rounding. Substrate is
    the MINUTE-grain interaction graph (max degree 28 at sf0.1): the
    hour-grain copresence graph is near-complete on this corpus
    (every degree > 64), so the hub cap would empty it — the same
    re-grain lesson as graph_clustering_coefficient."""
    edges = user_interaction_edges(spark, sf_dir)
    sym = edges.select(
        F.col("ua").alias("node"), F.col("ub").alias("nbr")
    ).unionAll(edges.select(F.col("ub").alias("node"), F.col("ua").alias("nbr")))
    deg = sym.groupBy(F.col("nbr").alias("cnode")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # degree keyed by nbr (identical to by-node under symmetrization)
    # so the broadcast joins directly on the wedge-center column.
    kept = sym.join(
        F.broadcast(deg.filter((F.col("d") >= 2) & (F.col("d") <= 64))),
        sym.nbr == F.col("cnode"),
    ).select("node", "nbr")
    kdeg = kept.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("kd")
    ).localCheckpoint(eager=True)
    a = kept.alias("a")
    b = kept.select(F.col("node").alias("node_b"), F.col("nbr").alias("nb"))
    common = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("nb")) & (F.col("a.node") < F.col("node_b")),
        )
        .groupBy(
            F.col("a.node").alias("user_a"), F.col("node_b").alias("user_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    ka = kdeg.select(F.col("node").alias("user_a"), F.col("kd").alias("kda"))
    kb = kdeg.select(F.col("node").alias("user_b"), F.col("kd").alias("kdb"))
    scored = (
        common.join(ka, "user_a")
        .join(kb, "user_b")
        .select(
            "user_a",
            "user_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (
                    F.col("kda") + F.col("kdb") - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "user_a", "user_b"
    ).limit(20)
