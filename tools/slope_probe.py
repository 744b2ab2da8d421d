"""Scaling-exponent probe (VERDICT r9 task #5): time a query list at
two scale factors a decade apart (sf0.01 -> sf0.1) and report the
per-query decade exponent  e = log10(t_hi / t_lo)  — t ~ N^e over the
measured decade. A bucketed/linear plan shows e <= ~1; fixed-overhead
harnesses (streaming replay) show e ~ 0; anything super-linear gets a
named cause in docs/SCALE.md.

Caveat recorded with the table: at sub-second absolute times the
per-query constant (plan compile, session dispatch) is a significant
share of t_lo, which UNDERSTATES the exponent; treat e as a
sanity bound, not a regression statistic. Each point is best-of-3 on
a warm session (this host's stall variance is documented in bench.py).

Cache discipline (ADVICE r10): the session cache (free_etl_spark/
cache.py: relations, the BPE fit, prefix relations) is cleared before EVERY
timed execution, so each number is the query's STANDALONE cost with
its relation builds included — the build path is what must scale, and
without the clear reps 2-3 of a cache-riding query (sim_ivf_topk,
dedup_semdedup_keep, ...) time only the persisted-relation read.
Steady-state warm numbers are a different quantity and live in
BENCH_QUERIES_r*.json (bench.py runs HEADLINE-first with warm shared
relations, as production would).

Usage: python tools/slope_probe.py [query ...]   # default: built-in list
Prints one JSON line {"queries": {name: {"t_lo": s, "t_hi": s,
"exponent": e}}, "lo": dir, "hi": dir}.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LO = os.environ.get("SLOPE_LO", "/root/testdata/sf0.01")
HI = os.environ.get("SLOPE_HI", "/root/testdata/sf0.1")

# the most expensive stamped queries (BENCH_QUERIES_r09) + the main
# candidate-generation families whose scaling is the 100 TB claim
DEFAULT = [
    "sim_knn_classifier",
    "orders_also_bought",
    "streaming_cdc_upsert",
    "agg_poisson_bootstrap_ci",
    "streaming_mv_refresh",
    "graph_kcore",
    "dedup_semdedup_keep",
    "agg_approx_distinct",
    "graph_jaccard_neighbors",
    "graph_adamic_adar",
    "emb_kmeans_2iter",
    "sample_leakage_safe_split",
    "dedup_minhash_lsh",
    "sim_ivf_topk",
    "tpch_q1_pricing_summary",
    "events_sessionize",
]


def main() -> None:
    import free_etl_spark.queries as q
    from free_etl_spark import cache
    from free_etl_spark.session import get_spark
    from free_etl_spark.tables import ALL_TABLES, load_table

    names = sys.argv[1:] or DEFAULT
    spark = get_spark("slope-probe")
    spark.range(1000).count()
    spark.range(10000).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    out: dict[str, dict] = {}
    for sf_dir, key in ((LO, "t_lo"), (HI, "t_hi")):
        for t in ALL_TABLES:
            load_table(spark, sf_dir, t).count()
        # interleaved best-of-3 (bench.py methodology: one host stall
        # must not poison all reps of adjacent queries)
        for _ in range(3):
            for name in names:
                # standalone cost: no query rides another's (or its
                # own prior rep's) persisted relation — see docstring
                cache.clear(spark)
                t0 = time.time()
                q.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                rec = out.setdefault(name, {})
                rec[key] = round(min(rec.get(key, float("inf")), dt), 3)
    for rec in out.values():
        rec["exponent"] = round(
            math.log10(rec["t_hi"] / rec["t_lo"]), 2
        )
    print(json.dumps({"lo": LO, "hi": HI, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
