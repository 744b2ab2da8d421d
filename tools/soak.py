"""Session-state soak: run every registered query twice in ONE
SparkSession (the way a driver harness would), then hammer the
sf-dir-switching path on the cache-using queries — catches cross-query
state bugs (stale temp views, conf leakage, mis-keyed caches) that
per-query tests cannot.

Usage: python tools/soak.py [sf_dir] [seed]

With a ``seed`` (any int), the soak becomes a RANDOM-ORDER fuzzer
(VERDICT r12 task 6): pass 1 runs in registry order to establish
reference counts, pass 2 and the sf-switch phase run in a
``random.Random(seed)``-shuffled order. Order-dependent state leaks —
a conf set by query A that flips query B's result only when A runs
first — are invisible to the fixed order (the r12
partitionOverwriteMode leak was caught only because the fixed order
happened to interleave the right pair); a seeded shuffle explores a
different interleaving per seed while staying fully reproducible.
Ledger each clean run's seed in docs/ORACLE.md.

Exit code 0 = no failures, no row drift between passes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from free_etl_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

_SWITCH_TARGETS = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_ngram_containment",   # shares the capped-pairs cache
    "multimodal_phash_dedup",    # per-corpus phash signature cache
    "text_contamination_check",
    "source_csv_roundtrip",
    "join_bucketed_colocated",
    "dedup_pipeline_keep_set",
    "graph_pagerank_2iter",      # per-corpus transition-edge cache
    "graph_triangle_count",      # per-corpus oriented-edge cache
    "graph_label_propagation",   # per-corpus neighbor cache
    "streaming_neardup_filter",  # per-corpus minhash band index
    "streaming_cdc_upsert",      # per-application target dir rebuild
    "streaming_cdc_with_deletes",  # tombstone target dir rebuild
    "sample_leakage_safe_split",  # rides the components/shingle caches
    "sample_curriculum_shards",  # cache.by_plan slot: a new plan retires
    "window_ntile_movavg",       # cache.by_plan slot: a new plan retires
    "orders_rfm_segmentation",   # three prefix tags per construction
    "orders_also_bought",        # shared bought_baskets relation cache
    "graph_adamic_adar",         # same bought_baskets cache, 2nd consumer
    "graph_jaccard_neighbors",   # minute-grain interaction-edge cache
    "dedup_simhash_pairs",       # simhash_sig signature cache
    "multimodal_audio_vad",      # shared pcm_frames decode cache
    "dedup_embedding_cosine",    # emb_cos_pairs cache (semdedup shares)
    "dedup_semdedup_keep",       # rides emb_cos_pairs across sf switch
    # r10: shared IVF nearest-centroid relation + its four consumers
    "sim_ivf_topk",
    "sim_range_search",
    "sim_ivf_recall_curve",
    "sim_ivf_build_stats",
    "multimodal_frame_phash_dedup",  # frame_phash_sig cache
    "sample_epoch_mix_schedule",     # cache.by_plan slot
    "text_bpe_encode",               # shared cache.memo BPE fit
    "text_bpe_fertility_by_lang",    # same fit, 3rd consumer
    # r11: per-(sf, app) /tmp fixtures + temp views that must re-key
    # on an sf switch within one session
    "source_xlsx_distributed",       # xlsx fixture dir per sf
    "source_zorder_clustered_scan",  # zorder layout dir per sf
    "source_compaction_roundtrip",   # compacted dir per sf
    "sql_scripting_binary_search",   # scr_hist TEMP VIEW re-pointed per call
    "streaming_interval_join_left_outer",  # heartbeat dir per sf
    "streaming_psi_drift_probe",     # baseline cuts recomputed per call
    "dedup_chat_turns",              # _chat_conversations shared relation
    "multimodal_audio_fingerprint_dedup",  # pcm fingerprint plane
    # r12: per-(sf, app) export/store fixtures + cache-riding consumers
    "source_range_partitioned_export",  # range layout dir per sf
    "source_mor_delete_vectors",        # base+delete-vector dirs per sf
    "pipeline_partition_backfill",      # fresh ws per call, sf-keyed
    "sim_ivfpq_adc_search",             # persisted IVF+PQ store per sf
    "sim_ivf_recluster_apply",          # full store rebuild per call
    "join_bloom_prefilter",             # stateless control
    # r13: persisted-store consumers + the commit-log fixture
    "sim_pq_quantization_error",        # rides the _ivfpq_store fixture
    "streaming_ann_probe",              # stream-static against same store
    "source_time_travel_read",          # commit-log fixture per sf
    "source_log_compact_vacuum",        # compaction+vacuum fixture per sf
]


def main() -> int:
    import random

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else None
    # the switch partner must be a DIFFERENT tier, or the sf-switch
    # phase would compare a directory against itself and test nothing
    other_sf = (
        "/root/testdata/sf0.01"
        if os.path.normpath(sf_dir).endswith("sf0.001")
        else "/root/testdata/sf0.001"
    )
    spark = get_spark("soak")
    qs = entrymod.queries()
    bad: list[tuple[str, str, str]] = []

    first: dict[str, int] = {}
    for name, fn in qs.items():
        try:
            first[name] = fn(spark, sf_dir).count()
        except Exception as ex:  # noqa: BLE001
            bad.append((name, "pass1", str(ex).splitlines()[0][:100]))
    pass2_order = list(qs)
    switch_targets = list(_SWITCH_TARGETS)
    if seed is not None:
        rng = random.Random(seed)
        rng.shuffle(pass2_order)
        rng.shuffle(switch_targets)
        print(f"random-order fuzz: seed={seed}")
    for name in pass2_order:
        fn = qs[name]
        try:
            n2 = fn(spark, sf_dir).count()
            # only compare when pass 1 succeeded — a pass-1 crash is
            # already reported once, not again as bogus drift
            if name in first and n2 != first[name]:
                bad.append((name, "row-drift", f"{first[name]} -> {n2}"))
        except Exception as ex:  # noqa: BLE001
            bad.append((name, "pass2", str(ex).splitlines()[0][:100]))

    ref: dict[tuple[str, str], int] = {}
    for d in (other_sf, sf_dir, other_sf):
        for name in switch_targets:
            try:
                n = qs[name](spark, d).count()
            except Exception as ex:  # noqa: BLE001
                bad.append((name, f"sf-switch {d}", str(ex).splitlines()[0][:100]))
                continue
            key = (name, d)
            if key in ref and ref[key] != n:
                bad.append((name, "sf-switch-drift", f"{d}: {ref[key]} -> {n}"))
            ref[key] = n

    print(f"{len(qs)} queries × 2 passes + sf-switch: {len(bad)} failures")
    for b in bad:
        print("FAIL", *b)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
