"""Workload definitions and the metric catalogue of the benchmark.

Each workload draws a fixed key list from its pool of declared keys (see
README.md, "Workloads"); the run seed only fixes the order the keys are
issued in. `pass_s` is the nominal time of one pass over the list, so a
run makes one warm-up pass and then `max(1, round(seconds / pass_s))`
timed passes: the same work on every run.
"""
import json
import os
import subprocess

BASE_SF = "0.1"

BATCH_FAMILIES = ("tpch agg join win filter scan src sort set reshape etl stat orders events "
                  "ts fn sample feat sql subquery expr project udf udaf udtf typed plan topk "
                  "sessionize sketch").split()
LLM_FAMILIES = "dedup sim emb text doc mm domain pipeline graph".split()
LLM_EXACT = ["sim_cosine_topk", "emb_neardup"]

# the scale-path keys of graft.ScaleBench whose family is an LLM/corpus one
SCALE_FAMILY_LLM = """
dedup_norm dedup_minhash dedup_simhash dedup_simhash64 dedup_components_lsh sim_ann_ivf
sim_ann_kmeans doc_tfidf text_tokens doc_pack doc_bm25 text_contamination domain_mix
text_repetition graph_pagerank graph_bfs_rcte sim_ann_pq graph_common_neighbors
text_gopher_rules text_stopword_prune doc_prefix_dedup doc_shuffle_shard graph_kcore
emb_pca_power sim_mmr graph_assortativity sim_ann_trunc doc_filter_waterfall
graph_clustering_coef graph_label_prop graph_two_hop emb_dim_stats sim_centroid_classify
emb_norm_qc text_burstiness domain_mix_temperature sim_pair_hist_sampled
graph_two_hop_capped graph_clustering_coef_capped dedup_url mm_payload_dedup
emb_outlier_mahal text_perplexity_filter dedup_pipeline emb_neardup_lsh dedup_semantic
dedup_containment_filtered dedup_paragraph text_dsir mm_shard_manifest text_kn_bigram
graph_sample_neighbors dedup_cdc graph_adamic_adar_capped text_train_coverage
sim_ann_graph sim_ann_graph_staged text_kn_bigram_hashed dedup_soft_weights
text_ngram_novelty graph_eigen_centrality text_heaps_law text_js_divergence
graph_rich_club pipeline_corpus_build text_simpson_diversity text_mattr text_zipf_ols
text_yule_k text_tfidf_top dedup_lsh_curve graph_degree_gini text_source_overlap
dedup_shingle_profile graph_avg_neighbor_degree emb_hubness_sampled
""".split()

# Keys of the dedup, similarity and text kernels of graft.api and
# graft.functions that batch_sql runs at sf0.1, so the kernel layer is
# measured on a listed workload: SimilarityOps.cosineTopK over DotProduct
# (the exact top-k of ROADMAP item 5), DedupOps over MinHashSignature,
# DedupOps.simhashSignatures and TextOps.tokenFrequencies.
KERNEL_SLICE = ["sim_cosine_topk", "dedup_minhash", "dedup_simhash", "text_tokens"]

# Timed key lists: a systematic draw (every n-th key of the sorted pool,
# from the first) sized so that a pass fits the run; see README.md.
WORKLOADS = {
    "batch_sql": {  # every 25th of the 344 relational keys, then the kernel slice
        "pass_s": 10.0, "staging": [],
        "keys": ["agg_anova", "agg_mean_ci", "etl_fk_orphans", "events_funnel_time",
                 "feat_target_encode", "fn_json2", "join_broadcast", "orders_interarrival",
                 "sample_importance", "sketch_cms", "stat_delta_method_ci", "tpch_q1", "ts_cusum",
                 "udaf_geomean"]
                + KERNEL_SLICE,
    },
    "llm_scale": {  # every 11th of 78 keys, on the 3x corpus
        # its staging takes about 13 s per set-up at 3x, so fewer set-ups
        # keep a traced run inside the run time limit
        "pass_s": 10.0, "staging": ["analytics"], "factor": 3, "setups": 3,
        "keys": ["dedup_cdc", "dedup_simhash64", "emb_dim_stats", "graph_clustering_coef",
                 "graph_two_hop_capped", "sim_cosine_topk", "text_mattr", "text_zipf_ols"],
    },
    "lake_write": {  # every 9th of 45 keys, plus one sink
        "pass_s": 10.0, "staging": [],
        "keys": ["lake_bloom_prune", "lake_compact", "lake_merge", "lake_rename",
                 "lake_stream_read", "sink_custom_v2"],
    },
    "stream": {  # every 5th of 26 keys
        "pass_s": 15.0, "staging": ["stream"],
        "keys": ["stream_chained_agg", "stream_global_agg", "stream_sliding", "stream_static_join",
                 "stream_tumbling", "stream_window_topk"],
    },
}

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"), ("query_tail_s", "s"),
    ("task_cpu_s", "s"), ("retained_heap_mb", "MB"),
]

PER_LAYER = [
    ("failed_frac", "ratio"), ("write_mb", "MB"), ("trigger_p50_ms", "ms"),
    ("trigger_tail_ms", "ms"), ("trace.wall_s", "s"),
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.actions", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.single_task_stages", "count"), ("exec.busy_s", "s"), ("exec.driver_gap_s", "s"),
    ("exec.task_run_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
    ("tables.input_mb", "MB"), ("tables.input_rows", "count"),
    ("lake.commits", "count"), ("lake.log_kb", "KB"), ("lake.data_files", "count"),
    ("lake.s_per_commit", "s"),
    ("streaming.triggers", "count"), ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.latest_offset_ms", "ms"),
    ("streaming.get_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("session.rdds_left", "count"), ("session.cache_entries_left", "count"),
    ("session.threads_delta", "count"), ("session.tmp_files_left", "count"),
]


def expected_name(sf, factor):
    return f"sf{sf}.json" if sf else (f"llm_x{factor}.json" if factor else f"sf{BASE_SF}.json")


def declared_keys(cp, build_dir):
    """Keys of `SparkEntry.oracleSql` -> SQL, dumped once per build."""
    path = os.path.join(build_dir, "oracle_sql.json")
    stamp = os.path.join(build_dir, "build.stamp")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(stamp):
        subprocess.check_call(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Harness", "oracle", path],
                              stdout=subprocess.DEVNULL)
    return json.load(open(path))


def pool(workload, oracle):
    """Every declared key with an oracle that belongs to the workload."""
    def fam(k):
        return k.split("_", 1)[0]
    if workload == "batch_sql":
        keys = [k for k in oracle if fam(k) in BATCH_FAMILIES or k in KERNEL_SLICE]
    elif workload == "llm_scale":
        keys = [k for k in oracle if (k in SCALE_FAMILY_LLM and fam(k) in LLM_FAMILIES) or k in LLM_EXACT]
    elif workload == "lake_write":
        keys = [k for k in oracle if fam(k) in ("lake", "sink")]
    else:
        keys = [k for k in oracle if fam(k) == "stream"]
    return sorted(keys)
