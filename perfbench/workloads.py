"""The benchmark's workloads: which artifacts each builds in set-up and which
engine entries (by `Core.Entry` name) its serving loop calls.

Each workload is the bypass case for the other: a change aimed at one
workload's layers predicts no change on the other. Left out everywhere: the
exact all-pairs oracle anchors behind `Core.exactAnchorGuard`
(vec_cosine_pairs, vec_knn_join, text_ngram_jaccard) and the
`*_index_build` entries, whose builds set-up already times.

A run serves `warmup` untimed passes, then round(S / pass_s) timed passes
(at least one) for a run of --seconds S, so every run of a given length does
the same work whatever its speed. A warm-up pass fills the JVM's code caches
and the engine's lazy state. wall_s is the median of the timed passes, so
with three or more the first, cold pass does not reach it; with one or two
it would, so such a workload needs a warm-up pass. `batches_per_pass` admission micro-batches per gate are
spread through each timed pass, and one per gate through each warm-up pass.
"""

WORKLOADS = {
    # Star-schema and event analytics: the scan, join, exchange and
    # FactLayout path does nearly all the work; the text and index layers
    # idle. A short mix of cheap entries served in five timed passes, so
    # that wall_s is a median of passes and the 40 reads give op_tail_s a
    # p75 with 10 samples beyond it.
    "analytics": {
        "setup": ["fact_layout"],
        "warmup": 0,
        "pass_s": 2,
        "ops": [
            # FactLayout consumers, served exchange-free from the bucketed copies
            "q17_small_quantity", "q18_large_orders", "q21_lone_blame",
            # Relational
            "q6_forecast_revenue",
            # Funcs
            "fn_regex",
            # TimeSeriesQ
            "ts_tumbling",
            # GraphOps
            "graph_triangle_count",
            # ExtensibilityOps, relational entries
            "join_skew_salted",
        ],
    },
    # LLM corpus curation and similarity search over one document lake.
    # Curation: shared-frame memos, the label-propagation and BPE loops
    # (driver-bound) and the minhash kernels. Search: small planning-bound
    # probes over the persisted indexes, interleaved with admission-gate
    # micro-batches that append to the same index layer, so a read-path gain
    # that costs the writes shows. The Relational layer idles. Two timed
    # passes: a single 10 s pass let one burst of load on the machine set
    # wall_s and op_p50_s (run-to-run spread 0.19-0.26 of the median, against
    # 0.11-0.15 with two).
    "curation_search": {
        "setup": ["shared_frames", "dedup_clusters", "bpe_model", "sim_index",
                  "ivf_index", "pq_index", "embed_model", "doc_gate_index",
                  "vec_gate_index"],
        "warmup": 1,
        "pass_s": 5,
        "ops": [
            "text_dedup_near",  # TextOps
            "text_bpe_apply",  # TokenizerOps
            "quality_classifier_apply",  # QualityOps
            "text_gopher_rules",  # PipelineOps
            "text_embed_learned",  # EmbedOps
            # IndexOps, IvfIndex, PqIndex: probes
            "sim_index_probe", "ivf_index_probe", "pq_index_probe",
            "vec_knn_topk",  # VecOps
        ],
        "batches_per_pass": 1,
    },
}
