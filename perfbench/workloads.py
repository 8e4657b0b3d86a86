"""The benchmark's workloads: fixed lists of catalog entries.

Each workload is a closed loop with one client: one Spark driver process runs
its entries one after another, each through a noop sink. ``tables`` are
the catalog tables the entries read (the tests hold them to exactly the
tables a traced run sees); set-up warms these. ``pass_s`` is a nominal
warm-pass time on a 4-core host: ``--seconds`` over it, rounded up, is the
run's fixed number of timed warm passes.

Two families:

- ``GATE`` -- ``sql`` and ``pipeline``, the workloads BENCHMARK.json
  registers. They are cut to fit a run of about a minute, set-up and
  output check included.
- ``FULL`` -- ``relational``, ``iterative``, ``genomics_io`` and
  ``corpus``, the whole entry lists, for layer studies; one run takes
  one to two minutes. ``--workload full`` runs all four.
"""

from __future__ import annotations

_TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

FULL: dict[str, dict] = {
    "relational": {
        "why": "many short SQL-shaped queries over shared tables; per-query "
        "fixed costs dominate and there is no Python boundary",
        "entries": [
            "q1_pricing_summary", "scan_project", "count_distinct",
            "join_inner_agg", "join_left_outer", "join_broadcast_dims",
            "window_topk_per_group", "group_having_band", "set_intersect",
            "orderby_limit", "q3_shipping_priority", "q5_local_supplier_volume",
            "q9_product_profit", "q21_waiting_orders", "q18_large_orders",
            "q7_nation_volume", "events_asof_join", "sessionize_events",
            "window_tumbling", "events_funnel",
        ],
        "tables": _TPCH + ["events"],
        "pass_s": 16.0,
    },
    "iterative": {
        "why": "graph and clustering loops whose driver-side construction "
        "runs many eager Spark jobs before the final action",
        "entries": [
            "graph_bfs_hops", "graph_pagerank", "graph_mst_boruvka",
            "graph_kcore", "graph_label_propagation", "graph_sssp_weighted",
            "embed_kmeans_lloyd", "graph_hits_bipartite",
        ],
        "tables": ["orders", "lineitem", "embeddings"],
        "pass_s": 36.0,
    },
    "genomics_io": {
        "why": "the paper's pipeline stages: FASTQ/FASTA/SAM/BAM/BLAST files "
        "written and read back, the ORF pandas UDF, the Python DataSource",
        "entries": [
            "virapipe_chain", "filter_avg_quality", "kmer_count_band",
            "normalize_digital", "orf_six_frame", "fastq_scan_roundtrip",
            "fasta_scan_roundtrip", "sam_scan_roundtrip", "sam_to_fastq_convert",
            "blast_scan_roundtrip", "bam_write_roundtrip",
            "bam_split_scan_roundtrip", "fastq_datasource_chain",
            "interleave_zip", "reads_adapter_trim", "grouped_write_roundtrip",
        ],
        "tables": ["documents", "orders"],
        "pass_s": 21.0,
    },
    "corpus": {
        "why": "execution-bound similarity search and dedup: large shuffles "
        "and the Arrow/pandas boundary",
        "entries": [
            "docs_setsim_prefix", "embed_knn_pq", "docs_minhash_lsh",
            "embed_semdedup_verdicts", "docs_substring_dedup",
            "events_tdigest_daily_merge", "multimodal_sobel_energy",
        ],
        "tables": ["documents", "embeddings", "events"],
        "pass_s": 17.0,
    },
}

GATE: dict[str, dict] = {
    "sql": {
        "why": "TPC-H-style scans and joins over shared tables: schema "
        "inference, Catalyst and short jobs; no Python boundary",
        "entries": [
            "q1_pricing_summary", "scan_project", "join_inner_agg",
            "q5_local_supplier_volume", "q9_product_profit",
        ],
        "tables": _TPCH,
        "pass_s": 3.0,
    },
    "pipeline": {
        "why": "a graph loop's eager driver-side jobs, the ORF pandas UDF, "
        "and a BAM write read back",
        "entries": ["graph_bfs_hops", "orf_six_frame", "bam_write_roundtrip"],
        "tables": ["lineitem", "documents"],
        "pass_s": 4.0,
    },
}

WORKLOADS: dict[str, dict] = {**GATE, **FULL}
