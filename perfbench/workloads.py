"""Workloads of the benchmark and the input they read.

A workload is a list of `graft.SparkEntry.queries` keys run one at a time
by one closed-loop client. Both read one dataset, generated once per
checkout by `gen_tables.py` from its scale factor and data seed and
checked against `manifest.json` before every run.
"""

SF = 0.01
DATA_SEED = 42

WORKLOADS = {
    # Per-query fixed cost: each query reads 1-8 tables (one footer-
    # inference job per read), plans, and runs a few short jobs. The
    # reference script's surface (ingest, cleaning, stats, chi2/ANOVA,
    # regression, Lambert-93, the q100 pipeline) plus TPC-H join shapes.
    "etl-short": [
        "q01_agg_pricing", "q05_winsorize", "q09_join_star",
        "q13_grouped_stats", "q19_corr_cov", "q20_regression_closed",
        "q21_chi2", "q22_anova", "q28_lambert93", "q43_clean_chain",
        "q100_pipeline_e2e", "q241_tpch_q3",
    ],
    # Work done while the DataFrame is built: the eager checkpoint and
    # scalar jobs of an iterative graph algorithm and of embedding-based
    # dedup, a micro-batch stream with state-store commits, and a JSONL
    # write-and-read roundtrip. The only workload that runs graft.graph,
    # graft.dedup, graft.streaming and the graft.io sinks.
    "build-heavy": [
        "q133_pagerank", "q108_semdedup", "q228_stream_upsert",
        "q83_jsonl_roundtrip",
    ],
}
