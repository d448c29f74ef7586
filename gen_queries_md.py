"""Regenerate QUERIES.md from the declared-query registry."""

import os
import sys

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
from rusty_timeseries_db_spark import queries as Q  # noqa: E402

GROUPS = [
    ("Reference fidelity (R3/R4/R11)", ["q_r3", "q_r4", "q_r11"]),
    ("Projection / filter", ["q_filter", "q_project"]),
    ("Aggregation", ["q_agg", "q_count_distinct", "q_percentiles",
                     "q_percentile_disc", "q_rollup",
                     "q_cube", "q_grouping", "q_having", "q_collect",
                     "q_multi_count", "q_correlation", "q_string_agg",
                     "q_approx", "q_pivot", "q_unpivot", "q_histogram",
                     "q_linear_regression", "q_mode_per_group",
                     "q_bool_aggs", "q_quantile_buckets",
                     "q_running_distinct"]),
    ("Joins", ["q_join", "q_asof", "q_interval", "q_tpch", "q_null_safe",
               "q_correlated_subquery"]),
    ("Window functions", ["q_window"]),
    ("Sort / limit / top-k", ["q_topk", "q_global_sort"]),
    ("Set operations", ["q_union", "q_intersect", "q_except"]),
    ("Scalar function families", ["q_scalar", "q_levenshtein", "q_hash",
                                  "q_array", "q_map", "q_posexplode",
                                  "q_higher", "q_from_json", "q_to_json"]),
    ("Time-series ops", ["q_tumbling", "q_resample", "q_locf", "q_gaps",
                         "q_session", "q_time_weighted",
                         "q_linear_interp", "q_ewma", "q_sliding_window",
                         "q_event_transitions", "q_funnel",
                         "q_cohort_retention", "q_merge_intervals",
                         "q_rolling_corr", "q_seasonal_residuals",
                         "q_dense_grid"]),
    ("Series statistics & change detection",
     ["q_moving_median", "q_series_align_ratio", "q_cusum", "q_sax",
      "q_autocorr", "q_series_gap_report", "q_interarrival",
      "q_heavy_hitter", "q_daily_vs_trailing_week",
      "q_outlier_mad", "q_spearman", "q_seasonal_backtest"]),
    ("Downsampling & visualization",
     ["q_minmax_decimate", "q_lttb", "q_ohlc", "q_topn_with_others",
      "q_value_heatmap_2d", "q_top_movers", "q_audience_jaccard"]),
    ("Storage layout, rollups & profiling",
     ["q_continuous_rollup", "q_zorder", "q_hll",
      "q_delta_compression", "q_column_profile"]),
    ("Sources & interchange",
     ["q_orc", "q_json_roundtrip", "q_csv_roundtrip",
      "q_schema_evolution", "q_arrow_transform"]),
    ("SQL dialect surface",
     ["q_qualify", "q_python_udtf", "q_sql_"]),
    ("UDF surface", ["q_udf"]),
    ("FDD", ["q_fdd"]),
    ("LLM-pipeline: dedup & decontamination",
     ["q_dedup", "q_ngram", "q_minhash", "q_simhash",
      "q_embedding_neardup", "q_quality_filter", "q_contamination",
      "q_semantic_dedup", "q_duplicate_span", "q_soft_dedup",
      "q_span_decontamination", "q_paragraph_dedup",
      "q_boilerplate", "q_repetition_profile"]),
    ("LLM-pipeline: similarity / embeddings & retrieval",
     ["q_similarity", "q_embedding_knn", "q_kmeans",
      "q_embedding_quantization", "q_bm25"]),
    ("LLM-pipeline: text analysis", ["q_token", "q_quality_score", "q_langid",
                                     "q_rolling_hash", "q_bigram_vocab",
                                     "q_tfidf", "q_unigram_surprisal",
                                     "q_pii_scrub"]),
    ("LLM-pipeline: sampling, splitting, chunking & packing",
     ["q_hash_split", "q_deterministic_sample", "q_stratified_sample",
      "q_weighted_domain_sample", "q_sequence_packing", "q_chunk",
      "q_training_corpus_pipeline", "q_corpus_pipeline",
      "q_dsir", "q_temperature_sample", "q_domain_kl"]),
    ("Multimodal", ["q_multimodal"]),
    ("Feature serving & PIT", ["q_pit", "q_latest_values"]),
    ("Warehouse maintenance, serving & exactly-once",
     ["q_compaction", "q_exactly_once", "q_corpus_stream_served"]),
    ("Data quality & CDC",
     ["q_data_quality", "q_merge_upsert", "q_scd2"]),
    # NOTE group_of is FIRST-match: a prefix listed here must not also
    # match an earlier group (q_histogram_quantile
    # stays under Aggregation via its q_histogram prefix)
    ("PromQL / counters",
     ["q_promql", "q_predict_linear", "q_counter", "q_rate_per_second"]),
]


def group_of(name: str) -> str:
    for title, prefixes in GROUPS:
        if any(name.startswith(p) for p in prefixes):
            return title
    return "Other"


def main() -> None:
    specs = Q._REGISTRY
    n_oracle = sum(1 for s in specs if s.oracle is not None)
    lines = [
        "# QUERIES — declared-operator manifest",
        "",
        f"{len(specs)} declared queries; {n_oracle} hash-checked against a",
        "DuckDB oracle at sf0.01.",
        "Generated from `rusty_timeseries_db_spark/queries.py` by",
        "`gen_queries_md.py` — regenerate after adding queries.",
        "",
        "The remaining rows-only queries are DELIBERATELY oracle-less,",
        "each for a named engine-specific reason. Most are built on a",
        "primitive with no SQL-expressible equivalent — Spark's",
        "`xxhash64` seeds the MinHash/SimHash/rolling-hash families and",
        "the LSH bucket assignments, and DuckDB has no xxhash64, so a",
        "cross-engine value hash cannot exist even in principle; the",
        "IVF pair rests on a k-means fit, LTTB's pick is float triangle",
        "geometry, and the HLL rollup stores Spark DataSketches binary.",
        "Each instead",
        "carries a stronger *semantic* check in `tests/`: candidate",
        "recall against the exact oracles that DO hash-match",
        "(`q_ngram_jaccard` for MinHash/SimHash,",
        "`q_similarity_bruteforce` / `q_embedding_neardup_exact` for",
        "LSH/IVF — the persisted `q_similarity_ivf_index` additionally",
        "pins result-equality with the ad-hoc IVF and",
        "restart-from-manifest; LTTB pins endpoint/spike/determinism",
        "invariants and HLL pins <5% error + merge==whole-range), plus",
        "invariant tests (signature length/determinism,",
        "band containment). Approximate-sketch queries",
        "(`q_approx_aggregates`, `q_approx_top_k`) are rows-only for",
        "the same reason — HLL/quantile/heavy-hitter sketch internals",
        "differ by engine — with accuracy-vs-exact assertions in tests.",
        "(The end-to-end composite `q_training_corpus_pipeline`",
        "carries a full 7-stage CTE oracle and hash-matches — see",
        "its DuckDB row",
        "below. tests/test_pipelines.py additionally asserts stage",
        "effects and partitioning-determinism end-to-end.)",
        "",
    ]
    by_group: dict[str, list] = {}
    for s in specs:
        by_group.setdefault(group_of(s.name), []).append(s)
    for title, _ in GROUPS + [("Other", [])]:
        items = by_group.get(title)
        if not items:
            continue
        lines.append(f"## {title}")
        lines.append("")
        lines.append("| query | oracle | what it covers |")
        lines.append("| --- | --- | --- |")
        for s in items:
            mode = "DuckDB" if s.oracle is not None else "rows-only"
            doc = " ".join(s.doc.split())
            lines.append(f"| `{s.name}` | {mode} | {doc} |")
        lines.append("")
    with open(os.path.join(_REPO, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"QUERIES.md: {len(specs)} queries, {n_oracle} with oracles")

    # README carries the same counts in its module table (hand-maintained
    # copies drift) — regenerate them here so one
    # command refreshes every count a reader sees.
    import re

    readme_path = os.path.join(_REPO, "README.md")
    readme = open(readme_path).read()
    updated = re.sub(
        r"manifest: \d+ queries, \d+ DuckDB",
        f"manifest: {len(specs)} queries, {n_oracle} DuckDB",
        readme,
    )
    if updated != readme:
        open(readme_path, "w").write(updated)
        print("README.md counts refreshed")


if __name__ == "__main__":
    main()
