"""sf1 spot-bench: scale sf0.1 10× and time the 5 most expensive headline
queries with bench.py's steady-state protocol.

The driver ships sf{0.001,0.01,0.1} only, so sf1 is DERIVED: each fact table
is 10 shifted copies of sf0.1 (all join keys offset per copy → FK-consistent,
10× rows; region/nation stay the classic fixed dims). Document texts are
recombined across docs per copy (first half of doc j + second half of doc
j+17i) so the near-dup workload keeps a realistic pair density instead of
every doc gaining 9 exact clones. Embedding ids shift, vectors repeat —
ANN/kNN cost is row count, not value diversity.

Usage: python scripts/bench_sf1.py [--regen]
Writes /tmp/pk_sf1/*.parquet once (reused across runs), prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pandemic_knowledge_spark.plans import REGISTRY
from pandemic_knowledge_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = "/tmp/pk_sf1"
COPIES = 10
SHIFT = 100_000_000  # beyond any sf0.1 key

QUERIES = [  # 5 most expensive in BENCH_r02 + the heaviest later additions
    "dedup_minhash_lsh",
    "decontaminate_train_split",
    "q21_single_return_supplier",
    "corpus_curation_pipeline",
    "q1_pricing_summary",
    "dedup_substring_spans",   # gram-hash rank + span merge (headline, r3)
    "graph_trade_pagerank",    # 12M-edge build + 5 power-iteration rounds
    "lm_score_docs",           # bigram-model join scoring
    # r4 scale-path rewrites — measured here AT the scale tier they exist
    # for (sf1 events cross the 4 MiB corr gate; the ntile rewires must
    # show flat cost at 10x rows, no single-task sort):
    "retail_rfm_segments",     # 3x partitioned_ntile over customer rollup
    "lm_ccnet_buckets",        # partitioned_ntile tertiles over lm_score
    "window_ntile_quartiles",  # grouped partitioned_ntile over orders
    "timeseries_corr_topk",    # auto -> sign-sketch pruned tier at sf1
    "dedup_winnow_pairs",      # r5 grouped pair emission (bench-tracked)
    # r5-new tiers:
    "agg_percentile_quantity", # rank-targeted exact percentiles (scale tier)
]

# Second tier (--wide): families with NO sf1 evidence yet — the corr
# quadratic frontier was only visible at sf1, so sweep every family whose
# cost shape could hide one (pair joins, posting indexes, per-key state).
WIDE_QUERIES = [
    "knn_cosine_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "emb_near_dup_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash_docs",
    "dedup_exact_docs",
    "dedup_semantic_clusters",
    "dedup_corpus_lines",
    "text_search_bm25",
    "text_tfidf_keywords",
    "funnel_signup_view_purchase",
    "cohort_weekly_retention",
    "scd2_user_history",
    "sketch_quantile_rollup",
    "epi_rt_daily",
    "timeseries_rolling_active",
    "window_gap_islands",
    "skew_salted_user_totals",
    "retail_association_rules",
    "privacy_k_anonymize",
    "profile_drift_psi",
    "dedup_substring_clean",
    "pack_training_bins",
    "dedup_url_canonical",
    "stream_near_dup_mark",    # r5: minhash-base + bucket-window shape
    "ann_rp_lsh_multi_topk",   # r5: OR-of-buckets pruned scan
    "ann_ivf_kmeans_topk",     # r5: Lloyd fit + assign + probe pipeline
    # r6-new operators — first sf1 evidence for each cost shape:
    "search_more_like_this",   # TF shuffle + broadcast term-set scoring
    "agg_significant_terms",   # distinct-term explode + one term shuffle
    "search_term_suggest",     # vocab agg + pruned levenshtein sliver
    "dedup_ngram_containment", # shared chunked pair-emission core (k=3)
    "sql_door_nation_revenue", # raw-SQL door 4-table join
    "search_hybrid_rrf",       # BM25 + kNN rank fusion over bounded top-k
    "agg_matrix_stats",        # all pairwise moments in one scan
    "agg_percentile_ranks",    # conditional sums, one scan
    "geo_distance_rings",      # scan-side ring id + narrow groupBy
    "sample_dsir_rank",        # bigram-bucket models + broadcast ratios
    # r7-window heavies with no sf1 row yet (r6 verdict item #6):
    "dedup_winnow_fingerprints",  # winnow window over gram hashes
    "layout_zorder_box_scan",     # z-order interleave + box predicate
    # r7-new operators — first sf1 evidence for each cost shape:
    "search_fuzzy_match",      # length-banded levenshtein + BM25 expansion
    "agg_daily_events_tz",     # tz-shifted day histogram, one shuffle
    "agg_rare_terms",          # distinct-term explode + term shuffle
    "agg_adjacency_matrix",    # single-scan conditional sums
    "agg_composite_after",     # bucket agg + cursor filter + heap page
    "agg_pipeline_daily_delta",  # month-partial prefix composition
    "agg_auto_date_histogram",   # span bounds + CASE ladder, one shuffle
    "search_phrase_prefix",      # scan-side HOF + expansion-array broadcast
    # r8-new operators — first sf1 evidence for each cost shape:
    "search_multi_most_fields",  # per-field TF shuffle, sum combiner
    "search_multi_cross_fields", # + blended-df broadcast, dis-max per term
    "search_fuzzy_indexed",      # load+sidecar probe (built once per process)
    "search_suggest_indexed",    # tlen-pruned dictionary probe
    "agg_top_hits_latest",       # bucket window + WindowGroupLimit
    "geo_centroid_bounds",       # integer-micro centroid, one groupBy
    "agg_filters_named",         # one-scan conditional sums, unpivot
    "agg_weighted_avg",          # exact int weighted sums
    "agg_serial_diff",           # dense spine + lag equi self-join
    "agg_sibling_buckets",       # struct-ordered arg-extremes, one agg
    "agg_value_histogram",       # long-index groupBy + index spine
    "agg_string_stats",          # char explode + nano-unit entropy
    "agg_cumulative_cardinality",  # first-seen reduce + prefix sum
    "agg_bucket_selector_sort",    # bucket HAVING + heap top-k
    "agg_range_named",             # one-scan conditional sums
    "agg_date_range",              # ditto, timestamp bounds
    "agg_multi_terms",             # compound-key terms + heap top-N
    "agg_normalize_pipeline",      # one-row exact moments broadcast
    "agg_percentiles_bucket",      # exact percentile over bucket frame
    "agg_missing_bucket",          # join-miss conditional sum
    "search_phrase_indexed",       # load+positional probe (built once per process)
    "agg_t_test_welch",            # one-row conditional moments
    "agg_geotile_grid",            # scan-side mercator tile + groupBy
    "agg_top_metrics",             # struct-ordered arg-top, one agg
    "agg_boxplot",                 # rank-targeted quartiles + min/max join
    "agg_random_sampler",          # hash-predicate sample, scan-side
    "agg_change_point",            # dense spine + prefix sum + argmax
    "agg_moving_percentiles",      # window fan-out + in-group percentile
]

KEY_COLS = {
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}
NATION_KEYS = ("c_nationkey", "s_nationkey")  # dims stay fixed — don't shift


def scale_table(spark, name: str) -> None:
    df = spark.read.parquet(f"{SRC}/{name}.parquet")
    copies = []
    for i in range(COPIES):
        c = df
        for k in KEY_COLS.get(name, []):
            if k in NATION_KEYS:
                continue
            c = c.withColumn(k, F.col(k) + F.lit(i * SHIFT))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{DST}/{name}.parquet")


def scale_documents(spark) -> None:
    df = spark.read.parquet(f"{SRC}/documents.parquet")
    n = df.count()
    base = df.select("doc_id", "text", *[c for c in df.columns if c not in ("doc_id", "text")])
    halves = df.select(
        F.col("doc_id").alias("p_id"), F.col("text").alias("p_text")
    )
    copies = [df]
    for i in range(1, COPIES):
        partner = (F.col("doc_id") + F.lit(17 * i)) % F.lit(n)
        c = (
            base.withColumn("p_id", partner)
            .join(halves, "p_id")
            .withColumn(
                "text",
                F.concat(
                    F.expr("substr(text, 1, int(length(text)/2))"),
                    F.lit(" "),
                    F.expr("substr(p_text, int(length(p_text)/2))"),
                ),
            )
            .drop("p_id", "p_text")
            .withColumn("doc_id", F.col("doc_id") + F.lit(i * SHIFT))
            .select(*df.columns)
        )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode("overwrite").parquet(f"{DST}/documents.parquet")


def ensure_data(spark, regen: bool) -> None:
    marker = f"{DST}/_SCALED_OK"
    if os.path.exists(marker) and not regen:
        return
    # drop the stale marker FIRST: an interrupted rewrite must not leave a
    # prior run's marker validating a mixed old/new dataset
    if os.path.exists(marker):
        os.remove(marker)
    os.makedirs(DST, exist_ok=True)
    for name in ("region", "nation"):
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode("overwrite").parquet(
            f"{DST}/{name}.parquet"
        )
    for name in KEY_COLS:
        scale_table(spark, name)
    scale_documents(spark)
    with open(marker, "w") as f:
        f.write("ok")


def main() -> None:
    regen = "--regen" in sys.argv
    queries = WIDE_QUERIES if "--wide" in sys.argv else QUERIES
    if "--only" in sys.argv:  # targeted probe: --only name1,name2
        i = sys.argv.index("--only") + 1
        if i >= len(sys.argv) or sys.argv[i].startswith("--"):
            raise SystemExit("--only needs a comma-separated query list")
        queries = sys.argv[i].split(",")
        unknown = [n for n in queries if n not in REGISTRY]
        if unknown:
            raise SystemExit(f"--only: unknown queries {unknown}")
    spark = get_spark(app_name="pk-bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_data(spark, regen)

    spark.range(1000).selectExpr("sum(id)").collect()
    for _ in range(2):  # settle the JIT for the final class population
        for name in queries:
            spark.catalog.clearCache()
            REGISTRY[name].fn(spark, DST).collect()
    runs = {name: [] for name in queries}
    for _ in range(3):  # round-robin, median per query
        for name in queries:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, DST).collect()
            runs[name].append(time.perf_counter() - t0)
    timings = {name: round(sorted(ts)[1], 3) for name, ts in runs.items()}
    print(
        json.dumps(
            {
                "metric": "sf1_spot_total" + ("_wide" if queries is WIDE_QUERIES else ""),
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": 1.0,
                "derived_from": "sf0.1 x10 key-shifted copies",
                "protocol": "steady_state_median_of_3_cache_cleared",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
