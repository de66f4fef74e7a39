"""Physical-plan shape assertions (SURVEY.md §4, the 100 TB design gates).

Correctness tests prove the numbers match; these prove the PLANS are the
ones that survive scale: dimension joins broadcast instead of shuffling the
fact side, filters and projections reach the parquet scan, and the
relational core never drops into per-row Python. A regression here means a
plan silently degraded even though results still match.
"""

from __future__ import annotations

import re

import pytest

from pandemic_knowledge_spark.plans.catalog import REGISTRY

PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas")


def plan_of(spark, sf_dir, name: str) -> str:
    return REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def pushed_filters(plan: str) -> str:
    # FileScan truncates long filter lists with "..." (losing the closing
    # bracket), so capture to end-of-line and trim — substring checks only.
    return " | ".join(
        m.group(1) for m in re.finditer(r"PushedFilters: \[([^\]\n]*)\]?", plan)
    )


def test_q5_dims_broadcast_not_shuffled(spark, sf_dir):
    """J1 at scale: every dimension side of q5 is a broadcast hash join —
    the fact table is never shuffled for a lookup."""
    plan = plan_of(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q5_filter_pushdown_reaches_scan(spark, sf_dir):
    """The region predicate lands in the parquet scan, not a post-scan
    Filter — partition/row-group pruning territory at 100 TB."""
    pf = pushed_filters(plan_of(spark, sf_dir, "q5_region_revenue"))
    assert "EqualTo(r_name,ASIA)" in pf
    assert "GreaterThanOrEqual(o_orderdate" in pf


def test_q1_scan_prunes_columns_and_pushes_dates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "LessThan(l_shipdate" in pushed_filters(plan)
    # column pruning: untouched wide columns never leave the scan
    assert "l_comment" not in plan
    assert "l_shipinstruct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "dedup_minhash_lsh",
        "text_search_bm25",
        "knn_cosine_topk",
        "window_running_revenue",
        "stream_tumbling_hourly",
        "text_tfidf_keywords",
        "dedup_corpus_lines",
        "range_join_value_brackets",
        "emb_kmeans_clusters",
        "search_fields_indexed",
    ],
)
def test_hot_path_has_no_python_eval(spark, sf_dir, name):
    """UDF policy (SURVEY.md §2.12): the relational/dedup/search/vector hot
    paths are pure JVM expressions — per-row Python appears nowhere."""
    plan = plan_of(spark, sf_dir, name)
    for node in PY_EVAL_NODES:
        assert node not in plan, f"{name} fell back to {node}"


def test_multimodal_is_arrow_batched_python(spark, sf_dir):
    """The one place Python is allowed (binary decode) goes through Arrow
    mapInPandas batches, never row-at-a-time eval."""
    plan = plan_of(spark, sf_dir, "multimodal_media_features")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_dedup_candidate_join_is_equi_join(spark, sf_dir):
    """LSH candidate generation must be an equi-join on (band, bkey) —
    a cartesian/BNL join here would be the O(n²) cliff at scale."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_plans_as_semi_join_on_pruned_key(spark, sf_dir):
    """EXISTS compiles to LeftSemi and the probe-side scan carries only the
    key + pushed returnflag filter — never a join+distinct over whole rows."""
    plan = plan_of(spark, sf_dir, "q4_priority_exists")
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in pushed_filters(plan)
    assert "l_extendedprice" not in plan  # key-only probe side


def test_q10_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """orderBy.limit(20) must plan as TakeOrderedAndProject (per-partition
    heap + driver merge); a global Sort would shuffle every group at scale."""
    plan = plan_of(spark, sf_dir, "q10_returned_revenue")
    assert "TakeOrderedAndProject" in plan


def test_q17_subquery_is_decorrelated(spark, sf_dir):
    """The correlated scalar subquery must decorrelate into an aggregate +
    join; a per-row subquery re-scan would be quadratic in the fact table."""
    plan = plan_of(spark, sf_dir, "q17_small_qty_revenue")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_is_pure_scan_agg_with_all_filters_pushed(spark, sf_dir):
    """Q6 shape: no join anywhere; every predicate reaches the parquet scan
    (at 100 TB this query IS its row-group pruning)."""
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    assert "Join" not in plan
    assert "GreaterThanOrEqual(l_shipda" in pushed_filters(plan)
    # the full predicate set survives to the post-scan Filter
    assert re.search(r"l_quantity#\d+ < 24\.0", plan)
    assert re.search(r"l_discount#\d+ >= 0\.05", plan)
    # only the 4 referenced columns leave the scan
    assert "l_extendedprice" in plan and "l_tax" not in plan


def test_q16_denylist_is_broadcast_anti_join(spark, sf_dir):
    """The NOT IN denylist must exclude via a broadcast LEFT ANTI join —
    zero shuffle for the exclusion — and the distinct count must be the
    two-phase partial-distinct aggregate."""
    plan = plan_of(spark, sf_dir, "q16_supplier_cnt")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert plan.count("HashAggregate") >= 2


def test_q18_having_subquery_is_semi_join_topk(spark, sf_dir):
    """IN (GROUP BY … HAVING) = aggregate-once + LEFT SEMI on the key;
    the final top-20 is TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, sf_dir, "q18_large_orders")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_or_predicate_still_prunes_scans(spark, sf_dir):
    """OR-of-ANDs: Catalyst must extract the per-side common bounds and push
    them into both scans (In(p_brand…) to part, quantity range to lineitem)
    while the residual disjunction stays as the join filter."""
    plan = plan_of(spark, sf_dir, "q19_disjunctive_predicates")
    pf = pushed_filters(plan)
    assert "p_brand" in pf
    assert "l_quantity" in pf
    assert "CartesianProduct" not in plan


def test_q22_not_exists_is_anti_join(spark, sf_dir):
    """NOT EXISTS compiles to LEFT ANTI with a key-only probe side; the
    scalar threshold is a 1-row broadcast, never a shuffle."""
    plan = plan_of(spark, sf_dir, "q22_idle_rich_customers")
    assert re.search(r"Join LeftAnti|BroadcastHashJoin .*LeftAnti", plan)
    assert "o_totalprice" not in plan  # anti side carries only o_custkey


def test_q2_correlated_min_is_decorrelated_agg(spark, sf_dir):
    """The per-part min 'subquery' is one aggregate over the fact joined
    back on the key — never a per-row re-scan; part and supplier dims ride
    in as broadcasts."""
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EqualTo(p_type,STANDARD)" in pushed_filters(plan)


def final_plan_of(spark, sf_dir, name: str) -> str:
    """Execute and return the FINAL adaptive plan — exchange/stage reuse
    only materializes at runtime under AQE, so diamond-reuse assertions
    must look here, not at the initial plan."""
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_q11_threshold_is_one_row_broadcast(spark, sf_dir):
    """HAVING-vs-global-scalar: the (total, count) threshold is a 1-row
    broadcast into the per-part aggregate — the returnflag predicate is
    pushed to the scan, the fact's grouped shuffle is computed once and
    REUSED for the threshold branch, and nothing re-shuffles to apply it."""
    plan = plan_of(spark, sf_dir, "q11_part_value_concentration")
    assert "EqualTo(l_returnflag,R)" in pushed_filters(plan)
    assert "SortMergeJoin" not in plan
    assert "Reused" in final_plan_of(spark, sf_dir, "q11_part_value_concentration")


def test_q13_outer_join_keeps_condition_inside(spark, sf_dir):
    """Q13 shape: the priority predicate filters the null-producing side
    BEFORE the outer join (pushed to the orders scan), never after it —
    post-join filtering would silently drop zero-order customers."""
    plan = plan_of(spark, sf_dir, "q13_order_count_distribution")
    assert "LeftOuter" in plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in pushed_filters(plan)


def test_q15_view_aggregated_once(spark, sf_dir):
    """The revenue view's grouped shuffle is computed once and REUSED for
    its own max (the view is not evaluated twice); the date range is pushed
    to the scan and supplier rides in as a broadcast. Regression guard for
    the diamond-canonicalization trap: an inferred isnotnull on only one
    branch silently de-duplicates the reuse and doubles the fact scan."""
    plan = plan_of(spark, sf_dir, "q15_top_supplier")
    assert "GreaterThanOrEqual(l_shipdate" in pushed_filters(plan)
    assert "SortMergeJoin" not in plan
    assert "Reused" in final_plan_of(spark, sf_dir, "q15_top_supplier")


def test_q20_nested_in_is_semi_join_chain(spark, sf_dir):
    """Nested IN = two LEFT SEMI hops: name-filtered part keys prune the
    date-pruned fact scan, and the heavy-supplier key set prunes supplier;
    both name and date predicates reach their scans."""
    plan = plan_of(spark, sf_dir, "q20_heavy_part_suppliers")
    assert plan.count("LeftSemi") >= 2
    pf = pushed_filters(plan)
    assert "StringContains(p_name,red)" in pf
    assert "GreaterThanOrEqual(l_shipdate" in pf


def test_q21_exists_pair_is_single_grouped_pass(spark, sf_dir):
    """EXISTS + NOT EXISTS over the same correlation key collapse into two
    shrinking aggregations over ONE lineitem scan — not the four fact scans
    the literal SQL implies, and no Expand (the multi-countDistinct plan
    that doubles the fact before aggregating)."""
    plan = plan_of(spark, sf_dir, "q21_single_return_supplier")
    assert plan.count("FileScan parquet") == 3  # lineitem ×1 + orders + supplier
    assert "Expand" not in plan
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_decontamination_probe_is_single_broadcast_pass(spark, sf_dir):
    """The eval n-gram set enters as a broadcast build side; the train
    shingles are scanned ONCE and aggregated once (totals + hits together)
    — and the whole pipeline stays JVM-side."""
    plan = plan_of(spark, sf_dir, "decontaminate_train_split")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") == 2  # train once + eval once
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_sampling_is_scan_side_zero_shuffle(spark, sf_dir):
    """Deterministic sampling/upsampling are pure scan-side expressions:
    membership = md5 permille filter, upsampling = explode(sequence). ZERO
    exchanges — at 100 TB these ops cost exactly one pass, no shuffle."""
    for name in ("sample_stratified_corpus", "sample_upsample_epochs"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} shuffles"
        for node in PY_EVAL_NODES:
            assert node not in plan


def test_split_audit_is_single_partial_agg_shuffle(spark, sf_dir):
    """The train/test split audit: scan-side split label, then ONE grouped
    shuffle with map-side partial aggregation (two HashAggregates)."""
    plan = plan_of(spark, sf_dir, "sample_train_test_split")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_geo_topk_is_take_ordered(spark, sf_dir):
    """Nearest-k by distance = per-partition heap + driver merge, never a
    global sort; the distance expression stays JVM-side."""
    plan = plan_of(spark, sf_dir, "geo_nearest_customers")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_gap_islands_is_one_partitioned_sort(spark, sf_dir):
    """Gap-and-islands: both window functions share ONE partitioned sort —
    a second exchange here would double-shuffle the event stream."""
    plan = plan_of(spark, sf_dir, "window_gap_islands")
    assert plan.count("Exchange") == 1
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_packing_is_one_bucket_shuffle_arrow_grouped(spark, sf_dir):
    """Sequence packing: ONE exchange on the salted bucket feeding grouped
    Arrow applyInPandas (the sanctioned Python path) — per-bin next-fit is
    inherently sequential, so the parallel unit is the bucket."""
    plan = plan_of(spark, sf_dir, "pack_training_bins")
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_minhash_pruned_has_no_pairwise_explosion(spark, sf_dir):
    """The two-pass candidate-pruned MinHash keeps every join keyed — no
    cartesian/BNL anywhere — and stays JVM-side; its hash-set aggregation
    is gated behind a semi join on candidate ids (asserted functionally in
    test_dedup; here the physical guarantee)."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh_pruned")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_bm25_fields_stays_jvm_side_topk(spark, sf_dir):
    """Multi-field best_fields BM25: per-field scoring + greatest must not
    leave the JVM, and the final ranking is TakeOrderedAndProject."""
    plan = plan_of(spark, sf_dir, "text_search_bm25_fields")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_lang_id_projection_stays_jvm_side(spark, sf_dir):
    """Language-ID + curation: single scan, greatest-over-structs argmax —
    no Python eval, and curation keeps its one window shuffle on fp plus
    one grouped agg exchange (a third exchange means a plan regression)."""
    for name in ("text_lang_id",):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan
        for node in PY_EVAL_NODES:
            assert node not in plan
    plan = plan_of(spark, sf_dir, "corpus_curation_pipeline")
    assert plan.count("Exchange") <= 2
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_repetition_signals_two_keyed_aggs_no_python(spark, sf_dir):
    """Repetition signals: the 2-gram fraction is computed array-side before
    the explode, and token frequencies are exactly two keyed aggregations —
    (doc, token) then doc — both map-side combined. No Python, no joins."""
    plan = plan_of(spark, sf_dir, "text_repetition_signals")
    assert plan.count("Exchange") == 2
    assert "Join" not in plan
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_iso_enrich_is_broadcast_static_dim(spark, sf_dir):
    """P5: the ISO2→ISO3 static dimension rides in as a broadcast — the
    fact side is never shuffled for a code lookup, and the reference's
    per-row library probe appears nowhere (no Python eval)."""
    plan = plan_of(spark, sf_dir, "iso_code_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_highlight_page_stays_scan_side(spark, sf_dir):
    """X4: highlighting is one regexp_replace projection over the joined
    page — no Python eval anywhere in the search+highlight plan."""
    plan = plan_of(spark, sf_dir, "search_page_highlighted")
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_range_frame_window_is_range_not_rows(spark, sf_dir):
    """The 7-day trailing average must use a RANGE (value-based) frame —
    a ROWS frame would silently change semantics on days with gaps."""
    plan = plan_of(spark, sf_dir, "window_range_7day_avg")
    assert re.search(r"RANGE BETWEEN 6 PRECEDING AND CURRENT ROW", plan) or "RangeFrame" in plan


def test_range_join_is_banded_equi_join(spark, sf_dir):
    """A pure range predicate (no equi-key) must NOT plan as
    BroadcastNestedLoopJoin: banded_range_join equi-joins on the band
    column and re-checks exact bounds after the hash join."""
    plan = plan_of(spark, sf_dir, "range_join_value_brackets")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__band" in plan  # the join key is the band column


def test_pruned_minhash_first_shuffle_is_signatures_only(spark, sf_dir):
    """The pruned two-pass MinHash form must keep its FIRST aggregation
    (pass 1, the corpus-wide shuffle) free of array payloads: signatures
    only, no collect_set. The hash-set aggregation happens only after the
    candidate semi-join (pass 2)."""
    from pandemic_knowledge_spark.operators.dedup import minhash_signature_agg
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    pass1 = minhash_signature_agg(docs, "doc_id", "text", 2)
    p1 = pass1._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in p1  # signatures-only shuffle
    full = plan_of(spark, sf_dir, "dedup_minhash_lsh_pruned")
    assert "LeftSemi" in full  # hash sets built only for candidate docs


def test_minhash_auto_dispatch_scale_gate(spark, sf_dir, monkeypatch):
    """Auto dispatcher: below the size threshold → single-pass
    (collect_set before any band join); above → pruned two-pass."""
    from pandemic_knowledge_spark.operators import dedup
    from pandemic_knowledge_spark.operators.dedup import minhash_lsh_pairs_auto
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    with monkeypatch.context() as m:
        m.setattr(dedup, "PRUNED_THRESHOLD_BYTES", 1)  # force scale path
        plan = (
            minhash_lsh_pairs_auto(docs, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "LeftSemi" in plan
    plan_small = (
        minhash_lsh_pairs_auto(docs, "doc_id", "text")  # default 1 GiB byte threshold
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" not in plan_small


def test_corpus_line_dedup_is_linear(spark, sf_dir):
    """Sentence dedup must stay two keyed shuffles (segment keeper + doc
    reassembly) — no cartesian, no nested-loop join of segments."""
    plan = plan_of(spark, sf_dir, "dedup_corpus_lines")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_df_join_is_broadcast(spark, sf_dir):
    """The term-DF table joins back BROADCAST — shuffling the TF rows on
    term for a dimension-sized join would double the corpus shuffle."""
    plan = plan_of(spark, sf_dir, "text_tfidf_keywords")
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injects_on_shuffle_fact_join(spark, sf_dir):
    """The 100 TB lever for selective fact-fact joins: when orders carries a
    selective filter and the orders⋈lineitem join is a shuffle join (no
    broadcast — the 100 TB shape), Spark must inject a runtime Bloom filter
    on the lineitem scan side so most probe rows die before the exchange.
    Locally the 10 GiB application-side threshold keeps it off (correct:
    the scan is tiny); this pins that the engine's session conf leaves the
    feature ON and that it fires once the size gates are met."""
    from pandemic_knowledge_spark.tables import load

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    def build():
        # Rebuilt per conf change: a DataFrame pins its QueryExecution, so
        # conf updates only affect newly constructed plans.
        o = load(spark, sf_dir, "orders").filter("o_orderpriority = '1-URGENT'")
        li = load(spark, sf_dir, "lineitem")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = build()._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "might_contain" in plan, "bloom filter did not inject"
        # Broadcast path correctly skips it (the broadcast already prunes).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        plan_b = build()._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "might_contain" not in plan_b
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_funnel_is_single_user_shuffle_no_python(spark, sf_dir):
    """The funnel fold must stay one user-keyed exchange with the stage
    walk as codegen'd expressions — no per-stage joins, no Python eval."""
    plan = final_plan_of(spark, sf_dir, "funnel_signup_view_purchase")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_corr_pairs_day_blocked_no_cartesian(spark, sf_dir):
    """Pearson pairs: the only pair generator is the day equi-join; the
    per-key moment tables broadcast."""
    plan = final_plan_of(spark, sf_dir, "timeseries_corr_topk")
    # AQE prints Final + Initial sections; judge only the final one.
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    # exactly one nested-loop join is allowed: the 1-row n_days scalar
    # broadcast (same shape as the q11 threshold row)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_gapfill_spine_never_scans_facts_twice_with_python(spark, sf_dir):
    plan = final_plan_of(spark, sf_dir, "timeseries_gapfill_ffill")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_merge_untouched_side_has_no_window(spark, sf_dir):
    """Incremental SCD2 over a MATERIALIZED history (the production shape):
    the merge itself must add exactly the two window passes of the
    touched-keys rebuild — the untouched passthrough contributes none."""
    from pyspark.sql import functions as F

    from pandemic_knowledge_spark.operators.history import build_scd2, scd2_merge
    from pandemic_knowledge_spark.tables import load

    ev = load(spark, sf_dir, "events")
    pivot = F.lit("2024-02-01 00:00:00").cast("timestamp")
    hist = build_scd2(
        ev.filter(F.col("ts") < pivot), ["user_id"], ["event_type"], "ts", "event_id"
    ).localCheckpoint(eager=True)  # stored-table stand-in: cuts build lineage
    merged = scd2_merge(hist, ev.filter(F.col("ts") >= pivot),
                        ["user_id"], ["event_type"], "ts")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window [") == 2, plan


def test_substring_dedup_two_integer_shuffles_no_python(spark, sf_dir):
    """Lee-et-al substring dedup: the whole plan is codegen'd expressions —
    no Python eval nodes — and the only wide exchanges are the gram-hash
    rank, the per-doc span merge, and the final report join; the gram
    explosion itself happens scan-side (no exchange before the first
    window)."""
    plan = final_plan_of(spark, sf_dir, "dedup_substring_spans")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    final = plan.split("== Initial Plan ==")[0]
    # gram_hash rank + doc-span window/agg + report join (<= 4 exchanges:
    # AQE may add one for the left side of the final doc_id join)
    assert final.count("Exchange") <= 4, final


def test_hash_embeddings_grid_is_broadcast_no_python(spark, sf_dir):
    """The dim grid must broadcast onto the doc list (never shuffle the
    corpus against a 64-row frame) and the whole plan stays codegen."""
    plan = final_plan_of(spark, sf_dir, "text_hash_embeddings")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_phrase_probe_no_python_no_cartesian(spark, sf_dir):
    plan = final_plan_of(spark, sf_dir, "search_phrase_positional")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # phrase-offset table joins as a broadcast (2 rows)
    assert "BroadcastHashJoin" in plan


def test_epi_queries_single_fact_scan_no_python(spark, sf_dir):
    """Both epidemic queries reduce the fact table ONCE into a days-sized
    rollup; windows run on the rollup."""
    for name in ("epi_rt_daily", "epi_outbreak_spikes"):
        plan = final_plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        final = plan.split("== Initial Plan ==")[0]
        # events parquet appears in at most two scans: bounds + counts
        # (AQE may reuse); never one per lag term
        assert final.count("Scan parquet") <= 3, final


def test_quantile_rollup_walk_on_sketch_not_facts(spark, sf_dir):
    plan = final_plan_of(spark, sf_dir, "sketch_quantile_rollup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 1, final  # one fact reduction


def test_lm_pmi_privacy_no_python_no_cartesian(spark, sf_dir):
    """The statistical text/privacy family stays JVM-side: no Python
    eval nodes; the only nested-loop joins are 1-row scalar broadcasts
    (vocab size, total bigram count)."""
    for name in ("lm_score_docs", "text_collocations_pmi",
                 "privacy_k_anonymize"):
        plan = final_plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, name


def test_pq_assignment_is_vectorized_arrow(spark, sf_dir):
    """PQ code assignment routes through the documented mapInPandas kernel
    (vectorized int64 argmin), never row-wise Python or the m·k
    interpreted-HOF tree (22 s at sf0.01 for m=8/k=64), and plans no
    cartesian product."""
    plan = final_plan_of(spark, sf_dir, "ann_pq_topk")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final


def test_near_dup_arrow_tier_is_cogrouped_arrow(spark, sf_dir):
    """The fixed-dim embeddings corpus routes to the cogrouped Arrow kernel
    (FlatMapCoGroupsInPandas), never to a per-pair JVM fold or row-wise
    Python eval."""
    plan = plan_of(spark, sf_dir, "emb_near_dup_pairs")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan  # the pair join IS the cogroup


def test_near_dup_sql_tier_keeps_materialization_barriers(spark, sf_dir):
    """The SQL tier must exchange BOTH join inputs (REPARTITION_BY_NUM
    barriers): a broadcast-hash plan would re-evaluate the transform()/fold
    producer expressions per PAIR on the streamed side (measured 277 s vs
    17 s at the derived sf1)."""
    from pandemic_knowledge_spark.operators.similarity import near_dup_pairs
    from pandemic_knowledge_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    df = near_dup_pairs(emb, "embedding", "vec_id", "label", 0.25, impl="sql")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both inputs exchanged; a broadcast build is fine (it reads the
    # exchanged rows), as long as neither side streams straight off the
    # producer projections
    assert plan.count("REPARTITION_BY_NUM") >= 2


def test_ngram_jaccard_count_is_repartition_first(spark, sf_dir):
    """The intersection count must aggregate AFTER an explicit hash
    exchange of the packed pair key — the pair stream's partial aggregate
    over near-unique keys is pure spill overhead (185 s vs 93 s at sf1)."""
    plan = plan_of(spark, sf_dir, "dedup_ngram_jaccard")
    m = re.search(r"Exchange hashpartitioning\(__pk[^)]*\), REPARTITION_BY_NUM", plan)
    assert m, "packed pair key must be exchanged via explicit repartition"


def test_near_dup_mark_has_no_pairwise_join(spark, sf_dir):
    """stream_near_dup_mark's batch form is a window min + rollup — a
    bucket with c docs must cost a running min, never C(c,2): no Join node
    of any kind in the plan, and the bucket min is a Window (one hash
    exchange on (band, bkey)), not a self-join back onto the bands."""
    plan = plan_of(spark, sf_dir, "stream_near_dup_mark")
    assert "Join" not in plan
    assert "Window" in plan


# ---------------------------------------------------------------------------
# Broadcast build-side bounds (r6 verdict "What's wrong #1"): no
# BroadcastExchange may take the UNFILTERED vocabulary DF-table as input —
# at corpus scale that build side is multi-GB. Bounded build sides are
# recognizable in the plan: a limit (TakeOrderedAndProject / Limit), a
# literal frame (LocalTableScan), or a join that restricts the aggregate
# to a selected-terms frame BEFORE the exchange.
# ---------------------------------------------------------------------------

def _subtree_lines(plan: str, marker: str) -> list[list[str]]:
    """Each occurrence of `marker` with the plan-tree lines BELOW it (its
    children, by indentation of the +-/:- connector)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1

    subtrees = []
    for i, line in enumerate(lines):
        if marker not in line or "ReusedExchange" in line:
            continue
        d = depth(line)
        sub = []
        for nxt in lines[i + 1 :]:
            nd = depth(nxt)
            if nd <= d:
                break
            sub.append(nxt)
        subtrees.append(sub)
    return subtrees


_BOUNDING_TOKENS = (
    "TakeOrderedAndProject",
    "LocalLimit",
    "GlobalLimit",
    "LocalTableScan",
    "Scan ExistingRDD",
    "BroadcastExchange",  # an inner broadcast is itself a bounded build
)


def _line_depth(line: str) -> int:
    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1


def _join_other_child(sub: list[str], join_i: int, branch_i: int) -> list[str]:
    """Lines of the join node's child subtree NOT containing line
    ``branch_i`` — the join's other input."""
    jd = _line_depth(sub[join_i])
    # immediate children: minimal-depth lines below the join
    child_starts = []
    j = join_i + 1
    child_depth = None
    while j < len(sub) and _line_depth(sub[j]) > jd:
        d = _line_depth(sub[j])
        if child_depth is None or d < child_depth:
            child_depth = d
            child_starts = [j]
        elif d == child_depth:
            child_starts.append(j)
        j += 1
    end = j
    out = []
    for ci, start in enumerate(child_starts):
        stop = child_starts[ci + 1] if ci + 1 < len(child_starts) else end
        if not (start <= branch_i < stop):
            out.extend(sub[start:stop])
    return out


def _unbounded_vocab_broadcasts(plan: str) -> list[str]:
    """Flag BroadcastExchange subtrees whose build side is the UNFILTERED
    vocabulary aggregate. A vocabulary HashAggregate(count(distinct ...))
    inside the exchange is fine only if something on its OWN ancestor
    chain bounds it — a limit above it, or an ancestor JOIN whose other
    input is a bounded frame (literal rows, a limited selection, an inner
    broadcast). A join that merely appears SOMEWHERE in the subtree (e.g.
    below the aggregate, joining its inputs) no longer launders it
    (r7 ADVICE: the old any-token scan would have)."""
    bad = []
    for sub in _subtree_lines(plan, "BroadcastExchange"):
        vocab_lines = [
            i
            for i, line in enumerate(sub)
            if "count(distinct" in line and "HashAggregate" in line
        ]
        for vi in vocab_lines:
            bounded = False
            cur_d = _line_depth(sub[vi])
            for ai in range(vi - 1, -1, -1):
                ad = _line_depth(sub[ai])
                if ad < 0 or ad >= cur_d:
                    continue
                cur_d = ad  # sub[ai] is the next ancestor up
                anc = sub[ai]
                if any(
                    tok in anc
                    for tok in ("TakeOrderedAndProject", "LocalLimit", "GlobalLimit")
                ):
                    bounded = True
                    break
                if "Join" in anc:
                    other = "\n".join(_join_other_child(sub, ai, vi))
                    if any(tok in other for tok in _BOUNDING_TOKENS):
                        bounded = True
                        break
            if not bounded:
                bad.append("\n".join(sub)[:300])
                break
    return bad


@pytest.mark.parametrize(
    "name",
    ["search_more_like_this", "search_prefix_type_ahead", "search_fuzzy_match"],
)
def test_search_broadcast_build_sides_are_bounded(spark, sf_dir, name):
    """The scoring join's build side must be the selected-terms frame
    (<= max_query_terms / max_expansions rows), never the unfiltered
    df_t vocabulary aggregate."""
    plan = plan_of(spark, sf_dir, name)
    bad = _unbounded_vocab_broadcasts(plan)
    assert not bad, f"{name} broadcasts an unbounded vocabulary frame:\n{bad[0]}"


def test_vocab_broadcast_heuristic_rejects_laundering():
    """r7 ADVICE: a join BELOW the vocabulary aggregate (joining its
    inputs) must NOT bound it — only a limit above it or an ancestor join
    against a bounded frame counts. Synthetic plan fixtures pin both
    directions of the heuristic."""
    laundered = """\
BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]
+- HashAggregate(keys=[term#1], functions=[count(distinct doc_id#2L)])
   +- SortMergeJoin [term#1], [term#3], Inner
      :- Sort [term#1 ASC]
      :  +- FileScan parquet [term#1,doc_id#2L]
      +- Sort [term#3 ASC]
         +- FileScan parquet [term#3]
"""
    assert _unbounded_vocab_broadcasts(laundered), "join-below must not bound"

    bounded_by_join = """\
BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]
+- BroadcastHashJoin [term#1], [term#9], Inner, BuildRight
   :- HashAggregate(keys=[term#1], functions=[count(distinct doc_id#2L)])
   :  +- FileScan parquet [term#1,doc_id#2L]
   +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=2]
      +- LocalTableScan [term#9]
"""
    assert not _unbounded_vocab_broadcasts(bounded_by_join)

    bounded_by_limit = """\
BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]
+- GlobalLimit 50
   +- LocalLimit 50
      +- HashAggregate(keys=[term#1], functions=[count(distinct doc_id#2L)])
         +- FileScan parquet [term#1,doc_id#2L]
"""
    assert not _unbounded_vocab_broadcasts(bounded_by_limit)

    naked = """\
BroadcastExchange HashedRelationBroadcastMode, [plan_id=1]
+- HashAggregate(keys=[term#1], functions=[count(distinct doc_id#2L)])
   +- FileScan parquet [term#1,doc_id#2L]
"""
    assert _unbounded_vocab_broadcasts(naked)


def test_tfidf_term_join_is_shuffle_not_vocab_broadcast(spark, sf_dir):
    """tfidf_keywords must not HINT a broadcast of the vocabulary DF
    table: with the size-estimate path disabled
    (autoBroadcastJoinThreshold=-1, under which only hinted broadcasts
    survive planning) the term join has to plan as a shuffle join that
    reuses the groupBy(term) exchange. At small scale the cost-based
    planner may still choose a broadcast from size ESTIMATES — that's
    adaptive and scale-safe, hints are not."""
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, sf_dir, "text_tfidf_keywords")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_fuzzy_match_candidate_join_is_length_equi_join(spark, sf_dir):
    """Fuzzy expansion must reach the vocabulary through the admissible-
    length equi-join (build side = literal length rows), with levenshtein
    evaluated only on the surviving sliver — never a vocabulary × query
    cartesian."""
    plan = plan_of(spark, sf_dir, "search_fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan
    for node in PY_EVAL_NODES:
        assert node not in plan


def test_index_save_laid_frame_is_single_exchange(spark, sf_dir):
    """Saving an uncached build lays the postings out with ONE exchange:
    build_postings repartitions the token stream by bucket BEFORE the TF
    aggregate, so the same shuffle serves the groupBy and the save's
    repartition("bucket") (the aggregate-then-repartition shape paid two
    postings-sized shuffles). The (bucket, term) local sort satisfies the
    file writer's required ordering, so no writer-inserted second sort
    appears either."""
    from pandemic_knowledge_spark.operators.search import SearchIndex, _bucket_laid
    from pandemic_knowledge_spark.tables import load

    # An identical build cached by an earlier test's Engine would stand in
    # for this lineage (cache substitution); the shape pinned here is the
    # uncached one.
    spark.catalog.clearCache()
    idx = SearchIndex.build(load(spark, sf_dir, "documents"), cache=False)
    laid = _bucket_laid(idx.postings)
    plan = laid._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert re.search(r"Sort \[bucket#\d+ ASC NULLS FIRST, term#\d+ ASC NULLS FIRST\]", plan), plan
    for node in PY_EVAL_NODES:
        assert node not in plan
