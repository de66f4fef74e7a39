"""Hand-built-input semantics for the r7 ES-parity aggregations
(rare_terms, adjacency_matrix, composite paging, pipeline aggs) and the
fuzzy-match retrieval — the catalog rows prove oracle parity on the
testdata; these pin the edge semantics parity can't reach (empty buckets,
page boundaries, series starts, AUTO band edges)."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from pandemic_knowledge_spark.operators.aggregates import (
    adjacency_matrix,
    composite_page,
    date_histogram_pipeline,
    rare_terms,
)
from pandemic_knowledge_spark.operators.search import (
    fuzzy_auto_band,
    fuzzy_match_search,
)


def test_rare_terms_counts_docs_not_occurrences(spark):
    """doc_count is per-doc distinct (ES doc_count), so a term repeated
    many times inside ONE doc is still rare; ordering is rarest-first."""
    docs = spark.createDataFrame(
        [
            (1, "zz zz zz zz common"),
            (2, "common other"),
            (3, "common other"),
        ],
        "doc_id long, text string",
    )
    got = [(r.term, r.doc_count) for r in rare_terms(docs, "doc_id", "text", 2).collect()]
    assert got == [("zz", 1), ("other", 2)]  # 'common' (3 docs) excluded


def test_adjacency_matrix_drops_empty_and_keys_sorted(spark):
    """Pairwise keys join names in sorted order with '&'; zero-doc buckets
    (including an all-false filter) are omitted, exactly as ES drops
    empty adjacency cells."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 60.0), (2, 70.0)], "k long, v double"
    )
    got = {
        r.key: r.doc_count
        for r in adjacency_matrix(
            df,
            {
                "two": F.col("k") == 2,
                "high": F.col("v") >= 50,
                "never": F.col("v") < 0,
            },
        ).collect()
    }
    assert got == {"two": 2, "high": 2, "high&two": 2}
    assert "never" not in got and "high&never" not in got


def test_composite_after_key_is_strict_tuple_order(spark):
    """The after-key cursor resumes STRICTLY after the tuple: same first
    key with larger second keys still qualify; the after bucket itself
    never reappears (the ES composite contract that makes pages
    non-overlapping)."""
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 1)], "g string, d int"
    )
    srcs = [("g", F.col("g")), ("d", F.col("d"))]
    m = {"doc_count": F.count(F.lit(1))}
    page1 = [(r.g, r.d) for r in composite_page(df, srcs, m, size=2).collect()]
    assert page1 == [("a", 1), ("a", 2)]
    page2 = [
        (r.g, r.d)
        for r in composite_page(df, srcs, m, after=page1[-1], size=2).collect()
    ]
    assert page2 == [("a", 3), ("b", 1)]
    page3 = [
        (r.g, r.d)
        for r in composite_page(df, srcs, m, after=page2[-1], size=2).collect()
    ]
    assert page3 == []


def test_pipeline_derivative_null_starts_and_exact_composition(spark):
    """ES min_doc_count=0 semantics: the spine densifies, so a gap day
    EXISTS with cnt=0 (derivative swings through it, the moving average
    divides by it); only the very first bucket has a NULL derivative;
    cumulative_sum composes exactly across the month boundary."""
    rows = []
    # 2024-01-30, 2024-01-31, 2024-02-01 with 1, 2, 4 events; gap on
    # 2024-02-02 (an EMPTY bucket in ES), then 2024-02-03 with 8.
    for d, n in ((date(2024, 1, 30), 1), (date(2024, 1, 31), 2),
                 (date(2024, 2, 1), 4), (date(2024, 2, 3), 8)):
        rows += [(d.isoformat() + " 12:00:00",)] * n
    df = spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.day.isoformat(): r for r in date_histogram_pipeline(df, "ts", window=2).collect()}
    assert sorted(got) == [
        "2024-01-30", "2024-01-31", "2024-02-01", "2024-02-02", "2024-02-03",
    ]  # the gap day materializes
    assert got["2024-02-02"].cnt == 0
    assert got["2024-01-30"].derivative is None  # only the first bucket
    assert got["2024-01-31"].derivative == 1
    assert got["2024-02-01"].derivative == 2  # across month boundary
    assert got["2024-02-02"].derivative == -4  # into the empty bucket
    assert got["2024-02-03"].derivative == 8  # out of the empty bucket
    assert [got[d].cumulative_sum for d in sorted(got)] == [1, 3, 7, 7, 15]
    # trailing-2-day means INCLUDE the zero bucket: 1, 1.5, 3, (4+0)/2, (0+8)/2
    assert [got[d].moving_avg for d in sorted(got)] == [1.0, 1.5, 3.0, 2.0, 4.0]


def test_fuzzy_auto_bands_match_es_table():
    assert [fuzzy_auto_band(n) for n in (0, 1, 2, 3, 5, 6, 12)] == [
        0, 0, 0, 1, 1, 2, 2,
    ]


def test_fuzzy_match_expands_within_band_only(spark):
    """'grapx' (len 5 → 1 edit) must reach 'grape' and 'graph' but not
    'grapes' at distance 2; a short term stays exact-only even when a
    1-edit neighbor exists."""
    docs = spark.createDataFrame(
        [
            (1, "grape grape vine"),
            (2, "graph theory"),
            (3, "grapes are fruit"),
            (4, "ax bx"),
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id for r in fuzzy_match_search(docs, "doc_id", "text", "grapx", k=10).collect()}
    assert hits == {1, 2}
    # 'ax' is length 2 → band 0: exact only, so 'ay' matches nothing
    assert fuzzy_match_search(docs, "doc_id", "text", "ay", k=10).count() == 0
    # ...but the exact token itself still retrieves
    assert {
        r.doc_id
        for r in fuzzy_match_search(docs, "doc_id", "text", "ax", k=10).collect()
    } == {4}


def test_fuzzy_match_empty_query_returns_empty(spark):
    docs = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    out = fuzzy_match_search(docs, "doc_id", "text", "  !!  ", k=5)
    assert out.count() == 0 and out.columns == ["doc_id", "score"]


def test_composite_drops_null_keyed_rows_and_rejects_null_after(spark):
    """ES missing_bucket=false: rows with a NULL source key never form a
    bucket (a NULL bucket would show on page 1 yet be unreachable past
    any cursor — silently lossy pagination); an after key containing
    NULL, or of the wrong arity, is rejected loudly."""
    import pytest

    df = spark.createDataFrame(
        [("a", 1), (None, 1), ("b", None), ("b", 2)], "g string, d int"
    )
    srcs = [("g", F.col("g")), ("d", F.col("d"))]
    m = {"doc_count": F.count(F.lit(1))}
    page = [(r.g, r.d) for r in composite_page(df, srcs, m, size=10).collect()]
    assert page == [("a", 1), ("b", 2)]  # NULL-keyed rows gone
    with pytest.raises(ValueError, match="non-NULL"):
        composite_page(df, srcs, m, after=("a", None))
    with pytest.raises(ValueError, match="per\\s+source|expected"):
        composite_page(df, srcs, m, after=("a",))


def test_pipeline_rejects_nonpositive_window(spark):
    """window=0 would flip F.sequence into a DESCENDING fan-out (a
    leading average instead of trailing) — both twins must reject it."""
    import pytest

    from pandemic_knowledge_spark.operators.aggregates import (
        sql_date_histogram_pipeline,
    )

    df = spark.createDataFrame([("2024-01-01 00:00:00",)], "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    with pytest.raises(ValueError, match="window"):
        date_histogram_pipeline(df, "ts", window=0)
    with pytest.raises(ValueError, match="window"):
        sql_date_histogram_pipeline("events", "ts", window=0)


def test_auto_date_histogram_picks_interval_from_span(spark):
    """A ~30-minute span at target 20 must bucket by MINUTE; stretching
    the same data to ~10 days must flip the choice to DAY — and the
    bucket counts always sum to the row count."""
    from pandemic_knowledge_spark.operators.aggregates import auto_date_histogram

    mins = spark.createDataFrame(
        [(f"2024-01-01 10:{m:02d}:30",) for m in range(0, 20, 2)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    got = auto_date_histogram(mins, "ts", target_buckets=20).collect()
    assert {r.interval for r in got} == {"minute"}  # 18-min span fits 20 buckets
    assert sum(r.doc_count for r in got) == 10

    days = spark.createDataFrame(
        [(f"2024-01-{d:02d} 12:00:00",) for d in range(1, 11)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    # 9-day span at target 20: the 12h MULTIPLE rung (ES's ladder) wins
    # over collapsing straight to day — finer buckets, still <= target
    got = auto_date_histogram(days, "ts", target_buckets=20).collect()
    assert {r.interval for r in got} == {"12h"} and len(got) == 10
    # and at target 10 the multiples are skipped: day fits exactly
    got = auto_date_histogram(days, "ts", target_buckets=10).collect()
    assert {r.interval for r in got} == {"day"} and len(got) == 10


def test_auto_date_histogram_subminute_rungs(spark):
    """ADVICE r7: a 2-hour span at target 20 must yield minute-scale
    buckets (the 10m rung), not 2 hour-buckets — and a 40-second span
    picks seconds. Both twins share the ladder constant, so oracle parity
    is automatic (pinned by the catalog row); here we pin the choice."""
    from pandemic_knowledge_spark.operators.aggregates import auto_date_histogram

    two_h = spark.createDataFrame(
        [(f"2024-01-01 {10 + h}:{m:02d}:00",) for h in range(2) for m in range(0, 60, 7)],
        "ts string",
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    got = auto_date_histogram(two_h, "ts", target_buckets=20).collect()
    assert {r.interval for r in got} == {"10m"}
    assert sum(r.doc_count for r in got) == two_h.count()
    assert len(got) <= 20

    secs = spark.createDataFrame(
        [(f"2024-01-01 10:00:{s:02d}",) for s in range(0, 40, 3)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    got = auto_date_histogram(secs, "ts", target_buckets=20).collect()
    assert {r.interval for r in got} == {"5s"}
    assert len(got) <= 20


def test_match_phrase_prefix_expansion_cap_is_alphabetical(spark):
    """The prefix expands to the first max_expansions vocabulary terms in
    ALPHABETICAL (index) order — ES's documented cap, which can miss a
    later completion; adjacency of the exact lead terms is required."""
    from pandemic_knowledge_spark.operators.search import match_phrase_prefix

    docs = spark.createDataFrame(
        [
            (1, "run joa now"),
            (2, "run job now"),
            (3, "run joc now"),
            (4, "joa run"),  # 'run' not followed by a jo-term
        ],
        "doc_id long, text string",
    )
    all_hits = {
        r.doc_id
        for r in match_phrase_prefix(docs, "doc_id", "text", "run jo", k=10).collect()
    }
    assert all_hits == {1, 2, 3}
    capped = {
        r.doc_id
        for r in match_phrase_prefix(
            docs, "doc_id", "text", "run jo", k=10, max_expansions=2
        ).collect()
    }
    assert capped == {1, 2}  # joc is alphabetically third — truncated out


def test_filters_agg_overlap_other_and_collision(spark):
    """ES filters semantics: buckets are independent (one doc can count in
    several), _other_ counts docs matching none, and a bucket named like
    the other_bucket is rejected loudly."""
    import pytest

    from pandemic_knowledge_spark.operators.aggregates import filters_agg

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "v int, g string"
    )
    got = {
        r.bucket: r.doc_count
        for r in filters_agg(
            df,
            [("small", F.col("v") <= 2), ("group_a", F.col("g") == "a")],
        ).collect()
    }
    # doc 1 and 2 are in BOTH buckets; docs 3,4 match neither
    assert got == {"small": 2, "group_a": 2, "_other_": 2}
    with pytest.raises(ValueError, match="collides"):
        filters_agg(df, [("_other_", F.col("v") > 0)])


def test_value_histogram_zero_buckets_and_negative_floor(spark):
    """min_doc_count=0 (ES default): empty buckets between min and max
    keys materialize; negative values floor DOWN (-0.5 → bucket -100,
    not 0); min_doc_count>0 switches to the sparse filter."""
    from pandemic_knowledge_spark.operators.aggregates import value_histogram

    df = spark.createDataFrame(
        [(-50.0,), (10.0,), (20.0,), (250.0,)], "value double"
    )
    got = {r.bucket: r.doc_count for r in value_histogram(df, "value", 100.0).collect()}
    assert got == {-100.0: 1, 0.0: 2, 100.0: 0, 200.0: 1}
    sparse = {
        r.bucket: r.doc_count
        for r in value_histogram(df, "value", 100.0, min_doc_count=2).collect()
    }
    assert sparse == {0.0: 2}


def test_serial_diff_equals_lagged_subtraction_on_dense_spine(spark):
    """diff_7 = cnt − cnt[day−7] on the DENSIFIED spine: a gap day exists
    with cnt 0 and participates on both sides of the lag."""
    from pandemic_knowledge_spark.operators.aggregates import serial_diff_daily

    rows = [("2024-01-01 00:00:00",)] * 3 + [("2024-01-08 00:00:00",)] * 5
    df = spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.day.isoformat(): r for r in serial_diff_daily(df, "ts", lag=7).collect()}
    assert len(got) == 8  # dense: Jan 1..8
    assert got["2024-01-02"].cnt == 0  # densified gap
    assert got["2024-01-07"].diff_7 is None  # no bucket 7 back
    assert got["2024-01-08"].diff_7 == 2  # 5 - 3
    import pytest

    with pytest.raises(ValueError, match="lag"):
        serial_diff_daily(df, "ts", lag=0)


def test_sibling_buckets_tie_breaks_to_earliest_day(spark):
    """max_bucket/min_bucket pick the EARLIEST tied day (ES returns a keys
    list; a single-row engine answer must name one deterministically)."""
    from pandemic_knowledge_spark.operators.aggregates import sibling_bucket_stats

    rows = (
        [("2024-01-01 00:00:00",)] * 4
        + [("2024-01-02 00:00:00",)] * 1
        + [("2024-01-03 00:00:00",)] * 4  # ties Jan 1 for max
        + [("2024-01-04 00:00:00",)] * 1  # ties Jan 2 for min
    )
    df = spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    r = sibling_bucket_stats(df, "ts").collect()[0]
    assert (r.max_cnt, r.max_day.isoformat()) == (4, "2024-01-01")
    assert (r.min_cnt, r.min_day.isoformat()) == (1, "2024-01-02")
    assert r.sum_cnt == 10 and r.avg_cnt == 2.5


def test_string_stats_known_entropy(spark):
    """Hand-checked Shannon entropy: values ['ab','b'] → chars {a:1, b:2},
    H = log2(3) − (1·log2 1 + 2·log2 2)/3 ≈ 0.918296; NULL values are
    ignored (ES skips missing)."""
    from pandemic_knowledge_spark.operators.aggregates import string_stats

    df = spark.createDataFrame([("ab",), ("b",), (None,)], "s string")
    r = string_stats(df, "s").collect()[0]
    assert (r["count"], r.min_length, r.max_length) == (2, 1, 2)
    assert r.avg_length == 1.5
    assert r.entropy == 0.918296


def test_top_hits_plan_prunes_topk_before_shuffle(spark):
    """The top-k window must get WindowGroupLimit pushdown (each input
    partition keeps <= k rows per bucket pre-shuffle) — which requires the
    doc_count to come from a separate map-side-combined aggregate, never
    an unbounded count frame on the same window (the first-draft plan
    shuffled every row only to discard it at the rank filter)."""
    from pandemic_knowledge_spark.operators.aggregates import top_hits

    df = spark.createDataFrame(
        [(g, i, float(i)) for g in ("a", "b") for i in range(20)],
        "g string, i int, v double",
    )
    out = top_hits(df, "g", "v", ["i", "v"], k=3, tiebreak_col="i")
    got = {(r.g, r.rank): (r.i, r.doc_count) for r in out.collect()}
    assert got[("a", 1)] == (19, 20) and got[("b", 3)] == (17, 20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    # no unbounded count frame riding a window — doc_count must be the agg
    assert "count(1) windowspecdefinition" not in plan


def test_cumulative_cardinality_counts_first_seen_only(spark):
    """A key re-appearing on later days must not re-count; days with docs
    but no NEW keys still bucket (new_keys=0) and the running total
    carries; gap days densify."""
    from pandemic_knowledge_spark.operators.aggregates import (
        cumulative_cardinality_daily,
    )

    rows = [
        ("2024-01-01 10:00:00", 1), ("2024-01-01 11:00:00", 2),
        ("2024-01-02 10:00:00", 1),                       # repeat only
        ("2024-01-04 10:00:00", 2), ("2024-01-04 11:00:00", 3),  # one new
    ]
    df = spark.createDataFrame(rows, "ts string, user_id long").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    got = {
        r.day.isoformat(): (r.new_keys, r.cumulative_keys)
        for r in cumulative_cardinality_daily(df, "ts", "user_id").collect()
    }
    assert got == {
        "2024-01-01": (2, 2),
        "2024-01-02": (0, 2),  # repeat user adds nothing
        "2024-01-03": (0, 2),  # densified gap
        "2024-01-04": (1, 3),
    }


def test_range_agg_open_ends_overlap_and_null_exclusion(spark):
    """ES range semantics: from inclusive / to exclusive, open ends,
    independent (overlapping) buckets, NULL values in no bucket."""
    from pandemic_knowledge_spark.operators.aggregates import range_agg

    df = spark.createDataFrame(
        [(None,), (5.0,), (10.0,), (25.0,), (40.0,)], "v double"
    )
    got = {
        r.bucket: r.doc_count
        for r in range_agg(
            df, "v",
            [("lo", None, 10), ("mid", 10, 40), ("hi", 40, None),
             ("from_25", 25, None)],
        ).collect()
    }
    # 10 goes to mid (from-inclusive), not lo (to-exclusive); 40 to hi;
    # NULL nowhere; from_25 overlaps hi
    assert got == {"lo": 1, "mid": 2, "hi": 1, "from_25": 2}


def test_geotile_clamps_poles_and_antimeridian(spark):
    """Web-Mercator edges: lat ±90 clamps to ±85.0511 (tile 0 / 2^z−1),
    lon 180 clamps into the last column — no NaN/overflow tiles; and the
    equator/greenwich point lands in the exact center tile."""
    from pandemic_knowledge_spark.functions.geo import geotile_cell

    df = spark.createDataFrame(
        [(90.0, 0.0), (-90.0, 0.0), (0.0, 180.0), (0.0, -180.0), (0.0, 0.0)],
        "lat double, lon double",
    )
    xt, yt = geotile_cell(F.col("lat"), F.col("lon"), 4)
    got = [(r.x, r.y) for r in df.select(xt.alias("x"), yt.alias("y")).collect()]
    assert got[0] == (8, 0)     # north pole row clamps to top tile
    assert got[1] == (8, 15)    # south pole row clamps to bottom tile
    assert got[2] == (15, 8)    # lon=180 clamps into the last column
    assert got[3] == (0, 8)
    assert got[4] == (8, 8)     # center tile


def test_t_test_welch_hand_checked(spark):
    """Hand-checked Welch t: A = [1,2,3] (mean 2, var 1), B = [2,4]
    (mean 3, var 2) → t = (2−3)/√(1/3 + 2/2) ≈ −0.866025."""
    from pandemic_knowledge_spark.operators.aggregates import t_test_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 2.0), ("b", 4.0)],
        "g string, v double",
    )
    r = t_test_agg(df, "v", F.col("g") == "a", F.col("g") == "b").collect()[0]
    assert (r.n_a, r.n_b, r.mean_a, r.mean_b) == (3, 2, 2.0, 3.0)
    assert r.t_value == -0.866025


def test_moving_percentile_truncates_at_series_start_and_sees_gaps(spark):
    """Trailing-3-day exact median: truncated windows at the series start
    (median of 1 then 2 values), densified gap days participate as
    zeros."""
    from pandemic_knowledge_spark.operators.aggregates import (
        moving_percentile_daily,
    )

    rows = (
        [("2024-01-01 00:00:00",)] * 4
        + [("2024-01-02 00:00:00",)] * 2
        + [("2024-01-04 00:00:00",)] * 6  # Jan 3 is an empty bucket
    )
    df = spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        r.day.isoformat(): r.moving_p50
        for r in moving_percentile_daily(df, "ts", window=3, p=0.5).collect()
    }
    assert got == {
        "2024-01-01": 4.0,   # [4]
        "2024-01-02": 3.0,   # [4, 2] → interpolated median
        "2024-01-03": 2.0,   # [4, 2, 0] — the zero bucket counts
        "2024-01-04": 2.0,   # [2, 0, 6]
    }
    import pytest

    with pytest.raises(ValueError, match="window"):
        moving_percentile_daily(df, "ts", window=0)
    with pytest.raises(ValueError, match="p must"):
        moving_percentile_daily(df, "ts", p=1.5)


_PANEL_BODIES = {
    "date_histogram": {"query": {"range": {"ts": {
        "gte": 1704067200000, "lt": 1709251200000, "format": "epoch_millis"}}},
        "aggs": {"h": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                       "aggs": {"s": {"sum": {"field": "value"}}}}}},
    "terms": {"query": {"range": {"value": {"gte": 5.0}}},
        "aggs": {"t": {"terms": {"field": "event_type", "size": 4},
                       "aggs": {"a": {"avg": {"field": "value"}}}}}},
    "split_series": {"aggs": {"t": {"terms": {"field": "event_type", "size": 3},
        "aggs": {"w": {"date_histogram": {"field": "ts", "calendar_interval": "week"},
                       "aggs": {"m": {"max": {"field": "value"}}}}}}}},
    "percentiles": {"query": {"range": {"value": {"gte": 2.5}}},
        "aggs": {"t": {"terms": {"field": "event_type", "size": 10},
                       "aggs": {"p": {"percentiles": {
                           "field": "value", "percents": [50.0, 95.0]}}}}}},
    "geotile": {"aggs": {"g": {"geotile_grid": {"field": "loc", "precision": 3}}}},
}


@pytest.mark.parametrize("panel, bound", [
    ("date_histogram", 204),
    ("terms", 167),
    ("split_series", 232),
    ("percentiles", 234),
    ("geotile", 398),
])
def test_kibana_panel_bodies_build_in_bounded_py4j_calls(
    spark, sf_dir, count_py4j_calls, panel, bound
):
    """Building — not running — a Kibana-shaped es_aggs body sends at most
    as many py4j commands from the calling thread as the bound: the count
    measured before one/two/three-level nesting moved onto one code path,
    and the same after it (plan building must not get dearer — plan time
    is a visible share of every dashboard panel)."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs
    from pandemic_knowledge_spark.tables import load

    frame = load(spark, sf_dir, "events")
    if panel == "geotile":
        frame = frame.selectExpr(
            "*", "named_struct('lat', CAST(user_id % 170 AS DOUBLE) - 85.0, "
            "'lon', CAST(event_id % 360 AS DOUBLE) - 180.0) AS loc")
    body = _PANEL_BODIES[panel]
    es_aggs(frame, body)  # first use loads classes on both sides
    out, n = count_py4j_calls(lambda: es_aggs(frame, body))
    assert n <= bound, n
    assert out[next(iter(body["aggs"]))].count() > 0
