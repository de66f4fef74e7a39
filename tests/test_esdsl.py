"""The ES request-body door (operators.esdsl.es_query): real ES JSON
bodies route onto the engine's doors and return the identical pages the
direct door calls return — including the reference's own SearchUI
queryBuilder shape, bool.filter[multi_match]. Unsupported constructs must
raise UnsupportedEsQuery with the failing JSON path, never approximate."""

from __future__ import annotations

import pytest

from pandemic_knowledge_spark.engine import Engine
from pandemic_knowledge_spark.operators.boolquery import (
    bool_search,
    dis_max_search,
    function_score_search,
)
from pandemic_knowledge_spark.operators.esdsl import (
    UnsupportedEsQuery,
    es_query,
)
from pandemic_knowledge_spark.operators.search import (
    bm25_search,
    span_near_search,
    wildcard_search,
)
from pandemic_knowledge_spark.tables import load


def rows(df):
    return sorted(map(tuple, df.collect()))


def test_reference_searchui_shape(spark, sf_dir):
    """The exact body the reference's queryBuilder emits —
    bool.filter[multi_match] (SearchUI.js:15-33) — must run and equal the
    equivalent direct bool door call."""
    docs = load(spark, sf_dir, "documents")
    body = {
        "query": {
            "bool": {
                "must": [{"multi_match": {"query": "spark stream",
                                          "fields": ["text"],
                                          "type": "best_fields"}}],
                "filter": [{"term": {"text": "table"}}],
            }
        },
        "size": 10,
    }
    got = rows(es_query(docs, "doc_id", "text", body))
    want = rows(bool_search(docs, "doc_id", "text",
                            must=[{"match": "spark stream"}],
                            filter=[{"term": "table"}], k=10))
    assert got == want and got


def test_bool_body_full_clause_mix(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    body = {
        "query": {
            "bool": {
                "must": [{"match": {"text": {"query": "spark stream",
                                             "operator": "and"}}}],
                "should": [
                    {"match_phrase": {"text": {"query": "fast scan",
                                               "slop": 2, "boost": 1.5}}},
                    {"constant_score": {"filter": {"term": {"text": "table"}},
                                        "boost": 2.0}},
                ],
                "must_not": [{"term": {"text": "vector"}}],
                "filter": [{"range": {"n_chars": {"gte": 100, "lt": 500}}},
                           {"exists": {"field": "lang"}}],
            }
        },
        "size": 12,
    }
    got = rows(es_query(docs, "doc_id", "text", body))
    want = rows(bool_search(
        docs, "doc_id", "text",
        must=[{"match": "spark stream", "operator": "and"}],
        should=[{"phrase": "fast scan", "slop": 2, "boost": 1.5},
                {"constant_score": {"term": "table"}, "boost": 2.0}],
        must_not=[{"term": "vector"}],
        filter=[{"range": {"n_chars": {"gte": 100, "lt": 500}}},
                {"exists": {"field": "lang"}}],
        k=12,
    ))
    assert got == want and got


def test_top_level_leaves_and_compounds(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # bare match == implicit bool should
    got = rows(es_query(docs, "doc_id", "text",
                        {"query": {"match": {"text": "spark stream"}},
                         "size": 8}))
    want = rows(bool_search(docs, "doc_id", "text",
                            should=[{"match": "spark stream"}],
                            minimum_should_match=1, k=8))
    assert got == want
    # dis_max
    got = rows(es_query(docs, "doc_id", "text", {
        "query": {"dis_max": {
            "queries": [{"match": {"text": "spark stream"}},
                        {"match_phrase": {"text": "fast scan"}}],
            "tie_breaker": 0.3,
        }}, "size": 10}))
    want = rows(dis_max_search(
        docs, "doc_id", "text",
        [{"match": "spark stream"}, {"phrase": "fast scan"}],
        tie_breaker=0.3, k=10))
    assert got == want
    # function_score
    fs_body = {
        "query": {"function_score": {
            "query": {"match": {"text": "spark stream"}},
            "functions": [
                {"field_value_factor": {"field": "n_chars", "factor": 0.01,
                                        "modifier": "log1p", "missing": 1.0}},
                {"weight": 2.0, "filter": {"term": {"text": "table"}}},
            ],
            "max_boost": 8.0,
        }}, "size": 10}
    got = rows(es_query(docs, "doc_id", "text", fs_body))
    want = rows(function_score_search(
        docs, "doc_id", "text", {"match": "spark stream"},
        [{"field_value_factor": {"field": "n_chars", "factor": 0.01,
                                 "modifier": "log1p", "missing": 1.0}},
         {"weight": 2.0, "filter": {"term": "table"}}],
        max_boost=8.0, k=10))
    assert got == want
    # wildcard + span_near
    got = rows(es_query(docs, "doc_id", "text",
                        {"query": {"wildcard": {"text": {"value": "str*"}}},
                         "size": 10}))
    want = rows(wildcard_search(docs, "doc_id", "text", "str*", k=10))
    assert got == want
    got = rows(es_query(docs, "doc_id", "text", {
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": "spark"}},
                        {"span_term": {"text": {"value": "stream"}}}],
            "slop": 3, "in_order": True,
        }}, "size": 15}))
    want = rows(span_near_search(docs, "doc_id", "text", "spark stream",
                                 slop=3, k=15))
    assert got == want


def test_from_size_offset_paging(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    full = bm25_search(docs, "doc_id", "text", "spark stream", k=9).collect()
    page2 = es_query(docs, "doc_id", "text",
                     {"query": {"match": {"text": "spark stream"}},
                      "size": 3, "from": 6}).collect()
    assert [tuple(r) for r in page2] == [tuple(r) for r in full[6:9]]


def test_match_all(spark):
    docs = spark.createDataFrame(
        [(i, "x") for i in range(7)], "doc_id long, text string"
    )
    got = es_query(docs, "doc_id", "text",
                   {"query": {"match_all": {}}, "size": 5}).collect()
    assert [r["doc_id"] for r in got] == [0, 1, 2, 3, 4]
    assert all(r["score"] == 0.0 for r in got)


def test_unsupported_paths_are_named(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(UnsupportedEsQuery, match=r"\$\.query\.bool\.must\[0\]"):
        es_query(docs, "doc_id", "text",
                 {"query": {"bool": {"must": [{"bool": {}}]}}})
    with pytest.raises(UnsupportedEsQuery, match="knn"):
        es_query(docs, "doc_id", "text", {"query": {"knn": {}}})
    with pytest.raises(UnsupportedEsQuery, match="fuzziness"):
        es_query(docs, "doc_id", "text",
                 {"query": {"bool": {"must": [
                     {"fuzzy": {"text": {"value": "a", "fuzziness": 1}}}]}}})
    with pytest.raises(UnsupportedEsQuery, match="unsupported options"):
        es_query(docs, "doc_id", "text",
                 {"query": {"match": {"text": {"query": "a",
                                               "analyzer": "english"}}}})
    with pytest.raises(UnsupportedEsQuery, match="top-level"):
        es_query(docs, "doc_id", "text",
                 {"query": {"bool": {"must": [{"multi_match": {
                     "query": "a", "fields": ["text", "lang"]}}]}}})


def test_engine_facade(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark stream"}}],
        "filter": [{"range": {"n_chars": {"gte": 120}}}],
    }}, "size": 10}
    got = rows(eng.es_query(body))
    want = rows(es_query(load(spark, sf_dir, "documents"),
                         "doc_id", "text", body))
    assert got == want and got


def test_missing_required_keys_raise_pathed_errors(spark):
    """Malformed bodies (missing required keys) raise UnsupportedEsQuery
    carrying the JSON path — never a raw KeyError."""
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for body, frag in [
        ({"query": {"dis_max": {}}}, "queries"),
        ({"query": {"function_score": {}}}, "query"),
        ({"query": {"exists": {}}}, "field"),
        ({"query": {"bool": {"must": [{"term": {"text": {"boost": 2}}}]}}},
         "value"),
        ({"query": {"span_near": {"clauses": [{"span_term": {"t": {}}}]}}},
         "value"),
        ({"size": 3}, "query"),
    ]:
        with pytest.raises(UnsupportedEsQuery, match=frag):
            es_query(docs, "doc_id", "text", body)


# ------------------------------------------------------------ aggregations


def test_es_aggs_kibana_dashboard_body(spark, sf_dir):
    """The Kibana shape: filter + date_histogram + metric sub-aggs equals
    the direct groupBy."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    body = {
        "query": {"bool": {"must_not": [{"term": {"event_type": "signup"}}]}},
        "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"users": {"cardinality": {"field": "user_id"}},
                     "max_value": {"max": {"field": "value"}}},
        }},
    }
    got = rows(es_aggs(ev, body)["per_day"])
    want = rows(
        ev.where(~F.coalesce(F.col("event_type") == "signup", F.lit(False)))
        .groupBy(F.date_trunc("day", "ts").alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             F.countDistinct("user_id").alias("users"),
             F.max("value").alias("max_value"))
        .orderBy("key")
    )
    assert got == want and got


def test_es_aggs_terms_histogram_range(spark):
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 15.0), (3, "b", 25.0), (4, "b", None),
         (5, "c", 35.0)],
        "id long, kind string, v double",
    )
    out = es_aggs(df, {"aggs": {
        "kinds": {"terms": {"field": "kind", "size": 2},
                  "aggs": {"v_count": {"value_count": {"field": "v"}}}},
        "v_hist": {"histogram": {"field": "v", "interval": 10.0}},
        "v_ranges": {"range": {"field": "v", "ranges": [
            {"to": 10.0}, {"from": 10.0, "to": 30.0}, {"from": 30.0}]}},
    }})
    kinds = [(r["key"], r["doc_count"], r["v_count"])
             for r in out["kinds"].collect()]
    assert kinds == [("a", 2, 2), ("b", 2, 1)]  # count desc, key asc, size 2
    hist = [(r["key"], r["doc_count"]) for r in out["v_hist"].collect()]
    assert hist == [(0.0, 1), (10.0, 1), (20.0, 1), (30.0, 1)]  # nulls out
    ranges = {r["key"]: r["doc_count"] for r in out["v_ranges"].collect()}
    # ES bounds: from inclusive, to exclusive; nulls never bucket
    assert ranges == {"*-10.0": 1, "10.0-30.0": 2, "30.0-*": 1}


def test_epoch_millis_range_ignores_driver_time_zone(spark, sf_dir):
    """Range bounds resolved driver-side (epoch_millis numbers, anchored
    date math) are UTC instants whatever the driver's TZ: a daily
    date_histogram planned under TZ=America/New_York returns the rows the
    UTC-planned one does. The frames are collected after TZ is restored,
    because collect renders timestamps in the driver's local time."""
    import os
    import time

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    ev = load(spark, sf_dir, "events")
    hist = {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}}
    bodies = [
        # 2024-01-02T00:00Z .. 2024-01-04T00:00Z
        {"query": {"range": {"ts": {"gte": 1704153600000, "lt": 1704326400000,
                                    "format": "epoch_millis"}}}, "aggs": hist},
        {"query": {"range": {"ts": {"gte": "1704067200000||+1d",
                                    "lt": "1704067200000||+3d",
                                    "format": "epoch_millis"}}}, "aggs": hist},
    ]
    want = [rows(es_aggs(ev, b)["d"]) for b in bodies]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        planned = [es_aggs(ev, b)["d"] for b in bodies]
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert want[0] and want[0] == want[1]
    assert [rows(df) for df in planned] == want


def test_es_aggs_filter_semantics(spark):
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = spark.createDataFrame(
        [(1, "x", "apple pie", 5), (2, "y", "apple tart", 50),
         (3, "x", "pear pie", 50), (4, None, "apple", 50)],
        "id long, kind string, text string, n long",
    )
    # recursive bool, text term (analyzed membership) + field range +
    # must_not over a NULL field keeps the doc
    body = {
        "query": {"bool": {
            "must": [{"term": {"text": "apple"}}],
            "filter": [{"range": {"n": {"gte": 10}}}],
            "must_not": [{"term": {"kind": "y"}}],
        }},
        "aggs": {"n_ids": {"terms": {"field": "id", "size": 10}}},
    }
    got = {r["key"] for r in
           es_aggs(df, body, text_col="text")["n_ids"].collect()}
    assert got == {4}  # 1 fails range, 2 is must_not'd, 3 lacks 'apple';
    # 4's NULL kind must be KEPT by the must_not (ES missing-field rule)


def test_es_aggs_errors_are_pathed(spark):
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    with pytest.raises(UnsupportedEsQuery, match="aggs"):
        es_aggs(df, {"query": {"match_all": {}}})
    with pytest.raises(UnsupportedEsQuery, match="weighted_avg"):
        es_aggs(df, {"aggs": {"p": {"terms": {"field": "id"}, "aggs": {
            "q": {"weighted_avg": {"field": "v"}}}}}})
    with pytest.raises(UnsupportedEsQuery, match="composite"):
        es_aggs(df, {"aggs": {"c": {"composite": {"sources": []}}}})
    with pytest.raises(UnsupportedEsQuery, match="text column"):
        es_aggs(df, {"query": {"match": {"t": "x"}},
                     "aggs": {"a": {"terms": {"field": "id"}}}})


def test_es_aggs_engine_facade(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    body = {"aggs": {"by_type": {"terms": {"field": "event_type",
                                           "size": 3}}}}
    got = rows(eng.es_aggs(body)["by_type"])
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    want = rows(es_aggs(load(spark, sf_dir, "events"), body)["by_type"])
    assert got == want and got


def test_es_aggs_filters_buckets(spark):
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = spark.createDataFrame(
        [(1, "apple pie", 10.0), (2, "apple tart", 30.0),
         (3, "pear pie", 30.0), (4, "fig", 5.0)],
        "id long, text string, v double",
    )
    out = es_aggs(df, {"aggs": {"panels": {
        "filters": {
            "filters": {
                "apples": {"term": {"text": "apple"}},
                "big": {"range": {"v": {"gte": 20.0}}},
            },
            "other_bucket_key": "rest",
        },
        "aggs": {"v_max": {"max": {"field": "v"}}},
    }}}, text_col="text")["panels"]
    got = [(r["key"], r["doc_count"], r["v_max"]) for r in out.collect()]
    # declaration order; doc 2 lands in BOTH buckets (ES semantics);
    # doc 4 matches none -> other bucket
    assert got == [("apples", 2, 30.0), ("big", 2, 30.0), ("rest", 1, 5.0)]


# --------------------------------------------------- r11 ADVICE regressions


def test_top_level_term_query_scores_constant(spark, sf_dir):
    """ADVICE r10: a bare top-level {"query": {"term": ...}} must run (it
    is listed as supported), routing as constant_score(term) — on an ES
    keyword field norms are off and tf=1, so every matching doc scores
    the same constant; rank-identical, magnitude = boost."""
    docs = load(spark, sf_dir, "documents")
    body = {"query": {"term": {"text": {"value": "spark", "boost": 2.0}}},
            "size": 10}
    got = rows(es_query(docs, "doc_id", "text", body))
    want = rows(bool_search(
        docs, "doc_id", "text",
        should=[{"constant_score": {"term": "spark"}, "boost": 2.0}],
        minimum_should_match=1, k=10,
    ))
    assert got == want and got
    assert {s for _, s in got} == {2.0}


def test_term_inside_bool_scored_context(spark, sf_dir):
    """term in bool must/should wraps to constant_score; in filter /
    must_not it stays a raw membership test (no score contribution)."""
    docs = load(spark, sf_dir, "documents")
    body = {"query": {"bool": {
        "must": [{"term": {"text": "spark"}}],
        "should": [{"term": {"text": {"value": "stream", "boost": 3.0}}}],
    }}, "size": 10}
    got = rows(es_query(docs, "doc_id", "text", body))
    want = rows(bool_search(
        docs, "doc_id", "text",
        must=[{"constant_score": {"term": "spark"}}],
        should=[{"constant_score": {"term": "stream"}, "boost": 3.0}],
        k=10,
    ))
    assert got == want and got


def test_top_level_multi_match_honors_operator(spark, sf_dir):
    """ADVICE r10: top-level multi_match must honor operator /
    minimum_should_match on the single-field best_fields collapse instead
    of silently returning the any-term doc set."""
    docs = load(spark, sf_dir, "documents")
    body_and = {"query": {"multi_match": {
        "query": "spark stream", "fields": ["text"], "operator": "and",
    }}, "size": 200}
    got = rows(es_query(docs, "doc_id", "text", body_and))
    want = rows(bool_search(
        docs, "doc_id", "text",
        should=[{"match": "spark stream", "operator": "and"}],
        minimum_should_match=1, k=200,
    ))
    assert got == want and got
    # and the AND doc set is exactly the docs holding BOTH tokens — the
    # any-term approximation the silent path returned would include
    # single-token docs
    from pyspark.sql import functions as F

    from pandemic_knowledge_spark.functions.text import tokenize

    both = {
        r["doc_id"]
        for r in docs.where(
            F.array_contains(tokenize("text"), "spark")
            & F.array_contains(tokenize("text"), "stream")
        ).select("doc_id").collect()
    }
    page_ids = {d for d, _ in got}
    assert page_ids <= both
    assert len(got) == min(200, len(both))


def test_top_level_multi_match_rejects_unknown_options(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    with pytest.raises(UnsupportedEsQuery, match="fuzziness"):
        es_query(docs, "doc_id", "text", {"query": {"multi_match": {
            "query": "spark", "fields": ["text"], "fuzziness": "AUTO",
        }}})
    with pytest.raises(UnsupportedEsQuery, match="single-field"):
        es_query(docs, "doc_id", "text", {"query": {"multi_match": {
            "query": "spark", "fields": ["text", "lang"],
            "operator": "and",
        }}})


def test_bool_multi_match_single_field_boost_folds(spark, sf_dir):
    """ADVICE r10: fields: ["text^3"] inside bool multiplies the clause
    score by 3 (single field — an exact fold), never silently strips."""
    docs = load(spark, sf_dir, "documents")
    boosted = {"query": {"bool": {"must": [{"multi_match": {
        "query": "spark stream", "fields": ["text^3"],
    }}]}}, "size": 10}
    plain = {"query": {"bool": {"must": [{"multi_match": {
        "query": "spark stream", "fields": ["text"],
    }}]}}, "size": 10}
    got = dict(rows(es_query(docs, "doc_id", "text", boosted)))
    base = dict(rows(es_query(docs, "doc_id", "text", plain)))
    assert set(got) == set(base) and got
    for d, s in got.items():
        # scores round to 4 dp on both sides, so the fold is exact up to
        # 3x a half-ulp of the base rounding
        assert abs(s - 3.0 * base[d]) < 2e-4


def test_nested_bool_allowed_inside_filter_subtree(spark, sf_dir):
    """ADVICE r10: an ES-valid filter tree with bool under must INSIDE a
    filter occurrence (pure membership all the way down) must compile."""
    docs = load(spark, sf_dir, "documents")
    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"bool": {"must": [{"bool": {"should": [
            {"term": {"text": "stream"}},
            {"range": {"n_chars": {"gte": 500}}},
        ]}}]}}],
    }}, "size": 50}
    got = rows(es_query(docs, "doc_id", "text", body))
    # flat equivalent: filter on (stream-token OR n_chars>=500)
    want = rows(bool_search(
        docs, "doc_id", "text",
        must=[{"match": "spark"}],
        filter=[{"bool": {"should": [
            {"term": "stream"}, {"range": {"n_chars": {"gte": 500}}},
        ]}}],
        k=50,
    ))
    assert got == want and got
    # scored contexts OUTSIDE a membership subtree still reject nesting
    with pytest.raises(UnsupportedEsQuery, match="SCORED"):
        es_query(docs, "doc_id", "text", {"query": {"bool": {
            "must": [{"bool": {"must": [{"match": {"text": "spark"}}]}}],
        }}})


# ------------------------------------------- r11 door widening: sort/_source


def test_es_body_sort_source_latest_feed(spark, sf_dir):
    """The reference's "Latest news" panel as a verbatim ES body —
    match_all + sort by time desc + _source projection, size 8
    (SearchUI.js:51 / crawl_google_news.py:75)."""
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    body = {"query": {"match_all": {}},
            "sort": [{"ts": "desc"}],
            "size": 8,
            "_source": ["ts", "event_type", "value"]}
    got = es_query(ev, "event_id", None, body)
    assert got.columns == ["doc_id", "ts", "event_type", "value"]
    want = [
        (r["event_id"], r["ts"], r["event_type"], r["value"])
        for r in ev.orderBy(F.desc("ts"), "event_id").limit(8).collect()
    ]
    assert [tuple(r) for r in got.collect()] == want


def test_es_body_sort_with_filter_and_offset(spark, sf_dir):
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    body = {"query": {"bool": {"filter": [
                {"term": {"event_type": "purchase"}}]}},
            "sort": [{"value": {"order": "desc"}}],
            "size": 5, "from": 3,
            "_source": ["value"]}
    got = [tuple(r) for r in es_query(ev, "event_id", None, body).collect()]
    want = [
        (r["event_id"], r["value"])
        for r in ev.where(F.col("event_type") == "purchase")
        .orderBy(F.desc("value"), "event_id").limit(8).collect()
    ][3:]
    assert got == want and len(got) == 5


def test_es_body_source_on_scored_route(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    body = {"query": {"match": {"text": "spark stream"}}, "size": 5,
            "_source": ["lang", "n_chars"]}
    got = es_query(docs, "doc_id", "text", body)
    assert got.columns == ["doc_id", "score", "lang", "n_chars"]
    plain = es_query(docs, "doc_id", "text",
                     {"query": {"match": {"text": "spark stream"}},
                      "size": 5})
    # ORDER matters: _source pages keep the module's documented
    # (score DESC, doc_id) total order — the join-back must not scramble
    # it (r11 advisor finding: set-compare masked nondeterministic order)
    assert ([(r["doc_id"], r["score"]) for r in got.collect()]
            == [tuple(r) for r in plain.collect()])


def test_es_body_sort_rejects_score_and_bad_order(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    with pytest.raises(UnsupportedEsQuery, match="_score"):
        es_query(ev, "event_id", None,
                 {"query": {"match_all": {}}, "sort": [{"_score": "desc"}]})
    with pytest.raises(UnsupportedEsQuery, match="order"):
        es_query(ev, "event_id", None,
                 {"query": {"match_all": {}}, "sort": [{"ts": "down"}]})


# -------------------------------------- r11 door widening: agg bucket/metric


def _docs_frame(spark):
    import datetime as dt

    rows = []
    for i in range(48):
        rows.append((
            i,
            dt.datetime(2023 + i % 2, 1 + (i // 2) % 6, 1 + i % 7),
            ["news", "blog", "wire"][i % 3],
            float((i * 7) % 23),
            {"lat": float((i * 13) % 120 - 60), "lon": float((i * 29) % 320 - 160)},
        ))
    return spark.createDataFrame(
        rows,
        "id long, ts timestamp, kind string, v double, "
        "loc struct<lat:double,lon:double>",
    )


def test_es_aggs_nested_terms_date_histogram(spark):
    """The Kibana split-series body: terms -> date_histogram -> metrics,
    one flat (key, inner_key, doc_count, metrics) row per pair."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = _docs_frame(spark)
    out = es_aggs(df, {"aggs": {"by_kind": {
        "terms": {"field": "kind", "size": 2},
        "aggs": {"per_month": {
            "date_histogram": {"field": "ts", "calendar_interval": "month"},
            "aggs": {"v_max": {"max": {"field": "v"}}},
        }},
    }}})["by_kind"]
    assert out.columns == ["key", "per_month_key", "doc_count", "v_max"]
    rows = out.collect()
    # outer size=2: only the top-2 kinds by TOTAL doc_count survive
    assert len({r["key"] for r in rows}) == 2
    # spot-check one pair against a hand count
    import datetime as dt

    data = df.collect()
    kinds = sorted({d["kind"] for d in data})
    totals = {k: sum(1 for d in data if d["kind"] == k) for k in kinds}
    top2 = sorted(kinds, key=lambda k: (-totals[k], k))[:2]
    assert {r["key"] for r in rows} == set(top2)
    k0 = top2[0]
    m0 = min(dt.datetime(d["ts"].year, d["ts"].month, 1)
             for d in data if d["kind"] == k0)
    want_n = sum(1 for d in data if d["kind"] == k0
                 and dt.datetime(d["ts"].year, d["ts"].month, 1) == m0)
    want_mx = max(d["v"] for d in data if d["kind"] == k0
                  and dt.datetime(d["ts"].year, d["ts"].month, 1) == m0)
    got0 = [r for r in rows if r["key"] == k0
            and r["per_month_key"] == m0]
    assert len(got0) == 1
    assert (got0[0]["doc_count"], got0[0]["v_max"]) == (want_n, want_mx)
    # r12: three levels route to the triple-key path (see
    # test_three_level_nested_buckets); FOUR levels stay a pathed error
    with pytest.raises(UnsupportedEsQuery, match="three levels"):
        es_aggs(df, {"aggs": {"a": {"terms": {"field": "kind"}, "aggs": {
            "b": {"terms": {"field": "kind"}, "aggs": {
                "c": {"terms": {"field": "kind"}, "aggs": {
                    "d": {"terms": {"field": "kind"}}}}}}}}}})
    # metrics next to a nested bucket must live inside it
    with pytest.raises(UnsupportedEsQuery, match="INSIDE"):
        es_aggs(df, {"aggs": {"a": {"terms": {"field": "kind"}, "aggs": {
            "b": {"terms": {"field": "kind"}},
            "m": {"max": {"field": "v"}}}}}})


def test_es_aggs_geo_grids_match_standalone(spark):
    from pandemic_knowledge_spark.functions.geo import (
        geohash_cell,
        geotile_cell,
    )
    from pandemic_knowledge_spark.operators.esdsl import es_aggs
    from pyspark.sql import functions as F

    df = _docs_frame(spark)
    gh = es_aggs(df, {"aggs": {"cells": {
        "geohash_grid": {"field": "loc", "precision": 3}}}})["cells"]
    want = (
        df.groupBy(
            geohash_cell(F.col("loc.lat"), F.col("loc.lon"), 3).alias("key")
        ).agg(F.count(F.lit(1)).alias("doc_count"))
    )
    assert sorted(map(tuple, gh.collect())) == sorted(map(tuple, want.collect()))
    gt = es_aggs(df, {"aggs": {"tiles": {
        "geotile_grid": {"field": "loc", "precision": 4}}}})["tiles"]
    xt, yt = geotile_cell(F.col("loc.lat"), F.col("loc.lon"), 4)
    want_t = (
        df.groupBy(
            F.concat_ws("/", F.lit("4"), xt.cast("string"),
                        yt.cast("string")).alias("key")
        ).agg(F.count(F.lit(1)).alias("doc_count"))
    )
    assert sorted(map(tuple, gt.collect())) == sorted(map(tuple, want_t.collect()))


def test_es_aggs_percentiles_and_mad_metrics(spark):
    """percentiles/percentile_ranks/extended_stats/MAD sub-aggs under a
    terms bucket match hand-computed exact forms."""
    import statistics

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = _docs_frame(spark)
    out = es_aggs(df, {"aggs": {"by_kind": {
        "terms": {"field": "kind", "size": 3},
        "aggs": {
            "pv": {"percentiles": {"field": "v", "percents": [50.0]}},
            "rk": {"percentile_ranks": {"field": "v", "values": [10.0]}},
            "mad": {"median_absolute_deviation": {"field": "v"}},
        },
    }}})["by_kind"]
    data = df.collect()
    for r in out.collect():
        vs = sorted(d["v"] for d in data if d["kind"] == r["key"])
        assert abs(r["pv_p50"] - statistics.median(vs)) < 1e-6
        assert abs(
            r["rk_rank_10"] - 100.0 * sum(1 for v in vs if v <= 10.0) / len(vs)
        ) < 1e-6
        med = statistics.median(vs)
        assert abs(
            r["mad"] - statistics.median([abs(v - med) for v in vs])
        ) < 1e-6


def test_es_aggs_pipeline_cumsum_derivative(spark):
    """cumulative_sum / derivative sub-aggs: exact prefix sums and lags
    over the ordered bucket frame, composed across coarse partitions
    (multi-year range) without a global single-partition sort."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = _docs_frame(spark)
    out = es_aggs(df, {"aggs": {"per_month": {
        "date_histogram": {"field": "ts", "calendar_interval": "month"},
        "aggs": {
            "n": {"value_count": {"field": "id"}},
            "cum": {"cumulative_sum": {"buckets_path": "n"}},
            "d": {"derivative": {"buckets_path": "_count"}},
        },
    }}})["per_month"]
    rows = out.orderBy("key").collect()
    assert rows[0]["d"] is None
    acc, prev = 0, None
    for r in rows:
        acc += r["n"]
        assert r["cum"] == acc
        if prev is not None:
            assert r["d"] == r["doc_count"] - prev
        prev = r["doc_count"]
    # no Sort directly over a single-partition exchange in the plan
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, (
        "pipeline aggs must not funnel through one partition"
    )


def test_es_aggs_sibling_pipelines(spark):
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = _docs_frame(spark)
    out = es_aggs(df, {"aggs": {
        "per_month": {
            "date_histogram": {"field": "ts", "calendar_interval": "month"},
            "aggs": {"n": {"value_count": {"field": "id"}}},
        },
        "overall": {"stats_bucket": {"buckets_path": "per_month>n"}},
        "avg_n": {"avg_bucket": {"buckets_path": "per_month>_count"}},
    }})
    buckets = [r["n"] for r in out["per_month"].collect()]
    stats = out["overall"].collect()[0]
    assert stats["count"] == len(buckets)
    assert stats["sum"] == sum(buckets)
    assert stats["min"] == min(buckets) and stats["max"] == max(buckets)
    avg = out["avg_n"].collect()[0]["value"]
    assert abs(avg - sum(buckets) / len(buckets)) < 1e-6
    with pytest.raises(UnsupportedEsQuery, match="sibling"):
        es_aggs(df, {"aggs": {
            "x": {"avg_bucket": {"buckets_path": "nope>_count"}}}})


def test_es_aggs_filters_one_scan_with_metrics(spark):
    """The filters agg with metric sub-aggs compiles to ONE aggregate
    (conditional sums) — a single scan regardless of bucket count."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = _docs_frame(spark)
    out = es_aggs(df, {"aggs": {"panels": {
        "filters": {"filters": {
            "news": {"term": {"kind": "news"}},
            "small": {"range": {"v": {"lt": 10.0}}},
        }, "other_bucket_key": "rest"},
        "aggs": {"v_avg": {"avg": {"field": "v"}},
                 "v_sum": {"sum": {"field": "v"}}},
    }}})["panels"]
    data = df.collect()

    def bucket(pred):
        sel = [d["v"] for d in data if pred(d)]
        return (len(sel), sum(sel) / len(sel), sum(sel))

    want = {
        "news": bucket(lambda d: d["kind"] == "news"),
        "small": bucket(lambda d: d["v"] < 10.0),
        "rest": bucket(lambda d: d["kind"] != "news" and d["v"] >= 10.0),
    }
    for r in out.collect():
        n, avg, s = want[r["key"]]
        assert r["doc_count"] == n
        assert abs(r["v_avg"] - avg) < 1e-9 and abs(r["v_sum"] - s) < 1e-9
    # plan shape: exactly one aggregate stage pair over one scan — no
    # union of per-bucket scans (the count of HashAggregate nodes is
    # 2: partial + final on a single grouping)
    plan = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert "Union" not in plan, plan


def test_extended_stats_survives_long_overflow_scale(spark):
    """r11 sf1-probe regression: money-sized values (cents² ≈ 1e15/row)
    overflow a long Σx² after ~1e4 rows — the squares moment must run in
    decimal. 20k rows of ~500k values would overflow 9.2e18; the panel
    must still produce exact doubles (checked against numpy float math on
    the same integers)."""
    from pandemic_knowledge_spark.operators.aggregates import (
        extended_stats_by,
    )
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    n = 20_000
    df = spark.range(n).selectExpr(
        "'g' AS k", "CAST(400000 + (id % 1000) AS DOUBLE) AS v"
    )
    # exact integer moments in Python (unbounded ints), then the SAME
    # fixed double expression shape both engines evaluate — the contract
    # is cross-engine bit-identity of that expression, not exact-real
    # variance (the one-pass moment formula cancels; ES's does too)
    cents = [400000_00 + (i % 1000) * 100 for i in range(n)]
    s, ss = sum(cents), sum(c * c for c in cents)
    assert ss > 2**63 - 1  # the test is vacuous unless long would overflow
    mean = float(s) / n / 100
    var = (float(ss) - float(s) * s / n) / n / 10000.0

    row = extended_stats_by(df, "k", "v").collect()[0]
    assert row["doc_count"] == n
    assert row["avg_value"] == round(mean, 6)
    assert row["variance"] == round(var, 6)

    door = es_aggs(df, {"aggs": {"by_k": {
        "terms": {"field": "k"},
        "aggs": {"x": {"extended_stats": {"field": "v"}}},
    }}})["by_k"].collect()[0]
    assert door["x_count"] == n
    assert door["x_avg"] == round(mean, 6)
    assert door["x_variance"] == round(var, 6)


def test_es_aggs_min_doc_count_zero_densifies(spark):
    """ES min_doc_count:0 (the Kibana default) emits every calendar gap
    bucket with doc_count=0 / NULL metrics; the door default stays 1
    (non-empty only, the shipped green-row semantics)."""
    import datetime as dt

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    rows = [(i, dt.datetime(2024, 1, 1 if i % 4 else 9), float(i))
            for i in range(12)]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    body = {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day",
                           "min_doc_count": 0},
        "aggs": {"vmax": {"max": {"field": "v"}}}}}}
    got = es_aggs(df, body)["per_day"].collect()
    assert [str(r["key"])[:10] for r in got] == [
        f"2024-01-0{d}" for d in range(1, 10)]
    assert [r["doc_count"] for r in got] == [9, 0, 0, 0, 0, 0, 0, 0, 3]
    assert got[1]["vmax"] is None and got[0]["vmax"] == 11.0
    # default (min_doc_count absent) keeps the non-empty-only shape
    body2 = {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"}}}}
    assert es_aggs(df, body2)["per_day"].count() == 2
    # numeric histogram densifies on the interval grid too
    h = es_aggs(df, {"aggs": {"hv": {"histogram": {
        "field": "v", "interval": 5.0, "min_doc_count": 0}}}})["hv"].collect()
    assert [r["key"] for r in h] == [0.0, 5.0, 10.0]


def test_es_aggs_composite_cursor_paging(spark):
    """composite pages walk EVERY bucket in source-tuple order; page N
    resumes strictly after the cursor and never re-emits a bucket."""
    import datetime as dt

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    rows = [(i, dt.datetime(2024, 1 + i % 2, 1), ["a", "b", None][i % 3],
             float(i)) for i in range(24)]
    df = spark.createDataFrame(rows, "id long, ts timestamp, kind string, v double")
    src = [{"k": {"terms": {"field": "kind"}}},
           {"m": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "month"}}}]
    body = {"aggs": {"page": {"composite": {"sources": src, "size": 3},
                              "aggs": {"n": {"value_count": {"field": "id"}}}}}}
    seen, after = [], None
    for _ in range(5):
        b = {"aggs": {"page": {"composite": {"sources": src, "size": 3,
                                             **({"after": after} if after else {})},
                               "aggs": {"n": {"value_count": {"field": "id"}}}}}}
        page = es_aggs(df, b)["page"].collect()
        if not page:
            break
        seen.extend((r["k"], r["m"]) for r in page)
        after = {"k": page[-1]["k"], "m": str(page[-1]["m"])}
    # NULL-keyed rows skipped (missing_bucket=false); 2 kinds x 2 months
    assert seen == sorted(set(seen)) and len(seen) == 4
    data = [r for r in df.collect() if r["kind"] is not None]
    assert len(seen) == len({(d["kind"], d["ts"].month) for d in data})


def test_es_aggs_top_hits_door(spark, sf_dir):
    """terms + top_hits: per-bucket newest rows with payload + bucket
    doc_count, equal to the standalone operator's output."""
    from pandemic_knowledge_spark.operators.aggregates import top_hits
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    ev = load(spark, sf_dir, "events")
    body = {"aggs": {"latest": {"terms": {"field": "event_type", "size": 3},
        "aggs": {"hits": {"top_hits": {"size": 2, "sort": [{"ts": "desc"}],
                                       "_source": ["event_id", "value"]}}}}}}
    got = es_aggs(ev, body)["latest"]
    assert got.columns == ["key", "event_id", "value", "rank", "doc_count"]
    want = top_hits(ev, "event_type", "ts", ["event_id", "value"], k=2,
                    ascending=False).withColumnRenamed("event_type", "key")
    totals = {r["key"]: r["doc_count"]
              for r in want.select("key", "doc_count").distinct().collect()}
    top3 = sorted(totals, key=lambda k: (-totals[k], k))[:3]
    want_rows = sorted(tuple(r) for r in want.collect() if r["key"] in top3)
    assert sorted(tuple(r) for r in got.collect()) == want_rows
    with pytest.raises(UnsupportedEsQuery, match="only sub-agg"):
        es_aggs(ev, {"aggs": {"x": {"terms": {"field": "event_type"},
            "aggs": {"h": {"top_hits": {"size": 1, "sort": [{"ts": "desc"}],
                                        "_source": ["event_id"]}},
                     "m": {"max": {"field": "value"}}}}}})


def test_es_aggs_dense_and_empty_sort_reject_paths(spark):
    """Self-review regressions: min_doc_count:0 in a NESTED body must
    raise (silently ignoring it would violate the door contract), and an
    empty sort array must not silently take the scoreless route."""
    import datetime as dt

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "a", 1.0)],
        "id long, ts timestamp, kind string, v double",
    )
    # terms × dense histogram is IMPLEMENTED since the r13 late wave
    # (per-parent spines — tests/test_es_densify_r13.py); the dense
    # PARENT of a nested bucket stays loud:
    with pytest.raises(UnsupportedEsQuery, match="min_doc_count"):
        es_aggs(df, {"aggs": {"a": {
            "date_histogram": {"field": "ts", "calendar_interval": "day",
                               "min_doc_count": 0},
            "aggs": {"b": {"terms": {"field": "kind"}}}}}})
    with pytest.raises(UnsupportedEsQuery, match="sort"):
        es_query(df, "id", None, {"query": {"match_all": {}}, "sort": []})


def test_es_aggs_text_terms_analyses_door(spark, sf_dir):
    """significant_terms / rare_terms bodies route to the oracle-checked
    text-terms operators: the body query is the foreground, the
    UNFILTERED corpus the background (ES's superset contract)."""
    from pyspark.sql import functions as F

    from pandemic_knowledge_spark.functions.text import tokenize
    from pandemic_knowledge_spark.operators.aggregates import (
        rare_terms,
        significant_terms,
    )
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    docs = load(spark, sf_dir, "documents")
    got = es_aggs(docs, {
        "query": {"term": {"text": "spark"}},
        "aggs": {"sig": {"significant_terms": {"field": "text", "size": 7,
                                               "min_doc_count": 2}}},
    }, text_col="text", id_col="doc_id")["sig"]
    want = significant_terms(
        docs, "doc_id", "text",
        F.array_contains(tokenize("text"), "spark"), top_k=7,
        min_doc_count=2,
    )
    assert rows(got) == rows(want) and got.count()
    got_r = es_aggs(docs, {"aggs": {"r": {"rare_terms": {
        "field": "text", "max_doc_count": 2, "size": 9}}}},
        text_col="text", id_col="doc_id")["r"]
    want_r = rare_terms(docs, "doc_id", "text", 2, limit=9)
    assert rows(got_r) == rows(want_r)
    with pytest.raises(UnsupportedEsQuery, match="id_col"):
        es_aggs(docs, {"aggs": {"r": {"rare_terms": {
            "field": "text", "max_doc_count": 1}}}}, text_col="text")
    with pytest.raises(UnsupportedEsQuery, match="foreground"):
        es_aggs(docs, {"aggs": {"s": {"significant_terms": {
            "field": "text"}}}}, text_col="text", id_col="doc_id")


def test_es_aggs_adjacency_and_auto_histogram_door(spark, sf_dir):
    from pyspark.sql import functions as F

    from pandemic_knowledge_spark.operators.aggregates import (
        adjacency_matrix,
        auto_date_histogram,
    )
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    o = load(spark, sf_dir, "orders")
    got = es_aggs(o, {"aggs": {"adj": {"adjacency_matrix": {"filters": {
        "open": {"term": {"o_orderstatus": "O"}},
        "urgent": {"term": {"o_orderpriority": "1-URGENT"}},
    }}}}})["adj"]
    want = adjacency_matrix(o, {
        "open": F.coalesce(F.col("o_orderstatus") == "O", F.lit(False)),
        "urgent": F.coalesce(F.col("o_orderpriority") == "1-URGENT",
                             F.lit(False)),
    })
    assert rows(got) == rows(want) and got.count()
    got_a = es_aggs(o, {"aggs": {"auto": {"auto_date_histogram": {
        "field": "o_orderdate", "buckets": 12}}}})["auto"]
    want_a = auto_date_histogram(o, "o_orderdate", target_buckets=12)
    assert rows(got_a) == rows(want_a)


def test_es_aggs_wave3_metrics_and_predicate_buckets(spark, sf_dir):
    """weighted_avg / boxplot / geo metrics + date_range / missing /
    multi_terms / geo_distance buckets — value spot-checks."""
    import math

    from pyspark.sql import functions as F

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    o = load(spark, sf_dir, "orders")
    mt = es_aggs(o, {"aggs": {"mt": {
        "multi_terms": {"terms": [{"field": "o_orderstatus"},
                                  {"field": "o_orderpriority"}], "size": 5},
        "aggs": {"wa": {"weighted_avg": {"value": {"field": "o_totalprice"},
                                         "weight": {"field": "o_custkey"}}}},
    }}})["mt"]
    assert mt.columns == ["o_orderstatus", "o_orderpriority", "doc_count",
                          "wa"]
    top = mt.collect()[0]
    data = [r for r in o.collect()
            if (r["o_orderstatus"], r["o_orderpriority"])
            == (top["o_orderstatus"], top["o_orderpriority"])]
    vw = sum(round(d["o_totalprice"] * 100) * d["o_custkey"] for d in data)
    w = sum(d["o_custkey"] for d in data)
    assert abs(top["wa"] - round(vw / w / 100, 6)) < 1e-9
    assert top["doc_count"] == len(data)

    dr = es_aggs(o, {"aggs": {"dr": {
        "date_range": {"field": "o_orderdate",
                       "ranges": [{"key": "old", "to": "1998-01-01"},
                                  {"key": "new", "from": "1998-01-01"}]},
        "aggs": {"bp": {"boxplot": {"field": "o_totalprice"}}},
    }}})["dr"].collect()
    import datetime as dt
    import statistics

    cut = dt.datetime(1998, 1, 1)
    by_key = {r["key"]: r for r in dr}
    old = sorted(r["o_totalprice"] for r in o.collect()
                 if r["o_orderdate"] < cut)
    assert by_key["old"]["doc_count"] == len(old)
    assert by_key["old"]["bp_min"] == min(old)
    assert abs(by_key["old"]["bp_q2"]
               - round(statistics.median(old), 6)) < 1e-6

    miss = es_aggs(o, {"aggs": {"m": {"missing": {"field": "o_custkey"}}}})
    assert miss["m"].collect()[0]["doc_count"] == 0

    cust = load(spark, sf_dir, "customer").select(
        F.struct(
            ((F.col("c_custkey") % 90) - 45).cast("double").alias("lat"),
            ((F.col("c_custkey") % 180) - 90).cast("double").alias("lon"),
        ).alias("loc")
    )
    rings = es_aggs(cust, {"aggs": {"rings": {"geo_distance": {
        "field": "loc", "origin": {"lat": 0.0, "lon": 0.0}, "unit": "km",
        "ranges": [{"to": 5000.0}, {"from": 5000.0}],
    }, }, }, "query": {"match_all": {}}})["rings"].collect()

    def hav(lat, lon):
        R = 6371.0088
        p1, p2 = math.radians(0.0), math.radians(lat)
        dp, dl = math.radians(lat), math.radians(lon)
        a = (math.sin(dp / 2) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
        return 2 * R * math.asin(math.sqrt(a))

    pts = [((k % 90) - 45.0, (k % 180) - 90.0)
           for k in range(1, cust.count() + 1)]
    near = sum(1 for la, lo in pts if hav(la, lo) < 5000.0)
    by_key = {r["key"]: r["doc_count"] for r in rings}
    assert by_key["*-5000.0"] == near
    assert by_key["5000.0-*"] == len(pts) - near
    # geo metrics under a terms bucket
    ev = load(spark, sf_dir, "customer").select(
        F.lit("x").alias("k"),
        F.struct(F.lit(10.0).alias("lat"), F.lit(20.0).alias("lon"))
        .alias("loc"))
    gm = es_aggs(ev, {"aggs": {"g": {"terms": {"field": "k"}, "aggs": {
        "c": {"geo_centroid": {"field": "loc"}},
        "b": {"geo_bounds": {"field": "loc"}}}}}})["g"].collect()[0]
    assert (gm["c_lat"], gm["c_lon"]) == (10.0, 20.0)
    assert (gm["b_top"], gm["b_bottom"], gm["b_left"], gm["b_right"]) == (
        10.0, 10.0, 20.0, 20.0)


def test_es_query_terms_and_query_string_routes(spark, sf_dir):
    """terms queries compile to a membership bool-of-terms (constant
    score in scored contexts, raw membership in filters); query_string
    bodies route to the mini-language door."""
    from pandemic_knowledge_spark.operators.boolquery import (
        query_string_search,
    )

    docs = load(spark, sf_dir, "documents")
    got = rows(es_query(docs, "doc_id", "text", {
        "query": {"terms": {"text": ["spark", "vector"]}}, "size": 30}))
    want = rows(bool_search(
        docs, "doc_id", "text",
        should=[{"constant_score": {"bool": {
            "should": [{"term": "spark"}, {"term": "vector"}],
            "minimum_should_match": 1}}}],
        minimum_should_match=1, k=30))
    assert got == want and got
    assert {s for _, s in got} == {1.0}
    # terms in filter context: pure membership, composes with a scored must
    got_f = rows(es_query(docs, "doc_id", "text", {"query": {"bool": {
        "must": [{"match": {"text": "stream"}}],
        "filter": [{"terms": {"text": ["spark", "vector"]}}]}}, "size": 25}))
    want_f = rows(bool_search(
        docs, "doc_id", "text", must=[{"match": "stream"}],
        filter=[{"bool": {"should": [{"term": "spark"}, {"term": "vector"}],
                          "minimum_should_match": 1}}], k=25))
    assert got_f == want_f and got_f
    # query_string body
    q = '+spark -vector "fast scan"'
    got_q = rows(es_query(docs, "doc_id", "text", {
        "query": {"query_string": {"query": q}}, "size": 10}))
    want_q = rows(query_string_search(docs, "doc_id", "text", q, k=10))
    assert got_q == want_q


def test_engine_es_search_unified_request(spark, sf_dir):
    """The full _search body in one call: hits + aggregations computed
    over the SAME query filter, split exactly where ES's response JSON
    splits them; knn bodies route through the hybrid door."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    eng = Engine(spark, sf_dir)
    body = {
        "query": {"match": {"text": "spark stream"}},
        "size": 5,
        "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5}}},
    }
    res = eng.es_search(body)
    assert set(res) == {"hits", "by_lang"}
    want_hits = rows(eng.es_query({"query": body["query"], "size": 5}))
    assert rows(res["hits"]) == want_hits and want_hits
    want_aggs = es_aggs(
        load(spark, sf_dir, "documents"),
        {"query": body["query"], "aggs": body["aggs"]},
        text_col="text", id_col="doc_id",
    )["by_lang"]
    assert rows(res["by_lang"]) == rows(want_aggs)
    # knn arm: pure vector body routes to the vector door
    emb = load(spark, sf_dir, "embeddings")
    vec = emb.limit(1).collect()[0]["embedding"]
    res_k = eng.es_search({"knn": {"field": "embedding",
                                   "query_vector": list(vec), "k": 5}})
    assert list(res_k) == ["hits"] and res_k["hits"].count() == 5


def test_weighted_avg_survives_long_overflow_scale(spark):
    """r11 sf1-probe regression #2: cents·large-weight products summed in
    long overflow (the multi_terms door row crashed at sf1 with shifted
    1e8-scale keys as weights) — the products and their sum must run in
    decimal."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    n = 20_000
    df = spark.range(n).selectExpr(
        "'g' AS k", "CAST(400000 AS DOUBLE) AS v",
        "CAST(100000000 + id AS BIGINT) AS w",
    )
    cents, ws = 400000_00, [100_000_000 + i for i in range(n)]
    assert sum(cents * w for w in ws) > 2**63 - 1  # vacuous-guard
    out = es_aggs(df, {"aggs": {"g": {"terms": {"field": "k"}, "aggs": {
        "wa": {"weighted_avg": {"value": {"field": "v"},
                                "weight": {"field": "w"}}}}}}})["g"]
    row = out.collect()[0]
    # constant value -> the weighted average IS the value
    assert row["wa"] == 400000.0


def test_weighted_avg_rejects_fractional_weight_column(spark):
    """r12 advisor fix: weighted_avg casts the weight to long — a DOUBLE
    weight column would silently truncate fractional weights (0.5 -> 0),
    so the fractional column TYPE is rejected with the JSON path instead
    (integer weights by contract; ES accepts fractional — documented
    divergence in the error)."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    df = spark.range(10).selectExpr(
        "'g' AS k", "CAST(id AS DOUBLE) AS v", "CAST(0.5 AS DOUBLE) AS w",
        "CAST(id AS BIGINT) AS wi",
    )
    body = {"aggs": {"g": {"terms": {"field": "k"}, "aggs": {
        "wa": {"weighted_avg": {"value": {"field": "v"},
                                "weight": {"field": "w"}}}}}}}
    with pytest.raises(UnsupportedEsQuery,
                       match=r"\$\.aggs\.g\.aggs\.wa\.weighted_avg\.weight"):
        es_aggs(df, body)
    # integer weight columns still pass — and through every bucket shape
    # that threads dtypes (plain terms, filters' one-scan path, composite)
    ok = es_aggs(df, {"aggs": {"g": {"terms": {"field": "k"}, "aggs": {
        "wa": {"weighted_avg": {"value": {"field": "v"},
                                "weight": {"field": "wi"}}}}}}})["g"]
    assert ok.collect()[0]["wa"] is not None
    with pytest.raises(UnsupportedEsQuery, match="fractional type"):
        es_aggs(df, {"aggs": {"f": {
            "filters": {"filters": {"all": {"match_all": {}}}},
            "aggs": {"wa": {"weighted_avg": {"value": {"field": "v"},
                                             "weight": {"field": "w"}}}}}}})
    with pytest.raises(UnsupportedEsQuery, match="fractional type"):
        es_aggs(df, {"aggs": {"c": {
            "composite": {"sources": [{"k": {"terms": {"field": "k"}}}]},
            "aggs": {"wa": {"weighted_avg": {"value": {"field": "v"},
                                             "weight": {"field": "w"}}}}}}})


def test_es_aggs_shift_pipelines_and_frame_pipelines(spark):
    """serial_diff / moving_fn (dense-spine equi-join shifts, no window),
    bucket_selector (restricted Painless threshold) and bucket_sort."""
    import datetime as dt

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    rows, i = [], 0
    for m in (1, 2, 3, 5, 6):  # month 4 missing -> a real gap bucket
        for d in range(1, 4 + m):
            rows.append((i, dt.datetime(2024, m, d), float(m * 10 + d)))
            i += 1
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    out = es_aggs(df, {"aggs": {"pm": {
        "date_histogram": {"field": "ts", "calendar_interval": "month",
                           "min_doc_count": 0},
        "aggs": {
            "sd": {"serial_diff": {"buckets_path": "_count", "lag": 2}},
            "mv": {"moving_fn": {"buckets_path": "_count", "window": 3,
                                 "script":
                                 "MovingFunctions.unweightedAvg(values)"}},
        }}}})["pm"].collect()
    cnt = [r["doc_count"] for r in out]
    assert cnt == [4, 5, 6, 0, 8, 9]
    assert [r["sd"] for r in out] == [None, None, 2, -5, 2, 9]
    # ES default shift=0: the window is the 3 buckets BEFORE the current
    # one (current EXCLUDED); the first bucket's window is empty -> null
    for k, r in enumerate(out):
        win = cnt[max(0, k - 3):k]
        want = round(sum(win) / len(win), 6) if win else None
        assert r["mv"] == want
    # selector gates buckets; sort takes heap top-k by a sibling metric
    got = es_aggs(df, {"aggs": {"pm": {
        "date_histogram": {"field": "ts", "calendar_interval": "month"},
        "aggs": {
            "vmax": {"max": {"field": "v"}},
            "sel": {"bucket_selector": {"buckets_path": {"m": "vmax"},
                                        "script": "params.m > 35"}},
            "srt": {"bucket_sort": {"sort": [{"vmax": "desc"}],
                                    "size": 2}},
        }}}})["pm"].collect()
    assert sorted(r["vmax"] for r in got) == [58.0, 69.0]
    # sparse parents reject the shift pipelines (position != calendar)
    with pytest.raises(UnsupportedEsQuery, match="min_doc_count"):
        es_aggs(df, {"aggs": {"pm": {
            "date_histogram": {"field": "ts", "calendar_interval": "month"},
            "aggs": {"sd": {"serial_diff": {"buckets_path": "_count"}}}}}})
    # full Painless is refused loudly
    with pytest.raises(UnsupportedEsQuery, match="Painless"):
        es_aggs(df, {"aggs": {"pm": {
            "date_histogram": {"field": "ts", "calendar_interval": "month"},
            "aggs": {"sel": {"bucket_selector": {
                "buckets_path": {"c": "_count"},
                "script": "params.c > 1 && params.c < 9"}}}}}})
    # pipelines NEXT TO a nested bucket are loud, not silently dropped
    df2 = df.selectExpr("*", "CAST(id % 2 AS STRING) AS kind")
    with pytest.raises(UnsupportedEsQuery, match="INSIDE"):
        es_aggs(df2, {"aggs": {"a": {"terms": {"field": "kind"}, "aggs": {
            "b": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "month"}},
            "c": {"cumulative_sum": {"buckets_path": "_count"}}}}}})


def test_es_aggs_moving_fn_skips_metric_gaps(spark):
    """moving_fn over a METRIC path: gap buckets carry NULL metric values
    and unweightedAvg must skip them (divide by non-null contributions),
    not deflate the average by window positions."""
    import datetime as dt

    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    rows = [(0, dt.datetime(2024, 1, 1), 10.0),
            (1, dt.datetime(2024, 3, 1), 30.0)]  # Feb is a gap
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    out = es_aggs(df, {"aggs": {"pm": {
        "date_histogram": {"field": "ts", "calendar_interval": "month",
                           "min_doc_count": 0},
        "aggs": {
            "vmax": {"max": {"field": "v"}},
            "mv": {"moving_fn": {"buckets_path": "vmax", "window": 2,
                                 "script":
                                 "MovingFunctions.unweightedAvg(values)"}},
        }}}})["pm"].collect()
    assert [r["vmax"] for r in out] == [10.0, None, 30.0]
    # ES shift=0: Jan window = {} -> null; Feb = {Jan 10.0} -> 10.0;
    # Mar = {Jan 10.0, Feb NULL} -> avg of the one non-null = 10.0
    assert [r["mv"] for r in out] == [None, 10.0, 10.0]
    # shift=1 includes the current bucket (the pre-r12 hardwired window)
    out1 = es_aggs(df, {"aggs": {"pm": {
        "date_histogram": {"field": "ts", "calendar_interval": "month",
                           "min_doc_count": 0},
        "aggs": {
            "vmax": {"max": {"field": "v"}},
            "mv": {"moving_fn": {"buckets_path": "vmax", "window": 2,
                                 "shift": 1,
                                 "script":
                                 "MovingFunctions.unweightedAvg(values)"}},
        }}}})["pm"].collect()
    # Jan = {Jan 10} -> 10.0; Feb = {Jan 10, Feb NULL} -> 10.0;
    # Mar = {Feb NULL, Mar 30} -> 30.0
    assert [r["mv"] for r in out1] == [10.0, 10.0, 30.0]


def test_es_query_metadata_field_dispatch(spark, sf_dir):
    """term/terms on a METADATA column are value equality (not text-token
    membership — the silent wrong-field hazard); analyzed queries naming
    a non-text field fail with the path; membership clauses (range/
    exists/metadata-term) in scored contexts score as flat constants
    instead of crashing."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    # metadata term in filter context == field equality
    got = rows(es_query(docs, "doc_id", "text", {"query": {"bool": {
        "must": [{"match": {"text": "spark"}}],
        "filter": [{"term": {"lang": "de"}}]}}, "size": 50}))
    want = rows(bool_search(
        docs, "doc_id", "text", must=[{"match": "spark"}],
        filter=[{"range": {"lang": {"gte": "de", "lte": "de"}}}], k=50))
    assert got == want and got
    langs = {r["lang"] for r in docs.join(
        spark.createDataFrame([(d,) for d, _ in got], "doc_id long"),
        "doc_id").select("lang").collect()}
    assert langs == {"de"}
    # metadata term in a SCORED context: constant_score, boost magnitude
    got_s = rows(es_query(docs, "doc_id", "text", {"query": {"bool": {
        "should": [{"term": {"lang": {"value": "de", "boost": 2.5}}}],
    }}, "size": 10}))
    assert got_s and {s for _, s in got_s} == {2.5}
    # range in must: constant score 1.0, never a crash
    got_r = rows(es_query(docs, "doc_id", "text", {"query": {"bool": {
        "must": [{"range": {"n_chars": {"gte": 100}}}]}}, "size": 10}))
    assert got_r and {s for _, s in got_r} == {1.0}
    # metadata terms-query: equality per alternative
    got_t = {d for d, _ in rows(es_query(docs, "doc_id", "text", {
        "query": {"bool": {"filter": [{"terms": {"lang": ["de", "fr"]}}],
                           "must": [{"match": {"text": "spark"}}]}},
        "size": 200}))}
    want_t = {r["doc_id"] for r in docs.where(
        F.col("lang").isin("de", "fr")
        & F.array_contains(
            __import__("pandemic_knowledge_spark.functions.text",
                       fromlist=["tokenize"]).tokenize("text"), "spark")
    ).select("doc_id").collect()}
    assert got_t <= want_t and got_t
    # analyzed query on a metadata field: pathed, never wrong-field search
    with pytest.raises(UnsupportedEsQuery, match="single-text-field"):
        es_query(docs, "doc_id", "text",
                 {"query": {"bool": {"must": [{"match": {"lang": "de"}}]}}})
    with pytest.raises(UnsupportedEsQuery, match="single-text-field"):
        es_query(docs, "doc_id", "text",
                 {"query": {"match_phrase": {"lang": "de fr"}}})


def test_es_aggs_normalize_and_percentiles_bucket(spark, sf_dir):
    """normalize (order-free, runs under terms over the RETURNED buckets)
    and the percentiles_bucket sibling pipeline."""
    from pandemic_knowledge_spark.operators.esdsl import es_aggs

    ev = load(spark, sf_dir, "events")
    out = es_aggs(ev, {"aggs": {
        "by_type": {"terms": {"field": "event_type", "size": 3},
                    "aggs": {"share": {"normalize": {
                        "buckets_path": "_count",
                        "method": "percent_of_sum"}},
                        "scaled": {"normalize": {
                            "buckets_path": "_count",
                            "method": "rescale_0_100"}}}},
        "spread": {"percentiles_bucket": {
            "buckets_path": "by_type>_count", "percents": [50.0]}},
    }})
    rows_ = out["by_type"].collect()
    cnt = [r["doc_count"] for r in rows_]
    tot = sum(cnt)  # the TOP-3 total, not the corpus total
    for r in rows_:
        assert r["share"] == round(r["doc_count"] / tot, 6)
        lo, hi = min(cnt), max(cnt)
        assert r["scaled"] == round(100.0 * (r["doc_count"] - lo) / (hi - lo), 6)
    import statistics

    med = out["spread"].collect()[0]["p50"]
    assert med == round(statistics.median(cnt), 6)
    # full Painless-adjacent methods are refused loudly
    with pytest.raises(UnsupportedEsQuery, match="hash-stable"):
        es_aggs(ev, {"aggs": {"a": {"terms": {"field": "event_type"},
            "aggs": {"z": {"normalize": {"buckets_path": "_count",
                                         "method": "z-score"}}}}}})
