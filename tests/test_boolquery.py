"""The composed ES bool-query door (operators.boolquery): combination
semantics on synthetic corpora, oracle parity for the catalog shapes,
the Engine facade, and the 100 TB plan gates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandemic_knowledge_spark.engine import Engine
from pandemic_knowledge_spark.operators.boolquery import (
    bool_search,
    default_msm,
    sql_bool_search,
)
from tests.oracle_harness import compare_query


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


# ------------------------------------------------------------- semantics


def test_must_is_an_intersection(spark):
    d = _docs(spark, [(1, "apple banana"), (2, "apple"), (3, "banana")])
    out = bool_search(
        d, "doc_id", "text",
        must=[{"match": "apple"}, {"match": "banana"}],
    )
    assert _ids(out) == [1]


def test_minimum_should_match_counts_matched_clauses(spark):
    d = _docs(
        spark,
        [(1, "apple banana cherry"), (2, "apple banana"), (3, "apple"), (4, "kiwi")],
    )
    out = bool_search(
        d, "doc_id", "text",
        should=[{"match": "apple"}, {"match": "banana"}, {"match": "cherry"}],
        minimum_should_match=2,
    )
    assert _ids(out) == [1, 2]


def test_pure_should_defaults_to_msm_1_and_must_relaxes_it(spark):
    d = _docs(spark, [(1, "apple"), (2, "kiwi")])
    assert default_msm([], [{"match": "x"}], []) == 1
    assert default_msm([{"match": "y"}], [{"match": "x"}], []) == 0
    # pure should: non-matching doc 2 excluded
    out = bool_search(d, "doc_id", "text", should=[{"match": "apple"}])
    assert _ids(out) == [1]
    # with a must clause, should becomes purely additive: doc 2 qualifies
    # through the must even though it matches no should clause
    out = bool_search(
        d, "doc_id", "text",
        must=[{"match": "apple kiwi"}], should=[{"match": "apple"}],
    )
    assert _ids(out) == [1, 2]


def test_filter_and_must_not_gate_without_scoring(spark):
    d = _docs(
        spark,
        [(1, "apple pie"), (2, "apple tart"), (3, "apple pie poison")],
    )
    out = bool_search(
        d, "doc_id", "text",
        must=[{"match": "apple"}],
        filter=[{"term": "pie"}],
        must_not=[{"term": "poison"}],
    )
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    assert sorted(rows) == [1]
    # filter-only: qualifying docs come back with score exactly 0.0
    out0 = bool_search(d, "doc_id", "text", filter=[{"term": "pie"}])
    assert {(r["doc_id"], r["score"]) for r in out0.collect()} == {
        (1, 0.0), (3, 0.0)
    }


def test_boost_scales_a_clause_linearly(spark):
    d = _docs(spark, [(1, "apple banana"), (2, "banana banana")])
    base = bool_search(d, "doc_id", "text", should=[{"match": "apple"}])
    boosted = bool_search(
        d, "doc_id", "text", should=[{"match": "apple", "boost": 2.0}]
    )
    s0 = {r["doc_id"]: r["score"] for r in base.collect()}
    s2 = {r["doc_id"]: r["score"] for r in boosted.collect()}
    assert s2[1] == pytest.approx(2 * s0[1], abs=2e-4)


def test_prefix_clause_is_constant_score(spark):
    d = _docs(spark, [(1, "application apple"), (2, "banana")])
    out = bool_search(
        d, "doc_id", "text", should=[{"prefix": "app", "boost": 3.0}]
    )
    assert {(r["doc_id"], r["score"]) for r in out.collect()} == {(1, 3.0)}


def test_phrase_clause_requires_adjacency(spark):
    d = _docs(spark, [(1, "new york city"), (2, "york new haven")])
    out = bool_search(d, "doc_id", "text", should=[{"phrase": "new york"}])
    assert _ids(out) == [1]


def test_clause_validation():
    with pytest.raises(ValueError, match="at least one"):
        sql_bool_search("documents", "doc_id", "text", must_not=[{"term": "x"}])
    with pytest.raises(ValueError, match="exactly one"):
        sql_bool_search(
            "documents", "doc_id", "text",
            must=[{"match": "a", "phrase": "b"}],
        )


def test_empty_match_clause_raises(spark):
    d = _docs(spark, [(1, "apple")])
    with pytest.raises(ValueError, match="tokenizable"):
        bool_search(d, "doc_id", "text", must=[{"match": "!!!"}])


# ---------------------------------------------------------- oracle parity

_DOOR = dict(
    must=[{"match": "spark stream"}],
    should=[{"match": "window join", "boost": 2.0}],
    filter=[{"term": "table"}],
    must_not=[{"term": "vector"}],
    k=10,
)

_ALL_TYPES = dict(
    must=[{"fuzzy": "sparc strean"}],
    should=[{"phrase": "big table"}, {"prefix": "quer", "boost": 0.5}],
    filter=[{"prefix": "val"}],
    must_not=[{"phrase": "slow slow"}],
    k=10,
)


@pytest.mark.parametrize("spec", [_DOOR, _ALL_TYPES], ids=["door", "all_types"])
def test_bool_search_matches_duckdb(spark, sf_dir, spec):
    from pandemic_knowledge_spark.tables import load

    fn = lambda s, d: bool_search(load(s, d, "documents"), "doc_id", "text", **spec)
    problems, _n = compare_query(
        spark, sf_dir, fn, sql_bool_search("documents", "doc_id", "text", **spec)
    )
    assert problems == []


# ----------------------------------------------------------------- facade


def test_engine_facade_combines_fuzzy_phrase_filter_must_not(spark, sf_dir):
    """The r8-verdict composition: every clause type through Engine.bool_search
    equals the operator called directly on the same table."""
    eng = Engine(spark, sf_dir)
    via_engine = eng.bool_search(k=10, **{k: v for k, v in _ALL_TYPES.items() if k != "k"})
    direct = bool_search(eng.table("documents"), "doc_id", "text", **_ALL_TYPES)
    assert [tuple(r) for r in via_engine.collect()] == [
        tuple(r) for r in direct.collect()
    ]


# -------------------------------------------------------------- plan gates


def test_bool_plan_has_no_cartesian_and_bounded_topk(spark, sf_dir):
    """The combine is a union + one keyed groupBy + TakeOrderedAndProject;
    the one-row stats crossJoin lives INSIDE the checkpointed TF build, so
    the final plan carries no nested-loop join at all, and membership
    clauses compile to one predicate scan, not per-clause joins."""
    from pandemic_knowledge_spark.tables import load

    d = load(spark, sf_dir, "documents")
    out = bool_search(d, "doc_id", "text", **_DOOR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan
    # all filter/must_not membership tests ride ONE scan: exactly one
    # parquet scan of documents outside the checkpointed TF frame
    assert plan.count("Scan parquet") == 1


# ---------------------------------------------------------------- dis_max


def test_dis_max_takes_best_plus_tie_breaker(spark):
    from pandemic_knowledge_spark.operators.boolquery import dis_max_search

    d = _docs(spark, [(1, "apple banana"), (2, "apple"), (3, "banana")])
    clauses = [{"match": "apple"}, {"match": "banana"}]
    pure = {r["doc_id"]: r["score"] for r in
            dis_max_search(d, "doc_id", "text", clauses, tie_breaker=0.0).collect()}
    blended = {r["doc_id"]: r["score"] for r in
               dis_max_search(d, "doc_id", "text", clauses, tie_breaker=0.5).collect()}
    # single-clause docs: tie_breaker changes nothing
    assert pure[2] == blended[2] and pure[3] == blended[3]
    # the both-clause doc gains exactly half its weaker clause
    assert blended[1] > pure[1]
    # tie_breaker=1.0 == the bool should-sum
    full = {r["doc_id"]: r["score"] for r in
            dis_max_search(d, "doc_id", "text", clauses, tie_breaker=1.0).collect()}
    summed = {r["doc_id"]: r["score"] for r in
              bool_search(d, "doc_id", "text", should=clauses).collect()}
    assert full == summed


def test_dis_max_rejects_empty_clauses(spark):
    from pandemic_knowledge_spark.operators.boolquery import dis_max_search

    d = _docs(spark, [(1, "apple")])
    with pytest.raises(ValueError, match="at least one"):
        dis_max_search(d, "doc_id", "text", [])


# ------------------------------------------------------------ query_string


def test_parse_query_string_clause_mapping():
    from pandemic_knowledge_spark.operators.boolquery import parse_query_string

    p = parse_query_string('+spark "fast scan" quer* strean~ -vector -"slow slow"')
    assert p["must"] == [{"match": "spark"}]
    assert p["should"] == [
        {"phrase": "fast scan"}, {"prefix": "quer"}, {"fuzzy": "strean"},
    ]
    assert p["must_not"] == [{"term": "vector"}, {"phrase": "slow slow"}]
    # a negated fuzzy demotes to an exact-token exclusion (same `term`
    # shape as bare -tok; r9 advisor fix — was an analyzed match)
    assert parse_query_string("-typo~")["must_not"] == [{"term": "typo"}]
    # non-tokenizable fuzzy/prefix bases are dropped, not emitted broken
    assert parse_query_string("~~") == {"must": [], "should": [], "must_not": []}
    assert parse_query_string("-.~")["must_not"] == []
    assert parse_query_string("+.* ~* *")["must"] == []
    # empty / punctuation-only tokens are dropped, case folds
    p2 = parse_query_string('SPARK +"New York" !!!')
    assert p2["must"] == [{"phrase": "new york"}]
    assert p2["should"] == [{"match": "spark"}]


def test_query_string_search_equals_bool_of_parse(spark, sf_dir):
    from pandemic_knowledge_spark.operators.boolquery import (
        parse_query_string,
        query_string_search,
    )
    from pandemic_knowledge_spark.tables import load

    q = '+spark "fast scan" quer* -vector'
    d = load(spark, sf_dir, "documents")
    via_qs = query_string_search(d, "doc_id", "text", q, k=10).collect()
    via_bool = bool_search(
        d, "doc_id", "text", k=10, **parse_query_string(q)
    ).collect()
    assert [tuple(r) for r in via_qs] == [tuple(r) for r in via_bool]


def test_engine_query_string_facade(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    out = eng.query_string('+spark -vector', k=5).collect()
    assert len(out) == 5
    assert all(r["score"] > 0 for r in out)


# --------------------------------------------------------- indexed door


def test_indexed_bool_door_equals_corpus_scan(spark, sf_dir, tmp_path):
    """bool_search_from_index over a saved positional index returns
    exactly the corpus-scan bool_search rows for every clause family —
    the once-per-ingest / probe-per-query split of the reference, for
    composed queries."""
    from pandemic_knowledge_spark.operators.search import SearchIndex
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    path = str(tmp_path / "bool_idx")
    SearchIndex.build(
        docs, "doc_id", "text", cache=False, positional=True
    ).save(path)
    idx = SearchIndex.load(spark, path)

    for spec in (_DOOR, _ALL_TYPES, dict(
        should=[{"match": "merge batch"}, {"phrase": "fast scan", "boost": 1.5},
                {"prefix": "quer", "boost": 0.5}],
        minimum_should_match=2, k=10,
    )):
        scan = bool_search(docs, "doc_id", "text", **spec).collect()
        probed = idx.bool_search(**spec).collect()
        assert [tuple(r) for r in probed] == [tuple(r) for r in scan], spec


def test_indexed_door_counts_empty_docs_like_corpus_scan(spark, tmp_path):
    """A corpus containing zero-token docs (empty string, punctuation-only,
    NULL text): the loaded index's meta stats come from the FULL corpus
    (save() records the build's stats row), so indexed match/phrase BM25
    idf/avgdl equal the corpus scan bit-for-bit — the r9 advisor's
    divergence. Pins the convention: n_docs counts every row."""
    from pandemic_knowledge_spark.operators.search import SearchIndex, bm25_search
    from pandemic_knowledge_spark.operators.boolquery import bool_search

    docs = spark.createDataFrame(
        [
            (1, "spark stream fast scan"),
            (2, "spark table merge"),
            (3, "stream window join fast scan spark"),
            (4, ""),           # zero tokens
            (5, "..."),        # punctuation-only → zero tokens
            (6, None),         # NULL text
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "empty_doc_idx")
    SearchIndex.build(docs, "doc_id", "text", cache=False, positional=True).save(path)
    idx = SearchIndex.load(spark, path)
    spec = dict(
        must=[{"match": "spark stream"}],
        should=[{"phrase": "fast scan", "boost": 1.5}],
        k=10,
    )
    scan = bool_search(docs, "doc_id", "text", **spec).collect()
    probed = idx.bool_search(**spec).collect()
    assert [tuple(r) for r in probed] == [tuple(r) for r in scan]
    assert len(scan) > 0
    # the plain BM25 probe path agrees too (corpus_stats from meta)
    s = bm25_search(docs, "doc_id", "text", "spark stream", k=10).collect()
    p = idx.search("spark stream", k=10).collect()
    assert [tuple(r) for r in p] == [tuple(r) for r in s]


def test_indexed_bool_probe_never_tokenizes_the_corpus(spark, sf_dir, tmp_path):
    """The scale property: a composed-query probe touches index artifacts
    only — no corpus tokenize (regexp_extract_all) anywhere in the plan,
    and no documents.parquet scan."""
    from pandemic_knowledge_spark.operators.search import SearchIndex
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    path = str(tmp_path / "bool_idx2")
    SearchIndex.build(docs, "doc_id", "text", cache=False).save(path)
    idx = SearchIndex.load(spark, path)
    out = idx.bool_search(
        must=[{"match": "spark stream"}],
        filter=[{"term": "table"}],
        must_not=[{"term": "vector"}],
        k=10,
    )
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    try:
        spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "regexp_extract_all" not in plan
    assert "documents.parquet" not in plan
    assert "/postings" in plan
    assert "CartesianProduct" not in plan


def test_indexed_bool_phrase_without_positions_raises(spark, sf_dir, tmp_path):
    from pandemic_knowledge_spark.operators.search import SearchIndex
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    idx = SearchIndex.build(docs, "doc_id", "text", cache=False)
    with pytest.raises(ValueError, match="positional"):
        idx.bool_search(must=[{"phrase": "fast scan"}], k=5).collect()


def test_indexed_must_fuzzy_with_no_expansion_empties_result(spark, sf_dir, tmp_path):
    """A must fuzzy clause whose edit band reaches NO vocabulary term
    must empty the page (corpus-scan behavior), not silently drop the
    clause — regression for the indexed door's early-continue bug."""
    from pandemic_knowledge_spark.operators.search import SearchIndex
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    idx = SearchIndex.build(docs, "doc_id", "text", cache=False)
    out = idx.bool_search(
        must=[{"fuzzy": "zzzzqqqxxyy"}, {"match": "spark"}], k=5
    )
    assert out.count() == 0
    scan = bool_search(
        docs, "doc_id", "text",
        must=[{"fuzzy": "zzzzqqqxxyy"}, {"match": "spark"}], k=5,
    )
    assert scan.count() == 0


def test_parse_query_string_total_on_arbitrary_input():
    """The parser is total: any printable garbage yields clause lists the
    door can accept (or cleanly empty ones) — never an exception. A
    search box feeds this function raw keystrokes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pandemic_knowledge_spark.operators.boolquery import parse_query_string

    from pandemic_knowledge_spark.functions.text import query_terms

    @settings(max_examples=300, deadline=None)
    @given(st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=60,
    ))
    def check(q):
        p = parse_query_string(q)
        assert set(p) == {"must", "should", "must_not"}
        for ctx in p.values():
            for clause in ctx:
                assert len(clause) == 1
                (key, val), = clause.items()
                assert key in ("match", "phrase", "prefix", "fuzzy", "term")
                assert isinstance(val, str) and val == val.lower()
                # executability: every analyzed clause kind must carry at
                # least one tokenizable term, or bool_search raises on it
                # (r9 advisor: '~~' emitted {"fuzzy": "~"})
                if key in ("match", "phrase", "fuzzy", "prefix"):
                    assert query_terms(val), (q, clause)

    check()


def test_query_string_door_total_on_garbage(spark):
    """The raw-keystroke door never raises: all-garbage and pure-negative
    queries return the empty (doc_id, score) frame (Lucene classic-parser
    pure-negative semantics), everything else executes."""
    from pandemic_knowledge_spark.operators.boolquery import query_string_search

    d = spark.createDataFrame(
        [(1, "spark stream"), (2, "vector scan")], "doc_id long, text string"
    )
    for q in ("~~", "-.~", "!!!", "-vector", "", '""', "+.* ~* *"):
        out = query_string_search(d, "doc_id", "text", q, k=5)
        assert out.columns == ["doc_id", "score"]
        assert out.count() == 0, q
    # sanity: a real query through the same door still scores
    assert query_string_search(d, "doc_id", "text", "+spark", k=5).count() == 1
