"""Engine facade tests: search paging/highlighting (§3.3) and the four
dashboard panel families (§2.6) over conformed facts.
"""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from pandemic_knowledge_spark.engine import Engine, highlight
from pandemic_knowledge_spark.functions.iso import with_iso3
from pandemic_knowledge_spark.sources import build_location_dim, ingest_owid

from tests.test_sources import LOOKUP_CSV, OWID_CSV, OWID_SEMI_CSV, _write


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


@pytest.fixture()
def facts(spark, tmp_path):
    dim = build_location_dim(spark, _write(tmp_path, "lk.csv", LOOKUP_CSV))
    paths = [
        _write(tmp_path, "a.csv", OWID_CSV),
        _write(tmp_path, "b.csv", OWID_SEMI_CSV),
    ]
    return ingest_owid(spark, paths, dim).cache()


def test_search_pages_are_disjoint_and_ranked(engine):
    p0 = engine.search("the and of", k=5, page=0).collect()
    p1 = engine.search("the and of", k=5, page=1).collect()
    assert len(p0) == 5 and len(p1) == 5
    assert {r.doc_id for r in p0}.isdisjoint({r.doc_id for r in p1})
    scores = [r.score for r in p0] + [r.score for r in p1]
    assert scores == sorted(scores, reverse=True)


def test_search_highlight_marks_terms(engine):
    rows = engine.search("the", k=3).collect()
    for r in rows:
        assert "**the**" in r.highlighted.lower()


def test_highlight_whole_word_only(spark):
    df = spark.createDataFrame([("the theme of them",)], ["t"])
    got = df.select(highlight("t", "the").alias("h")).first().h
    assert got == "**the** theme of them"


def test_best_fields_is_greatest_of_per_field_bm25(spark, sf_dir):
    """best_fields semantics: with tie_breaker=0, a doc's score is exactly
    the max of scoring each field as its own BM25 corpus."""
    from pandemic_knowledge_spark.operators.search import (
        bm25_search,
        bm25_search_fields,
    )
    from pandemic_knowledge_spark.tables import load

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("substr(text, 1, 80)").alias("title"),
        F.expr("substr(text, 81)").alias("body"),
    ).cache()
    q = "spark join stream window"
    k = 10
    got = {
        r.doc_id: r.score
        for r in bm25_search_fields(d, "doc_id", ["title", "body"], q, k=k).collect()
    }
    per_field = {}
    n = d.count()
    for fcol in ("title", "body"):
        for r in bm25_search(d, "doc_id", fcol, q, k=n).collect():
            per_field[r.doc_id] = max(per_field.get(r.doc_id, 0.0), r.score)
    want = dict(sorted(per_field.items(), key=lambda kv: (-kv[1], kv[0]))[:k])
    assert got == want
    d.unpersist()


def test_sql_door(engine):
    n = engine.sql("SELECT count(*) AS n FROM nation").first().n
    assert n == 25


def test_more_like_this_ranks_shared_vocabulary(spark):
    """MLT of a fruit doc must surface the other fruit docs above the
    unrelated one, exclude the source itself, and return (doc_id, score)."""
    from pandemic_knowledge_spark.operators.search import more_like_this

    rows = [
        (1, "apples oranges pears ripe orchard fruit baskets"),
        (2, "oranges apples fruit market fresh orchard stand"),
        (3, "pears apples orchard harvest fruit crates"),
        (4, "structured streaming state store checkpoint watermark"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = more_like_this(d, "doc_id", "text", 1, k=10, min_doc_freq=2).collect()
    ids = [r.doc_id for r in out]
    assert 1 not in ids            # source excluded
    assert set(ids) >= {2, 3}      # fruit docs found
    scores = {r.doc_id: r.score for r in out}
    assert all(scores[i] > scores.get(4, 0.0) for i in (2, 3))


def test_more_like_this_index_probe_matches_corpus_scan(spark, sf_dir, tmp_path):
    """The persisted-index MLT probe must return exactly the corpus-scan
    form's rows — same selection, same BM25, same exclusion — including
    through a save/load round-trip (the interactive deployment shape)."""
    from pandemic_knowledge_spark import tables
    from pandemic_knowledge_spark.operators.search import (
        SearchIndex,
        more_like_this,
        more_like_this_from_postings,
    )

    d = tables.load(spark, sf_dir, "documents")
    idx = SearchIndex.build(d, "doc_id", "text")
    idx.save(str(tmp_path / "mlt_idx"))
    loaded = SearchIndex.load(spark, str(tmp_path / "mlt_idx"))
    for src in (0, 7, 11):
        direct = [
            (r.doc_id, r.score)
            for r in more_like_this(
                d, "doc_id", "text", src, k=10, min_doc_freq=2
            ).collect()
        ]
        via_build = [
            (r.doc_id, r.score)
            for r in more_like_this_from_postings(
                idx.postings, idx.corpus_stats, src, k=10, min_doc_freq=2
            ).collect()
        ]
        via_loaded = [
            (r.doc_id, r.score)
            for r in loaded.more_like_this(src, k=10, min_doc_freq=2).collect()
        ]
        assert direct == via_build == via_loaded and len(direct) > 0, src
    # unknown source: empty from the index path too
    assert more_like_this_from_postings(idx.postings, idx.corpus_stats, 10**9).count() == 0


def test_more_like_this_unknown_source_is_empty(spark):
    from pandemic_knowledge_spark.operators.search import more_like_this

    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    assert more_like_this(d, "doc_id", "text", 999, k=5).count() == 0


def test_more_like_this_min_doc_freq_prunes_singleton_terms(spark):
    """A term appearing ONLY in the source (df=1) cannot link docs under
    min_doc_freq=2 — a source doc with unique vocabulary matches nothing."""
    from pandemic_knowledge_spark.operators.search import more_like_this

    d = spark.createDataFrame(
        [(1, "zyzzyva quokka axolotl"), (2, "alpha beta gamma"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    assert (
        more_like_this(d, "doc_id", "text", 1, k=5, min_doc_freq=2).count() == 0
    )


def test_rrf_fuse_known_rankings(spark):
    """Hand-checkable fusion: doc 1 is rank 1 in both lists →
    2/(60+1); doc 2 is rank 2 + rank 3 → 1/62 + 1/63; doc 3 only in one
    list → 1/62. Fused order must be 1, 2, 3."""
    from pandemic_knowledge_spark.operators.search import rrf_fuse

    text = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 4.0)], "doc_id long, score double"
    )
    vec = spark.createDataFrame(
        [(1, 0.99), (4, 0.70), (2, 0.60)], "vec_id long, cos_sim double"
    )
    out = rrf_fuse(
        [(text, "doc_id", "score"), (vec, "vec_id", "cos_sim")], k=10
    ).collect()
    scores = {r.doc_id: r.rrf_score for r in out}
    assert scores[1] == round(1 / 61 + 1 / 61, 6)
    assert scores[2] == round(1 / 62 + 1 / 63, 6)
    assert scores[3] == round(1 / 63, 6) and scores[4] == round(1 / 62, 6)
    assert [r.doc_id for r in out][:2] == [1, 2]  # both-lists docs lead


def test_percentile_ranks_exact_fractions(spark):
    from pandemic_knowledge_spark.operators.ranks import percentile_ranks

    d = spark.createDataFrame([(float(v),) for v in range(1, 11)], "x double")
    out = {r.value: r.pct_rank for r in percentile_ranks(d, "x", (0.0, 5.0, 10.0)).collect()}
    assert out == {0.0: 0.0, 5.0: 50.0, 10.0: 100.0}


def test_matrix_stats_known_moments(spark):
    """Hand-checkable matrix: y = 2x → corr exactly 1; z = −x → corr −1;
    diagonal corr 1; covariance matches the population formula."""
    from pandemic_knowledge_spark.operators.aggregates import matrix_stats
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(1, 2, -1), (2, 4, -2), (3, 6, -3), (4, 8, -4)],
        "x long, y long, z long",
    )
    out = {
        (r.col_a, r.col_b): r
        for r in matrix_stats(
            d, (("x", F.col("x")), ("y", F.col("y")), ("z", F.col("z")))
        ).collect()
    }
    assert out[("x", "y")].correlation == 1.0
    assert out[("x", "z")].correlation == -1.0
    assert out[("x", "x")].correlation == 1.0
    # population var(x) for 1..4 = 1.25; cov(x,y)=2*var=2.5; cov(x,z)=-1.25
    assert out[("x", "x")].covariance == 1.25
    assert out[("x", "y")].covariance == 2.5
    assert out[("x", "z")].covariance == -1.25
    assert all(r.n == 4 for r in out.values()) and len(out) == 6


def test_significant_terms_surfaces_foreground_vocabulary(spark):
    """Terms exclusive to the foreground docs must outrank corpus-wide
    terms (which score ~0: fg_pct == bg_pct ⇒ JLH ≈ small), and terms
    below min_doc_count must not appear."""
    from pandemic_knowledge_spark.operators.aggregates import significant_terms
    from pyspark.sql import functions as F

    rows = [
        (1, "de", "katze hund maus haus common"),
        (2, "de", "katze hund vogel baum common"),
        (3, "en", "cat dog mouse house common"),
        (4, "en", "cat dog bird tree common"),
        (5, "en", "fish cow horse sheep common"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = significant_terms(
        d, "doc_id", "text", F.col("lang") == "de", top_k=5, min_doc_count=2
    ).collect()
    by_term = {r.term: r for r in out}
    # fg-exclusive terms present in both German docs lead
    assert {"katze", "hund"} <= set(by_term)
    assert by_term["katze"].fg_count == 2 and by_term["katze"].bg_count == 2
    # 'common' is in every doc: fg_pct == bg_pct == 1 ⇒ score 0; if it
    # appears at all it must rank below the exclusive terms
    if "common" in by_term:
        assert by_term["common"].score < by_term["katze"].score
    # terms appearing in only one fg doc (maus, vogel, ...) are pruned
    assert "maus" not in by_term and "vogel" not in by_term


def test_term_suggest_ranks_by_distance_then_frequency(spark):
    from pandemic_knowledge_spark.operators.search import term_suggest

    rows = [
        (1, "stream stream strem"),   # strem df 1
        (2, "stream steam"),          # steam df 1
        (3, "stream"),                # stream df 3
        (4, "xylophone"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = term_suggest(d, "doc_id", "text", "strean", max_edits=2, k=5).collect()
    got = [(r.term, r.df, r.distance) for r in out]
    # stream: dist 1; steam/strem: dist 2, tie broken by df then term;
    # the exact term 'strean' is absent from the corpus anyway; xylophone
    # fails the prefix gate before levenshtein ever runs
    assert got == [("stream", 3, 1), ("steam", 1, 2), ("strem", 1, 2)]


def test_term_suggest_excludes_exact_match(spark):
    from pandemic_knowledge_spark.operators.search import term_suggest

    d = spark.createDataFrame(
        [(1, "stream stream"), (2, "steam")], "doc_id long, text string"
    )
    got = {r.term for r in term_suggest(d, "doc_id", "text", "stream", k=5).collect()}
    assert "stream" not in got and "steam" in got


def test_sql_door_runs_catalog_door_queries(engine):
    """Engine.sql over the construction-time views IS the catalog's
    sql_door path: the same SQL text returns the same rows (the catalog
    twin registers views per call; the Engine registered them once)."""
    from pandemic_knowledge_spark.plans.catalog import (
        _SQL_DOOR_MONTHLY_ORDERS,
        _SQL_DOOR_NATION_REVENUE,
        REGISTRY,
    )

    for name, sql_text in (
        ("sql_door_nation_revenue", _SQL_DOOR_NATION_REVENUE),
        ("sql_door_monthly_orders", _SQL_DOOR_MONTHLY_ORDERS),
    ):
        via_engine = sorted(map(tuple, engine.sql(sql_text).collect()))
        via_catalog = sorted(
            map(tuple, REGISTRY[name].fn(engine.spark, engine.sf_dir).collect())
        )
        assert via_engine == via_catalog and len(via_engine) > 0, name


def test_dashboard_panels(engine, facts):
    totals = engine.dashboard_totals(facts).first()
    assert totals.confirmed == 28 and totals.deaths == 3

    ts = engine.dashboard_timeseries(facts, grain="day").collect()
    assert [r.confirmed for r in ts] == [12, 7, 5, 4]

    top = engine.dashboard_top_locations(facts, n=1).collect()
    assert top[0].location_name == "France" and top[0].confirmed == 23

    cells = engine.dashboard_map(facts).collect()
    # France (46.2,2.2) → cell (4,0); Germany (51.2,10.5) → (5,1)
    got = {(r.gy, r.gx): r.confirmed for r in cells}
    assert got == {(4, 0): 23, (5, 1): 5}


def test_iso3_join(facts):
    got = {
        r.iso_code2: r.iso_code3
        for r in with_iso3(facts).select("iso_code2", "iso_code3").distinct().collect()
    }
    assert got == {"FR": "FRA", "DE": "DEU"}


def test_search_index_probe_matches_corpus_scan(engine):
    """Indexed BM25 must be bit-identical to the direct scorer, and the
    warm engine search plan must contain NO corpus tokenize (the ES-probe
    property: index at ingest, probe per query)."""
    direct = engine.search("virus outbreak", k=5, use_index=False).collect()
    probed = engine.search("virus outbreak", k=5).collect()
    assert [r.asDict() for r in probed] == [r.asDict() for r in direct]
    plan = (
        engine.search("virus outbreak", k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in plan  # probes the cached postings
    # The cached InMemoryRelation subtree prints the ORIGINAL build plan
    # (which tokenized, at ingest). Query-time operators — everything before
    # that subtree — must not tokenize.
    live_ops = plan.split("InMemoryRelation")[0]
    assert "regexp_extract_all" not in live_ops  # no query-time tokenize


def test_search_index_parquet_roundtrip_prunes_partitions(spark, tmp_path):
    """save/load: a probe over the parquet index reads only the query
    terms' bucket partitions (partition pruning), and results survive the
    roundtrip unchanged."""
    from pandemic_knowledge_spark.operators.search import (
        N_TERM_BUCKETS,
        SearchIndex,
        term_bucket_py,
    )
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    built = SearchIndex.build(docs, "doc_id", "text", cache=False)
    built.save(str(tmp_path / "idx"))
    loaded = SearchIndex.load(spark, str(tmp_path / "idx"))
    q = "virus outbreak"
    assert (
        loaded.search(q, k=5).collect() == built.search(q, k=5).collect()
    )
    plan = loaded.search(q, k=5)._jdf.queryExecution().executedPlan().toString()
    want_buckets = sorted({term_bucket_py(t) for t in q.split()})
    assert len(want_buckets) < N_TERM_BUCKETS
    # partition filter on bucket reaches the scan
    assert "PartitionFilters: [bucket" in plan.replace("PartitionFilters: [isnotnull(bucket", "PartitionFilters: [bucket") or "bucket#" in plan.split("PartitionFilters")[1].split("]")[0]


def test_search_index_probe_tiers_and_eager_stats(spark, tmp_path):
    """One postings scorer for every handle kind (the r4 probe-latency
    regression pin, kept):

    1. An in-memory build, cached and uncached, and its saved-and-loaded
       layout all plan ``search`` as the one window statement: a
       ``Window`` over exactly one postings scan (the corpus stats are
       literals, never re-derived per query; on the loaded layout the scan
       carries the bucket partition filter) and no df broadcast.
    2. All of them return the same rows.
    3. The build's (n_docs, sum_dl) integers equal the record's — which
       save() summed from the written doc_ids — and a from-scratch
       derivation.
    """
    from pandemic_knowledge_spark.functions.text import tokenize
    from pandemic_knowledge_spark.operators.search import SearchIndex
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    base = docs.select(F.size(tokenize("text")).alias("dl"))
    exp = tuple(base.agg(F.count(F.lit(1)), F.sum("dl")).collect()[0])
    q = "spark join stream window"
    got = []
    for cache in (True, False):
        built = SearchIndex.build(docs, "doc_id", "text", cache=cache)
        path = str(tmp_path / f"idx_{cache}")
        built.save(path)
        loaded = SearchIndex.load(spark, path)
        assert built.corpus_stats == loaded.corpus_stats == exp
        for idx in (built, loaded):
            out = idx.search(q, k=8)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Window" in plan
            assert "Broadcast" not in plan
            # a cached build's relation prints the plan it cached as well
            cached = idx is built and cache
            assert plan.count("InMemoryTableScan" if cached else "Scan parquet") == 1
            if idx is loaded:
                assert "PartitionFilters: [bucket" in plan
            got.append(out.collect())
        if cache:
            # a probe leaves the build's cache in place for the next one
            again = built.search(q, k=8)._jdf.queryExecution().executedPlan()
            assert "InMemoryTableScan" in again.toString()
            for frame in (built.postings, built.vocab, built.doc_ids):
                frame.unpersist()
    assert got[0] and all(rows == got[0] for rows in got)


def test_empty_build_probes_return_no_rows(spark):
    """An in-memory build over an empty corpus has corpus stats (0, 0);
    every probe through the one scorer plans and returns no rows."""
    from pandemic_knowledge_spark.operators.search import SearchIndex

    docs = spark.createDataFrame([], "doc_id long, text string")
    idx = SearchIndex.build(docs, "doc_id", "text", cache=False)
    assert idx.corpus_stats == (0, 0)
    for out in (
        idx.search("virus", k=3),
        idx.fuzzy_search("virus"),
        idx.prefix_search("vir"),
        idx.more_like_this(1),
    ):
        assert out.collect() == [] and out.columns == ["doc_id", "score"]


def test_spark_crc32_matches_python_bucket(spark):
    """The Spark bucket expression and term_bucket_py MUST agree — partition
    pruning silently returns wrong (empty) results if they drift."""
    from pandemic_knowledge_spark.operators.search import (
        N_TERM_BUCKETS,
        _bucket_col,
        term_bucket_py,
    )

    terms = ["virus", "outbreak", "zebra", "a", "covid19", "ünïcode"]
    rows = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", _bucket_col().alias("b"))
        .collect()
    )
    for r in rows:
        assert r.b == term_bucket_py(r.term), r.term
        assert r.b == zlib.crc32(r.term.encode("utf-8")) % N_TERM_BUCKETS, r.term


def test_multifield_index_probe_matches_direct(spark):
    """Indexed best_fields must equal the direct multi-field scorer."""
    from pandemic_knowledge_spark.operators.search import (
        bm25_fields_from_postings,
        bm25_search_fields,
        build_postings_fields,
    )
    from pandemic_knowledge_spark.tables import load

    d = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        F.expr("substr(text, 1, 80)").alias("title"),
        F.expr("substr(text, 81)").alias("body"),
    )
    direct = bm25_search_fields(d, "doc_id", ["title", "body"], "virus outbreak", k=5)
    postings, stats = build_postings_fields(d, "doc_id", ["title", "body"])
    probed = bm25_fields_from_postings(postings, stats, "virus outbreak", k=5)
    assert probed.collect() == direct.collect()


def _docs_with_punctuation_doc(spark, sf_dir):
    """The test corpus's documents plus one all-punctuation doc (zero
    tokens), which lands in the odd-id half."""
    from pandemic_knowledge_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        spark.createDataFrame([(10**6 + 1, "!!! ...")], docs.schema)
    )


def test_search_index_append_save_equals_rebuild(spark, sf_dir, tmp_path):
    """The persisted incremental loop: save(old) → append_save(new) →
    probes and corpus stats equal a from-scratch rebuild of the full
    corpus — zero-token docs in the batch counted, as the build counts
    them."""
    from pandemic_knowledge_spark.operators.search import SearchIndex

    docs = _docs_with_punctuation_doc(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "inc_idx")
    SearchIndex.build(old, "doc_id", "text", cache=False).save(path)
    updated = SearchIndex.append_save(spark, path, new)
    full = SearchIndex.build(docs, "doc_id", "text", cache=False)
    assert updated.corpus_stats == full.corpus_stats
    q = "virus outbreak"
    assert updated.search(q, k=8).collect() == full.search(q, k=8).collect()


def test_search_index_append_save_is_idempotent_and_first_wins(
    spark, sf_dir, tmp_path
):
    """Retrying the same batch (at-least-once foreachBatch) and re-crawling
    an already-indexed doc must both be no-ops — probes and stats keep
    equaling the clean rebuild, a replayed zero-token doc included."""
    from pandemic_knowledge_spark.operators.search import SearchIndex

    docs = _docs_with_punctuation_doc(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "idem_idx")
    SearchIndex.build(old, "doc_id", "text", cache=False).save(path)
    SearchIndex.append_save(spark, path, new)
    SearchIndex.append_save(spark, path, new)  # retried batch
    # re-crawled doc with CHANGED text: first-accepted wins, no double rows
    mutated = new.limit(3).withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    updated = SearchIndex.append_save(spark, path, mutated)
    full = SearchIndex.build(docs, "doc_id", "text", cache=False)
    assert updated.corpus_stats == full.corpus_stats
    q = "virus outbreak"
    assert updated.search(q, k=8).collect() == full.search(q, k=8).collect()
    # postings hold exactly one (doc, term) row set per doc
    dup = (
        updated.postings.groupBy("doc_id", "term")
        .count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_term_suggest_oracle_handles_apostrophe_terms(spark):
    """The SQL emitter must measure prefix/length on the RAW term and
    escape only the literals (review finding: escaped-length band skew +
    malformed SQL)."""
    import duckdb
    import pandas as pd

    from pandemic_knowledge_spark.operators.search import (
        sql_term_suggest,
        term_suggest,
    )

    rows = [(1, "dont dint"), (2, "dont")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.term, r.df, r.distance)
        for r in term_suggest(d, "doc_id", "text", "don't", max_edits=2).collect()
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(
        sql_term_suggest("documents", "doc_id", "text", "don't", max_edits=2)
    ).fetchall()
    assert got == [tuple(w) for w in want] and len(got) > 0


def test_more_like_this_oracle_quotes_string_ids(spark):
    import duckdb
    import pandas as pd

    from pandemic_knowledge_spark.operators.search import (
        more_like_this,
        sql_more_like_this,
    )

    rows = [
        ("a-1", "alpha beta gamma delta"),
        ("b'2", "alpha beta gamma zeta"),
        ("c-3", "omega psi chi phi"),
    ]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    got = [
        (r.doc_id, r.score)
        for r in more_like_this(d, "doc_id", "text", "b'2", k=5).collect()
    ]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(
        sql_more_like_this("documents", "doc_id", "text", "b'2", k=5)
    ).fetchall()
    assert got == [tuple(w) for w in want] and got[0][0] == "a-1"


def test_ring_index_rejects_empty_edges(spark):
    import pytest

    from pandemic_knowledge_spark.functions.geo import ring_index, sql_ring_index
    from pyspark.sql import functions as F

    with pytest.raises(ValueError):
        ring_index(F.lit(0.0), ())
    with pytest.raises(ValueError):
        sql_ring_index("d", ())


def test_prefix_search_matches_unfinished_term(spark):
    """'qui' must reach docs containing quick/quiet via expansion; the
    exact term 'fox' contributes too; docs with neither never rank; an
    unmatchable prefix with no exact terms returns empty."""
    from pandemic_knowledge_spark.operators.search import prefix_search

    rows = [
        (1, "the quick brown fox"),
        (2, "a quiet evening walk"),
        (3, "structured streaming state"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id for r in prefix_search(d, "doc_id", "text", "fox qui", k=10).collect()}
    assert got == {1, 2}
    assert prefix_search(d, "doc_id", "text", "zzz", k=10).collect() == []
    # max_expansions caps the expanded set deterministically by df
    one = prefix_search(d, "doc_id", "text", "qui", k=10, max_expansions=1).collect()
    assert len(one) == 1  # only the higher-df 'qui…' term survives


def test_fuzzy_index_probe_matches_corpus_scan(spark, sf_dir, tmp_path):
    """The persisted-index fuzzy probe must return exactly the
    corpus-scan fuzzy_match_search rows — same AUTO bands, same
    expansion cap, same BM25 — including through a save/load round-trip
    (ES's actual fuzzy execution: term-dictionary expansion, then a
    pruned terms query)."""
    from pandemic_knowledge_spark import tables
    from pandemic_knowledge_spark.operators.search import (
        SearchIndex,
        fuzzy_match_from_postings,
        fuzzy_match_search,
    )

    d = tables.load(spark, sf_dir, "documents")
    idx = SearchIndex.build(d, "doc_id", "text")
    idx.save(str(tmp_path / "fz_idx"))
    loaded = SearchIndex.load(spark, str(tmp_path / "fz_idx"))
    for q in ("a sparc strean", "strean", "sparc batc"):
        direct = [
            (r.doc_id, r.score)
            for r in fuzzy_match_search(d, "doc_id", "text", q, k=10).collect()
        ]
        via_build = [
            (r.doc_id, r.score)
            for r in fuzzy_match_from_postings(
                idx.postings, idx.corpus_stats, q, k=10, vocab=idx.vocab
            ).collect()
        ]
        via_loaded = [
            (r.doc_id, r.score) for r in loaded.fuzzy_search(q, k=10).collect()
        ]
        assert direct == via_build == via_loaded and len(direct) > 0, q
    # a query with no in-band expansion anywhere: empty, right schema
    none = fuzzy_match_from_postings(
        idx.postings, idx.corpus_stats, "zzzzzzzzzz", vocab=idx.vocab
    )
    assert none.count() == 0 and none.columns == ["doc_id", "score"]


def test_engine_fuzzy_and_phrase_prefix_doors(spark, sf_dir):
    """The Engine façade exposes the two r7 retrieval doors: fuzzy_search
    (index probe ≡ corpus scan) and phrase_prefix_search."""
    from pandemic_knowledge_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    via_idx = [(r.doc_id, r.score) for r in eng.fuzzy_search("sparc strean", k=5).collect()]
    via_scan = [
        (r.doc_id, r.score)
        for r in eng.fuzzy_search("sparc strean", k=5, use_index=False).collect()
    ]
    assert via_idx == via_scan and len(via_idx) > 0
    pp = eng.phrase_prefix_search("hash jo", k=5).collect()
    assert all(r.phrase_count >= 1 for r in pp)


def test_multi_match_most_fields_sums_per_field_scores(spark, sf_dir):
    """most_fields = the SUM of the per-field BM25 scores (ES multi_match
    type for the same text analyzed multiple ways); with a single field
    every multi_match type degenerates to plain bm25_search."""
    from pandemic_knowledge_spark.operators.search import (
        bm25_search,
        bm25_search_cross_fields,
        bm25_search_fields,
    )
    from pandemic_knowledge_spark.tables import load

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("substr(text, 1, 80)").alias("title"),
        F.expr("substr(text, 81)").alias("body"),
    )
    q = "spark join stream window"
    best = bm25_search_fields(d, "doc_id", ["title", "body"], q, k=10)
    most = bm25_search_fields(
        d, "doc_id", ["title", "body"], q, k=10, mode="most_fields"
    )
    # tie_breaker=1.0 turns best_fields into the same sum
    sum_via_tb = bm25_search_fields(
        d, "doc_id", ["title", "body"], q, k=10, tie_breaker=1.0
    )
    assert most.collect() == sum_via_tb.collect()
    assert best.collect() != most.collect()  # the split corpus really forks them
    # single-field degeneracy: all types equal the plain scorer
    single = d.select("doc_id", "title")
    plain = [
        (r.doc_id, r.score)
        for r in bm25_search(single, "doc_id", "title", q, k=10).collect()
    ]
    for frame in (
        bm25_search_fields(single, "doc_id", ["title"], q, k=10),
        bm25_search_fields(single, "doc_id", ["title"], q, k=10, mode="most_fields"),
        bm25_search_cross_fields(single, "doc_id", ["title"], q, k=10),
    ):
        assert [(r.doc_id, round(r.score, 4)) for r in frame.collect()] == plain


def test_multi_match_cross_fields_is_term_centric(spark):
    """cross_fields must rank the doc whose DIFFERENT fields cover ALL
    query terms above the doc matching one term in every field — the
    split-entity case ES documents as the reason the type exists."""
    from pandemic_knowledge_spark.operators.search import (
        bm25_search_cross_fields,
        bm25_search_fields,
    )

    docs = spark.createDataFrame(
        [
            (1, "jane doe", "smith avenue"),     # covers both terms, split
            (2, "jane is here", "jane again"),   # one term, every field
            (3, "nothing", "relevant"),
        ],
        "doc_id long, first string, last string",
    )
    q = "jane smith"
    cross = bm25_search_cross_fields(docs, "doc_id", ["first", "last"], q, k=3).collect()
    assert cross[0].doc_id == 1
    # and per-term blending: doc 2's duplicated 'jane' can't stack fields
    by_id = {r.doc_id: r.score for r in cross}
    assert by_id[1] > by_id[2]
    # field-centric most_fields CAN prefer doc 2 or at least scores it by
    # stacking both fields; the diverging semantics is the point
    most = bm25_search_fields(
        docs, "doc_id", ["first", "last"], q, k=3, mode="most_fields"
    ).collect()
    assert {r.doc_id for r in most} >= {1, 2}
