"""ES ``search_after`` keyset pagination (r8 verdict task #4): page-N by
cursor equals page-N by offset on the total (score DESC, doc_id) order,
through every door (direct scan, the postings scorer over a loaded layout
and over an in-memory build, Engine facade), and the cursor plan carries
no growing offset."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandemic_knowledge_spark.engine import Engine
from pandemic_knowledge_spark.operators.search import (
    SearchIndex,
    bm25_search,
)
from pandemic_knowledge_spark.tables import load

QUERY = "spark join stream window"
K = 7


def _pages_by_offset(frame_fn, n_pages):
    """Reference pagination: one big top-(n·k), sliced driver-side."""
    rows = frame_fn(n_pages * K).collect()
    return [rows[i * K:(i + 1) * K] for i in range(n_pages)]


def _walk_by_cursor(page_fn, n_pages):
    pages, cursor = [], None
    for _ in range(n_pages):
        rows = page_fn(cursor)
        pages.append(rows)
        if not rows:
            break
        cursor = (rows[-1]["score"], rows[-1]["doc_id"])
    return pages


def test_cursor_walk_equals_offset_pages_direct_scan(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    offset_pages = _pages_by_offset(
        lambda n: bm25_search(d, "doc_id", "text", QUERY, k=n), 3
    )
    cursor_pages = _walk_by_cursor(
        lambda c: bm25_search(d, "doc_id", "text", QUERY, k=K, after=c).collect(),
        3,
    )
    assert [list(map(tuple, p)) for p in cursor_pages] == [
        list(map(tuple, p)) for p in offset_pages
    ]


def test_cursor_walk_equals_offset_pages_loaded_and_built(spark, sf_dir, tmp_path):
    """Both handle kinds — a loaded layout and an in-memory build — page by
    cursor exactly as by offset, and agree with each other."""
    docs = load(spark, sf_dir, "documents")
    path = str(tmp_path / "sa_idx")
    built = SearchIndex.build(docs, "doc_id", "text", cache=False)
    built.save(path)
    loaded = SearchIndex.load(spark, path)
    walks = []
    for idx in (loaded, built):
        offset_pages = _pages_by_offset(lambda n: idx.search(QUERY, k=n), 3)
        got = _walk_by_cursor(lambda c: idx.search(QUERY, k=K, after=c).collect(), 3)
        pages = [list(map(tuple, p)) for p in offset_pages]
        assert [list(map(tuple, p)) for p in got] == pages
        walks.append(pages)
    assert walks[0] == walks[1]


def test_engine_facade_pages_past_its_own_search(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    page1 = eng.search_after(QUERY, k=K).collect()
    page2 = eng.search_after(
        QUERY, cursor=(page1[-1]["score"], page1[-1]["doc_id"]), k=K
    ).collect()
    # no overlap, strictly descending across the boundary
    assert not ({r["doc_id"] for r in page1} & {r["doc_id"] for r in page2})
    assert (page1[-1]["score"], page1[-1]["doc_id"]) < (
        page2[0]["score"], page2[0]["doc_id"],
    ) or page2[0]["score"] <= page1[-1]["score"]
    # and it equals the offset form of Engine.search (page index 1)
    offset_page2 = eng.search(
        QUERY, k=K, page=1, with_highlight=False
    ).select("doc_id", "score").collect()
    assert [tuple(r) for r in page2] == [tuple(r) for r in offset_page2]


def test_cursor_plan_is_topk_without_offset(spark, sf_dir):
    """The scale property itself: a deep page plans as filter + top-k
    (TakeOrderedAndProject), never a growing GlobalLimit/offset over the
    ranked prefix."""
    d = load(spark, sf_dir, "documents")
    out = bm25_search(d, "doc_id", "text", QUERY, k=K, after=(1.2345, 42))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Offset" not in plan
    assert "CartesianProduct" not in plan


def test_cursor_past_last_row_returns_empty(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    out = bm25_search(
        d, "doc_id", "text", QUERY, k=K, after=(-1.0, 1 << 60)
    )
    assert out.count() == 0
