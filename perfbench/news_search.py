"""news_search: the news app's readers, two clients sharing one Engine.

Set-up builds a SearchIndex over the seeded ``documents`` corpus, saves it,
loads it back and hands the loaded index to the Engine, so every BM25, fuzzy
and suggest probe reads the persisted layout; phrase requests use the
Engine's own positional index, which the first phrase request builds (in the
warm-up). The op mix is reader sessions shaped
like the reference SearchUI (search as the reader types, 8 hits a page,
highlighted, a second page), each adding one request to another door:
``Engine.es_query`` bool/multi_match bodies with filters,
``fuzzy_search``/``suggest`` dictionary probes, ``phrase_search`` or a
hybrid ``Engine.knn`` request. Query terms are drawn Zipf-wise from the corpus vocabulary, so head
terms with long postings and tail terms both appear.

Every distinct request's output is checked against the corpus-scan door:
``use_index=False`` for search/fuzzy/suggest, ``phrase_search`` over the
documents for phrases, ``bm25_search`` over the whole corpus (filtered in
Python) for the ES bodies, and numpy cosine ranks fused with scan-door BM25
ranks for the hybrid requests.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from latency import tail_percentile
from workload import Op, op, span_median_ms, timed

CLIENTS = 2
# The tail rule applied to the ops a 30-s window usually completes here
# (news_search is run by hand, not at the benchmark's 5-s window).
TAIL_P = tail_percentile(30)
TOL = 1e-6


# ----------------------------------------------------------------- inputs


def _mutate(r: np.random.Generator, word: str) -> str:
    i = int(r.integers(1, len(word)))
    c = "xq"[int(r.integers(0, 2))]
    if word[i] == c:
        c = "z"
    return word[:i] + c + word[i + 1:]


OTHER_DOORS = ("es_query", "fuzzy", "suggest", "phrase", "knn")


def requests(seed: int, vocab: list[str], texts: list[str]) -> list[Op]:
    """One round of requests: one reader session per door the SearchUI does
    not use. The session follows the reference SearchUI: it searches as the
    reader types (``searchOnChange``; counted here as one request per word
    typed, not per keystroke) and shows 8 hits per page, so a reader typing
    a 1-3-word query sends one paged, highlighted search per word, then
    opens the second page. The weight of the other doors has no source (the
    SearchUI never calls them and no query log exists), so each session adds
    one request to one of them. The seed draws terms, filters and vectors."""
    r = gen.rng(seed, "news-requests")
    mid = [w for w in vocab[10:400] if len(w) >= 6]
    out = []
    for door in OTHER_DOORS:
        words = [vocab[i] for i in gen.zipf_ranks(r, int(r.integers(1, 4)), len(vocab))]
        out += [op("search", " ".join(words[:n]), 0) for n in range(1, len(words) + 1)]
        q = " ".join(words)
        out.append(op("search", q, 1))
        if door == "es_query":
            out.append(op(door, q, int(r.integers(200, 600)), f"src{int(r.integers(0, 7))}"))
        elif door in ("fuzzy", "suggest"):
            out.append(op(door, _mutate(r, mid[int(r.integers(0, len(mid)))])))
        elif door == "phrase":
            toks = texts[int(r.integers(0, len(texts)))].split()
            at = int(r.integers(0, len(toks) - 1))
            out.append(op(door, f"{toks[at]} {toks[at + 1]}"))
        else:
            out.append(op(door, q, int(r.integers(0, 1000))))
    return out


def make_inputs(seed: int, data_dir: str) -> dict:
    vocab = gen.vocabulary(seed)
    docs = gen.documents(seed, vocab)
    emb = gen.embeddings(seed)
    nbytes = gen.write_parquet(docs, os.path.join(data_dir, "documents.parquet"))
    nbytes += gen.write_parquet(emb, os.path.join(data_dir, "embeddings.parquet"))
    texts = docs.column("text").to_pylist()
    return {"sf_dir": data_dir, "seed": seed, "bytes": nbytes, "docs": docs,
            "emb": emb, "requests": requests(seed, vocab, texts)}


# ------------------------------------------------------------------ setup


def setup(ctx) -> None:
    from pandemic_knowledge_spark.engine import Engine
    from pandemic_knowledge_spark.operators.search import SearchIndex

    tr = ctx.tracer
    with tr.span("tables.register"):
        eng = Engine(ctx.spark, ctx.inputs["sf_dir"])
        docs = eng.table("documents")
        eng.table("embeddings")
    path = os.path.join(ctx.work, "index")
    with tr.span("search.index_build"):
        SearchIndex.build(docs, "doc_id", "text", cache=False).save(path)
    with tr.span("search.index_load"):
        idx = SearchIndex.load(ctx.spark, path)
    # The Engine probes this loaded index instead of building its own.
    eng._search_indexes[("documents", "doc_id", "text")] = idx
    ctx.engine, ctx.index = eng, idx


# -------------------------------------------------------------------- ops


def _es_body(q: str, min_chars: int, src: str) -> dict:
    return {"query": {"bool": {
        "must": [{"multi_match": {"query": q, "fields": ["text"]}}],
        "filter": [{"range": {"n_chars": {"gte": min_chars}}},
                   {"term": {"source": src}}],
    }}, "size": 10}


def _knn_args(ctx, q: str, vi: int) -> tuple[dict, dict]:
    spec = {"field": "embedding", "k": 10,
            "query_vector": gen.query_vector(ctx.inputs["seed"], vi)}
    return spec, {"rrf": {"rank_constant": 60, "rank_window_size": 20}}


def plan(ctx, op: Op):
    eng = ctx.engine
    p = op.params
    if op.kind == "search":
        return eng.search(p[0], k=8, page=p[1])
    if op.kind == "es_query":
        return eng.es_query(_es_body(*p))
    if op.kind == "fuzzy":
        return eng.fuzzy_search(p[0], k=8)
    if op.kind == "suggest":
        return eng.suggest(p[0])
    if op.kind == "phrase":
        return eng.phrase_search(p[0], k=8)
    spec, rank = _knn_args(ctx, *p)
    return eng.knn(spec, query=p[0], rank=rank, k=10)


COLUMNS = {"search": ("doc_id", "score", "highlighted"),
           "es_query": ("doc_id", "score"), "fuzzy": ("doc_id", "score"),
           "suggest": ("term", "df", "distance"),
           "phrase": ("doc_id", "phrase_count"), "knn": ("doc_id", "rrf_score")}


def _rows(df, kind: str) -> tuple:
    return tuple(tuple(r[c] for c in COLUMNS[kind]) for r in df.collect())


def run_op(ctx, op: Op, tr, i: int):
    return timed(tr, i, lambda: plan(ctx, op), lambda df: _rows(df, op.kind))


# ----------------------------------------------------------------- checks


def _same_ranking(got: tuple, want: list[tuple], k: int) -> str | None:
    """Top-k equality that tolerates ties: the score sequences agree within
    TOL, and every returned id holds that score in the full reference
    ranking ``want`` ((id, score) pairs, best first)."""
    if len(got) != min(k, len(want)):
        return f"{len(got)} hits, reference has {len(want)} for k={k}"
    ref = dict(want)
    for (gid, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > TOL:
            return f"score {gs} where reference has {ws}"
        if gid not in ref or abs(ref[gid] - gs) > TOL:
            return f"doc {gid} scored {gs}, reference {ref.get(gid)}"
    return None


def _reference(ctx, op: Op):
    """The corpus-scan door's answer for one request."""
    from pandemic_knowledge_spark.operators.search import bm25_search, phrase_search

    eng = ctx.engine
    docs = eng.table("documents")
    p = op.params
    if op.kind == "search":
        return _rows(eng.search(p[0], k=8, page=p[1], use_index=False), "search")
    if op.kind == "fuzzy":
        n = ctx.inputs["docs"].num_rows
        return _rows(eng.fuzzy_search(p[0], k=n, use_index=False), "fuzzy")
    if op.kind == "suggest":
        return _rows(eng.suggest(p[0], use_index=False), "suggest")
    if op.kind == "phrase":
        return _rows(phrase_search(docs, "doc_id", "text", p[0], k=8), "phrase")
    n = ctx.inputs["docs"].num_rows
    full = [(r["doc_id"], r["score"])
            for r in bm25_search(docs, "doc_id", "text", p[0], k=n).collect()]
    if op.kind == "es_query":
        t = ctx.inputs["docs"]
        keep = {d for d, c, s in zip(t.column("doc_id").to_pylist(),
                                     t.column("n_chars").to_pylist(),
                                     t.column("source").to_pylist())
                if c >= p[1] and s == p[2]}
        return [x for x in full if x[0] in keep]
    # hybrid knn: numpy cosine ranks + scan-door BM25 ranks, fused by RRF
    spec, rank = _knn_args(ctx, *p)
    emb = ctx.inputs["emb"]
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    q = np.asarray(spec["query_vector"], dtype=np.float64)
    cos = np.round(vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q)), 6)
    ids = emb.column("vec_id").to_pylist()
    vec_rank = sorted(zip(ids, cos), key=lambda x: (-x[1], x[0]))[:spec["k"]]
    win = rank["rrf"]["rank_window_size"]
    fused: dict[int, float] = {}
    for lst in (full[:win], vec_rank):
        for r, (d, _) in enumerate(lst, start=1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (rank["rrf"]["rank_constant"] + r)
    return sorted(((d, round(s, 6)) for d, s in fused.items()),
                  key=lambda x: (-x[1], x[0]))


def _check_one(ctx, op: Op, got_list: list) -> str | None:
    want = _reference(ctx, op)
    for got in got_list:
        if op.kind in ("es_query", "fuzzy", "knn"):
            msg = _same_ranking(got, list(want), 8 if op.kind == "fuzzy" else 10)
        elif list(got) != list(want):
            msg = f"index answer {list(got)[:2]} != scan door {list(want)[:2]}"
        else:
            msg = None
        if msg:
            return msg
    return None


def check(ctx, results: dict[str, list]) -> dict[str, str]:
    ops = {o.key: o for o in ctx.inputs["requests"]}
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {k: pool.submit(_check_one, ctx, ops[k], got)
                for k, got in results.items()}
        out = {k: f.result() for k, f in futs.items()}
    return {k: v for k, v in out.items() if v}


# ---------------------------------------------------------------- metrics


def layer_metrics(ctx, log, tracer) -> dict[str, float]:
    hits = rows = 0
    for r in log.records:
        g = ctx.groups.get(f"op{r.index}")
        if g is not None and r.kind == "search":  # index probes only
            hits += r.rows
            rows += g["input_rows"]
    return {
        "search.postings_rows_per_hit": rows / hits if hits else 0.0,
        "search.index_build_s": span_median_ms(tracer.spans, "search.index_build") / 1000.0,
        "search.index_load_ms": span_median_ms(tracer.spans, "search.index_load"),
    }
