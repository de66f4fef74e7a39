"""ingest_ticks: the scheduled flows landing CSV and news drops into the store.

One op is one flow tick. The seed generates every drop: an OWID-shaped CSV
(mixed date spellings, blank numerics, unknown locations) and a news-doc
parquet with planted near-duplicates and one fresh marker term. The tick
lands both drops and runs ``owid_stream_ingest`` side by side with
``corpus_stream_ingest_dedup`` followed by ``corpus_stream_index`` (which
streams the dedup job's accepted corpus), each as an availableNow query on
a persistent checkpoint, then probes the persisted index until the marker
is searchable. Op latency runs from landing to searchable.

Set-up builds and checkpoints the lookup dimension and lands a base drop,
from which the flows' first micro-batch creates the facts, corpus,
signature store and index, so the streams are started and their code
warm; the warm-up probes the index once. The timed tick is the flows' first
append (cross-history dedup probe, index append); it takes 15-25 s on a
4-core box, so the 5-s window times one. Checks, after the window: the
streamed facts equal
batch ``ingest_owid`` over the landed files and semicolon-dialect renderings
of the same drops (the dialect the CSV stream cannot take), every planted
near-duplicate is rejected and every fresh doc accepted, and index probes
equal ``SearchIndex.build`` over the final corpus.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import gen
from workload import Op, op, span_median_ms

CLIENTS = 1
TAIL_P = 50.0  # a run times one tick: no rung of the tail ladder has 10 beyond
ROUND_OPS = 1
MAX_TICKS = 16  # drops staged; a run lands them in order, one a tick
BASE_DOCS = 200
FACT_COLS = ("date_start", "date_end", "location_name", "confirmed", "deaths",
             "vaccinated", "tested", "iso_code2")
PROGRESS_KEYS = ("addBatch", "queryPlanning", "walCommit", "latestOffset")


# ----------------------------------------------------------------- inputs


def make_inputs(seed: int, data_dir: str) -> dict:
    """Stage every drop; ``land`` later moves one tick's drop into place.
    Drop 0 is the base the set-up creates the stores from: ``BASE_DOCS``
    fresh docs and no near-duplicates."""
    vocab = gen.vocabulary(seed)
    os.makedirs(data_dir, exist_ok=True)
    lookup = os.path.join(data_dir, "lookup.csv")
    with open(lookup, "w") as f:
        f.write(gen.lookup_csv(seed))
    drops, nid, history = {}, 0, []
    for t in range(MAX_TICKS + 1):
        stage = os.path.join(data_dir, "staging", f"tick{t}")
        base = {"n_fresh": BASE_DOCS, "n_dups": 0, "n_twins": 0} if t == 0 else {}
        table, planted = gen.news_drop(seed, t, vocab, nid, history, **base)
        nid += table.num_rows
        accepted = set(planted["accepted"])
        history += [x for d, x in zip(table.column("doc_id").to_pylist(),
                                      table.column("text").to_pylist()) if d in accepted]
        rows = gen.owid_rows(seed, t)
        news_bytes = gen.write_parquet(table, os.path.join(stage, f"news{t}.parquet"))
        with open(os.path.join(stage, f"owid{t}.csv"), "w") as f:
            f.write(gen.owid_csv(rows))
        drops[t] = {"stage": stage, "rows": rows, "planted": planted,
                    "marker": gen.marker_term(seed, t), "marker_doc": planted["accepted"][0],
                    "bytes": news_bytes + os.path.getsize(os.path.join(stage, f"owid{t}.csv"))}
    return {"seed": seed, "lookup": lookup, "drops": drops,
            "base_ids": drops[0]["planted"]["accepted"],
            # The set-up's micro-batch has run every flow; the warm-up
            # probes the index once. A warm-up tick (about 22 s) does not
            # fit the run budget, so the timed tick is the flows' first append.
            "warm": [op("probe", vocab[0])],
            "requests": [op("tick", t) for t in range(1, MAX_TICKS + 1)]}


# ------------------------------------------------------------------ setup


def _dirs(work: str) -> dict[str, str]:
    names = ("land_owid", "land_news", "facts", "corpus", "sigstore", "index",
             "cp_owid", "cp_dedup", "cp_index")
    return {n: os.path.join(work, n) for n in names}


def setup(ctx) -> None:
    """Build and checkpoint the lookup dimension, land the base drop and let
    the flows' first micro-batch create the stores: the facts, the corpus,
    the MinHash signature store and the search index, as a deployment that
    starts its streams does. Ticks then run the flows' append paths."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = _dirs(ctx.work)
    for n in ("land_owid", "land_news"):
        os.makedirs(d[n], exist_ok=True)
    ctx.schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
    ctx.dirs, ctx.ticks, ctx.landed = d, [], []
    land(ctx, 0)
    stats = {"progress": {}}
    with ThreadPoolExecutor(max_workers=2) as pool:
        news = pool.submit(_flows, ctx, ctx.tracer, -1, stats, ("dedup", "index"),
                           SETUP_SPANS)
        _lookup_dim(ctx)
        _flows(ctx, ctx.tracer, -1, stats, ("owid",), SETUP_SPANS)
        news.result()


def _owid(ctx):
    from pandemic_knowledge_spark.streaming.jobs import owid_stream_ingest

    d = ctx.dirs
    return owid_stream_ingest(ctx.spark, d["land_owid"], ctx.dim, d["facts"], d["cp_owid"])


def _dedup(ctx):
    from pandemic_knowledge_spark.streaming.jobs import corpus_stream_ingest_dedup

    d = ctx.dirs
    return corpus_stream_ingest_dedup(ctx.spark, d["land_news"], ctx.schema, d["corpus"],
                                      d["sigstore"], d["cp_dedup"])


def _index(ctx):
    from pandemic_knowledge_spark.streaming.jobs import corpus_stream_index

    d = ctx.dirs
    return corpus_stream_index(ctx.spark, d["corpus"], d["index"], d["cp_index"])


# -------------------------------------------------------------------- ops


def _progress(q) -> dict[str, float]:
    out = dict.fromkeys(PROGRESS_KEYS, 0.0)
    for p in q.recentProgress:
        for k in PROGRESS_KEYS:
            out[k] += p.get("durationMs", {}).get(k, 0)
    return out


def land(ctx, t: int) -> None:
    """Move tick ``t``'s staged drop into the landing dirs (atomic rename)."""
    stage = ctx.inputs["drops"][t]["stage"]
    os.rename(os.path.join(stage, f"owid{t}.csv"),
              os.path.join(ctx.dirs["land_owid"], f"owid{t}.csv"))
    os.rename(os.path.join(stage, f"news{t}.parquet"),
              os.path.join(ctx.dirs["land_news"], f"news{t}.parquet"))
    ctx.landed.append(t)


FLOWS = {"owid": _owid, "dedup": _dedup, "index": _index}
TICK_SPANS = {n: f"streaming.{n}_tick" for n in FLOWS}
# The set-up's micro-batch creates each store.
SETUP_SPANS = {"owid": "sources.facts_create", "dedup": "dedup.sigstore_create",
               "index": "search.index_build"}


def _lookup_dim(ctx) -> None:
    from pandemic_knowledge_spark.sources import build_location_dim

    with ctx.tracer.span("sources.lookup_dim"):
        ctx.dim = build_location_dim(ctx.spark, ctx.inputs["lookup"]).localCheckpoint(
            eager=True)


def _flows(ctx, tr, i: int, stats: dict, names: tuple[str, ...],
           spans: dict[str, str]) -> None:
    """Run the named streaming queries in order, each availableNow."""
    for name in names:
        s0 = time.perf_counter()
        with tr.span(spans[name], i):
            q = FLOWS[name](ctx)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{name} query failed: {q.exception()}")
        if i >= 0:  # the query's jobs run under its run id, not the op's group
            ctx.op_groups.setdefault(i, []).append(str(q.runId))
        stats[f"{name}_ms"] = (time.perf_counter() - s0) * 1000.0
        stats["progress"][name] = _progress(q)


def run_op(ctx, op: Op, tr, i: int):
    """Land tick ``t``'s drop, run the three flows, probe until searchable.
    Returns (plan_s, exec_s, result): plan is the probes' SearchIndex calls
    until a DataFrame is returned, exec the rest of the tick."""
    from pandemic_knowledge_spark.operators.search import SearchIndex

    if op.kind == "probe":
        SearchIndex.load(ctx.spark, ctx.dirs["index"]).search(op.params[0], k=1).collect()
        return 0.0, 0.0, None
    t = op.params[0]
    drop = ctx.inputs["drops"][t]
    land(ctx, t)
    t0 = time.perf_counter()
    stats = {"tick": t, "progress": {}}
    # The OWID flow and the news flows (dedup, then index over its corpus)
    # are independent schedules: they run side by side.
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_flows, ctx, tr, i, stats, names, TICK_SPANS)
                for names in (("owid",), ("dedup", "index"))]
        for f in futs:
            f.result()
    s0 = time.perf_counter()
    plan_s = 0.0
    found = False
    with tr.span("search.probe", i):
        for _ in range(50):
            p0 = time.perf_counter()
            with tr.span("engine.plan", i):
                df = SearchIndex.load(ctx.spark, ctx.dirs["index"]).search(
                    drop["marker"], k=1)
            plan_s += time.perf_counter() - p0
            hits = df.collect()
            if hits and hits[0]["doc_id"] == drop["marker_doc"]:
                found = True
                break
            time.sleep(0.1)
    if not found:
        raise RuntimeError(f"marker {drop['marker']} never became searchable")
    stats["probe_ms"] = (time.perf_counter() - s0) * 1000.0
    total = time.perf_counter() - t0
    ctx.ticks.append(stats)
    return plan_s, total - plan_s, (t, drop["marker_doc"])


def schedule(ctx):
    """Ticks land in order, each once."""
    return iter(ctx.inputs["requests"])


# ----------------------------------------------------------------- checks


def _facts_rows(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*FACT_COLS).collect())


def _check_facts(ctx) -> list[str]:
    from pandemic_knowledge_spark.sources import ingest_owid

    spark, d, drops = ctx.spark, ctx.dirs, ctx.inputs["drops"]
    streamed = _facts_rows(spark.read.parquet(d["facts"]))
    # The CSV stream reads one dialect; the batch door sniffs each file, so
    # it takes the landed comma files and semicolon renderings of the same
    # drops in one call, and must land every streamed row exactly twice.
    os.makedirs(os.path.join(ctx.work, "semicolon"), exist_ok=True)
    paths = []
    for t in ctx.landed:
        path = os.path.join(ctx.work, "semicolon", f"owid{t}.csv")
        with open(path, "w") as f:
            f.write(gen.owid_csv(drops[t]["rows"], delimiter=";"))
        paths += [os.path.join(d["land_owid"], f"owid{t}.csv"), path]
    batch = _facts_rows(ingest_owid(spark, paths, ctx.dim))
    if batch != Counter({k: 2 * v for k, v in streamed.items()}):
        return ["streamed facts differ from batch ingest_owid over the comma "
                "and semicolon renderings of the drops"]
    return []


def _check_corpus(ctx) -> list[str]:
    drops = ctx.inputs["drops"]
    corpus = ctx.spark.read.parquet(ctx.dirs["corpus"])
    ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    want = set(ctx.inputs["base_ids"])
    rejected = set()
    for t in ctx.landed:
        want |= set(drops[t]["planted"]["accepted"])
        rejected |= set(drops[t]["planted"]["rejected"])
    problems = []
    if ids & rejected:
        problems.append(f"near-duplicates accepted: {sorted(ids & rejected)[:5]}")
    if want - ids:
        problems.append(f"fresh docs rejected: {sorted(want - ids)[:5]}")
    return problems


def _check_index(ctx) -> list[str]:
    from pandemic_knowledge_spark.operators.search import SearchIndex

    spark = ctx.spark
    loaded = SearchIndex.load(spark, ctx.dirs["index"])
    corpus = spark.read.parquet(ctx.dirs["corpus"])
    built = SearchIndex.build(corpus, "doc_id", "text", cache=False)
    head = gen.vocabulary(ctx.inputs["seed"])[0]  # the longest postings list
    for q in [ctx.inputs["drops"][t]["marker"] for t in ctx.landed] + [head]:
        a = [(r["doc_id"], round(r["score"], 6)) for r in loaded.search(q, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 6)) for r in built.search(q, k=10).collect()]
        if a != b:
            return [f"index probe {q!r}: {a[:2]} != rebuilt {b[:2]}"]
    return []


def check(ctx, results: dict[str, list]) -> dict[str, str]:
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(f, ctx) for f in (_check_facts, _check_corpus, _check_index)]
        problems = [p for f in futs for p in f.result()]
    if not problems:
        return {}
    return dict.fromkeys(results, "; ".join(problems))


# ---------------------------------------------------------------- metrics


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _io(ctx) -> dict[str, float]:
    d = ctx.dirs
    out = {f"io.{n}_bytes": float(_du(d[n])) for n in ("facts", "corpus", "sigstore", "index")}
    out["io.checkpoint_bytes"] = float(sum(_du(d[n]) for n in ("cp_owid", "cp_dedup", "cp_index")))
    landed = sum(ctx.inputs["drops"][t]["bytes"] for t in ctx.landed)
    out["io.bytes_written_per_input_byte"] = sum(out.values()) / landed if landed else 0.0
    return out


def layer_metrics(ctx, log, tracer) -> dict[str, float]:
    from latency import median

    ticks = ctx.ticks
    out = {f"streaming.{n}_tick_ms": span_median_ms(tracer.spans, f"streaming.{n}_tick")
           for n in ("owid", "dedup", "index")}
    out["search.probe_ms"] = span_median_ms(tracer.spans, "search.probe")
    out["search.index_build_s"] = span_median_ms(tracer.spans, "search.index_build") / 1000.0
    for k in PROGRESS_KEYS:
        out[f"streaming.{k}_ms"] = median(
            [sum(s["progress"][q][k] for q in s["progress"]) for s in ticks]) if ticks else 0.0
    ticks = [t for t in ctx.landed if t > 0]
    landed = sum(len(ctx.inputs["drops"][t]["planted"]["accepted"])
                 + len(ctx.inputs["drops"][t]["planted"]["rejected"]) for t in ticks)
    accepted = ctx.spark.read.parquet(ctx.dirs["corpus"]).count() - len(ctx.inputs["base_ids"])
    out["dedup.accept_ratio"] = accepted / landed if landed else 0.0
    out.update(_io(ctx))
    return out


def extra_report(ctx, log) -> dict[str, tuple[float, str]]:
    planted = [ctx.inputs["drops"][t]["planted"] for t in ctx.landed if t > 0]
    n_acc = sum(len(p["accepted"]) for p in planted)
    n_all = n_acc + sum(len(p["rejected"]) for p in planted)
    return {
        "bytes_written_per_input_byte": (_io(ctx)["io.bytes_written_per_input_byte"], "ratio"),
        "planted_accept_ratio": (n_acc / n_all if n_all else 0.0, "ratio"),
    }
