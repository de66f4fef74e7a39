"""Tests of the benchmark harness itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import latency  # noqa: E402
import run  # noqa: E402
from spans import Span, self_time_by_name, self_times  # noqa: E402


# ------------------------------------------------------- tail percentile


def test_beyond_counts_samples_above_the_percentile_position():
    assert latency.beyond(20, 50.0) == 10  # position 9.5: samples 10..19
    assert latency.beyond(21, 50.0) == 10  # position 10: samples 11..20
    assert latency.beyond(100, 90.0) == 10
    assert latency.beyond(100, 95.0) == 5


@pytest.mark.parametrize("n, want", [
    (5, None), (20, 50.0), (25, 60.0), (40, 75.0), (100, 90.0),
    (180, 90.0), (199, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_is_highest_rung_with_ten_samples_beyond(n, want):
    assert latency.tail_percentile(n) == want
    if want is not None:
        assert latency.beyond(n, want) >= latency.MIN_BEYOND
        higher = [p for p in latency.TAIL_LADDER if p > want]
        assert all(latency.beyond(n, p) < latency.MIN_BEYOND for p in higher)


def test_workload_tail_percentiles_are_supported_by_their_sample_counts():
    # kibana_panels times one round (two passes over its panels) in the
    # benchmark's 5-s window on a 4-core box, ingest_ticks one tick: no rung
    # above p50 keeps 10 samples beyond a tick.
    # news_search, run by hand with a 30-s window, completes ~30 requests.
    import ingest_ticks
    import kibana_panels
    import news_search

    for seed in (1, 2):
        assert len(kibana_panels.requests(seed)) == kibana_panels.N_REQUESTS
    assert kibana_panels.TAIL_P == latency.tail_percentile(kibana_panels.ROUND_OPS) == 75.0
    assert ingest_ticks.TAIL_P == 50.0
    assert news_search.TAIL_P == latency.tail_percentile(30) == 60.0


def test_percentile_interpolates_linearly():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert latency.percentile(xs, 0.0) == 1.0
    assert latency.percentile(xs, 100.0) == 4.0
    assert latency.percentile(xs, 50.0) == 2.5


# ---------------------------------------------------- seed determinism


def _bytes_of(tmp_path, name, table) -> bytes:
    path = str(tmp_path / name)
    gen.write_parquet(table, path)
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.parametrize("make", [
    lambda s: gen.documents(s, gen.vocabulary(s), 300),
    lambda s: gen.embeddings(s, 200),
    lambda s: gen.events(s, 2000),
    lambda s: gen.orders(s, 2000),
    lambda s: gen.lineitem(s, 2000, 5000),
    lambda s: gen.facts(s, 2000),
    lambda s: gen.news_drop(s, 3, gen.vocabulary(s), 100, ["a b c d"] * 5)[0],
])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make):
    a = _bytes_of(tmp_path, "a.parquet", make(7))
    b = _bytes_of(tmp_path, "b.parquet", make(7))
    c = _bytes_of(tmp_path, "c.parquet", make(8))
    assert a == b
    assert a != c


def test_csv_drops_and_requests_follow_the_seed():
    import kibana_panels

    assert gen.owid_csv(gen.owid_rows(5, 2)) == gen.owid_csv(gen.owid_rows(5, 2))
    assert gen.owid_csv(gen.owid_rows(5, 2)) != gen.owid_csv(gen.owid_rows(6, 2))
    assert gen.lookup_csv(5) != gen.lookup_csv(6)
    assert kibana_panels.requests(5) == kibana_panels.requests(5)
    assert kibana_panels.requests(5) != kibana_panels.requests(6)


def test_news_inputs_are_identical_per_seed(tmp_path):
    import news_search

    a = news_search.make_inputs(3, str(tmp_path / "a"))
    b = news_search.make_inputs(3, str(tmp_path / "b"))
    c = news_search.make_inputs(4, str(tmp_path / "c"))
    for name in ("documents.parquet", "embeddings.parquet"):
        read = lambda d: open(os.path.join(d["sf_dir"], name), "rb").read()  # noqa: E731
        assert read(a) == read(b)
        assert read(a) != read(c)
    assert a["requests"] == b["requests"] != c["requests"]


def test_news_round_is_one_searchui_session_per_other_door():
    import news_search

    vocab = gen.vocabulary(3)
    reqs = news_search.requests(3, vocab, [" ".join(vocab[:50])])
    others = [o.kind for o in reqs if o.kind != "search"]
    assert others == list(news_search.OTHER_DOORS)
    # each session: a page-0 search per word typed, page 1 of the full query
    session = []
    for o in reqs:
        if o.kind != "search":
            *typed, second = session
            words = second.params[0].split()
            assert second.params[1] == 1 and len(typed) == len(words)
            assert [t.params for t in typed] == [
                (" ".join(words[:n]), 0) for n in range(1, len(words) + 1)]
            session = []
        else:
            session.append(o)


def test_news_drop_plants_what_it_reports():
    vocab = gen.vocabulary(2)
    history = [" ".join(vocab[:80]), " ".join(vocab[80:160])]
    table, planted = gen.news_drop(2, 1, vocab, 1000, history, n_fresh=3,
                                   n_dups=2, n_twins=1)
    ids = table.column("doc_id").to_pylist()
    assert sorted(planted["accepted"] + planted["rejected"]) == sorted(ids)
    texts = dict(zip(ids, table.column("text").to_pylist()))
    assert gen.marker_term(2, 1) in texts[planted["accepted"][0]].split()
    # each history near-duplicate differs from its source in the last token only
    for d in planted["rejected"][:2]:
        toks = texts[d].split()
        assert any(h.split()[:-1] == toks[:-1] and h.split()[-1] != toks[-1]
                   for h in history)


# ------------------------------------------------------------ self time


def test_self_time_subtracts_children_counting_overlaps_once():
    spans = [
        Span(1, "op", 0.0, 10.0, None, 0),
        Span(2, "plan", 1.0, 4.0, 1, 0),
        Span(3, "exec", 3.0, 8.0, 1, 0),   # overlaps plan on [3, 4]
        Span(4, "io", 5.0, 6.0, 3, 0),     # grandchild: only exec loses it
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 7.0)  # children cover [1, 8]
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(5.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    by_name = self_time_by_name(spans + [Span(5, "plan", 20.0, 21.0, None, 1)])
    assert by_name["plan"] == pytest.approx(4.0)


def test_child_outside_its_parent_is_clipped():
    spans = [Span(1, "op", 0.0, 2.0, None, 0), Span(2, "late", 1.5, 3.0, 1, 0)]
    assert self_times(spans)[1] == pytest.approx(1.5)


def test_disabled_tracer_records_nothing():
    from spans import Tracer

    t = Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []
    t = Tracer(True)
    with t.span("outer", 1):
        with t.span("inner", 1):
            pass
    spans = {s.name: s for s in t.spans}
    assert spans["outer"].parent is None
    assert spans["inner"].parent == spans["outer"].span_id


# ------------------------------------------------------- failed ops


def _log():
    log = latency.OpLog()
    log.add(latency.OpRecord(0, "search", "q1", 0.0, latency_s=0.5))
    log.add(latency.OpRecord(1, "search", "q2", 0.5, error="ValueError: boom"))
    log.add(latency.OpRecord(2, "search", "q1", 1.0, latency_s=0.7))
    log.add(latency.OpRecord(3, "search", "q2", 1.7, latency_s=0.6))
    log.add(latency.OpRecord(4, "search", "q3", 2.3, latency_s=0.4))
    return log


def test_raised_and_check_failed_ops_each_count_once():
    log = _log()
    assert (log.attempted, log.failed) == (5, 1)
    # q2's output check fails: op 3 now fails too; op 1 already failed and
    # is not counted twice
    assert log.mark_check_failure("q2", "wrong top-k") == 1
    assert (log.attempted, log.failed) == (5, 2)
    assert log.failed_ratio == pytest.approx(0.4)
    log.mark_check_failure("q2", "again")
    assert log.failed == 2


def test_summary_reports_latency_of_completed_ops_only():
    log = _log()
    s = latency.summarize(log, window_s=3.0, tail_p=50.0)
    assert s["samples"] == 4 and s["attempted"] == 5 and s["failed"] == 1
    assert s["ops_per_s"] == pytest.approx(4 / 3.0)
    assert s["p50_ms"] == pytest.approx(550.0)


# --------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_the_command():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in spec["end_to_end"])
