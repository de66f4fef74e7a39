"""Behavioral tests for exact duplicated-substring detection
(operators.substrings): planted duplicates with known span boundaries, a
brute-force Python reference on randomized corpora, and the cleaning pass.
"""

from __future__ import annotations

import random

import pytest

from pandemic_knowledge_spark.operators.substrings import (
    duplicated_spans,
    duplication_report,
    remove_duplicated_spans,
)

L = 4  # small gram length so fixtures stay readable


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spans(spark, rows):
    out = duplicated_spans(_docs(spark, rows), gram_len=L).collect()
    return sorted((r.doc_id, r.span_start, r.span_end) for r in out)


def brute_spans(rows, gram_len=L):
    """Reference implementation: dict-of-gram occurrence lists, mark every
    occurrence after the first (ordered by doc_id, start), merge."""
    grams: dict[tuple, list] = {}
    toks = {}
    for doc_id, text in rows:
        t = [w for w in "".join(c if c.isalnum() else " " for c in text.lower()).split()]
        toks[doc_id] = t
        for i in range(len(t) - gram_len + 1):
            grams.setdefault(tuple(t[i : i + gram_len]), []).append((doc_id, i))
    dup = sorted(p for occ in grams.values() for p in sorted(occ)[1:])
    spans = []
    for doc_id, start in dup:
        if spans and spans[-1][0] == doc_id and start <= spans[-1][2]:
            spans[-1][2] = max(spans[-1][2], start + gram_len)
        else:
            spans.append([doc_id, start, start + gram_len])
    return sorted((d, s, e) for d, s, e in spans)


def test_planted_cross_doc_duplicate(spark):
    # doc 1 repeats a 6-token run from doc 0 -> one span of exactly 6 tokens
    rows = [
        (0, "alpha beta gamma delta epsilon zeta unique tail words here"),
        (1, "other prefix alpha beta gamma delta epsilon zeta closing"),
    ]
    assert _spans(spark, rows) == [(1, 2, 8)]


def test_first_occurrence_exempt(spark):
    rows = [
        (0, "alpha beta gamma delta rest of text"),
        (1, "alpha beta gamma delta different ending"),
        (2, "alpha beta gamma delta third copy again"),
    ]
    spans = _spans(spark, rows)
    assert (0, 0, 4) not in spans
    assert (1, 0, 4) in spans and (2, 0, 4) in spans


def test_within_doc_repetition(spark):
    rows = [(0, "one two three four filler one two three four")]
    assert _spans(spark, rows) == [(0, 5, 9)]


def test_short_runs_not_flagged(spark):
    rows = [
        (0, "alpha beta gamma distinct tail one"),
        (1, "alpha beta gamma other finish two"),  # only 3 shared tokens < L
    ]
    assert _spans(spark, rows) == []


def test_adjacent_spans_merge(spark):
    # a duplicated run of 7 tokens -> 4 overlapping grams -> ONE span [1, 8)
    shared = "s1 s2 s3 s4 s5 s6 s7"
    rows = [(0, f"lead {shared} tail0"), (1, f"pre {shared} tail1")]
    assert _spans(spark, rows) == [(1, 1, 8)]


def test_report_fractions(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # full dup
    ]
    rep = {r.doc_id: r for r in duplication_report(_docs(spark, rows), gram_len=L).collect()}
    assert rep[0].dup_spans == 0 and rep[0].dup_frac == 0.0
    assert rep[1].dup_spans == 1 and rep[1].dup_tokens == 8 and rep[1].dup_frac == 1.0


def test_clean_removes_later_occurrence_only(spark):
    rows = [
        (0, "alpha beta gamma delta tail zero"),
        (1, "intro alpha beta gamma delta tail one"),
    ]
    out = {r.doc_id: r.clean_text for r in
           remove_duplicated_spans(_docs(spark, rows), gram_len=L).collect()}
    assert out[0] == "alpha beta gamma delta tail zero"
    # the 5-token duplicated run "alpha..tail" is cut from doc 1
    assert out[1] == "intro one"


def test_matches_brute_force_on_random_corpus(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for d in range(30):
        n = rng.randint(0, 25)
        rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant a long shared run across three docs
    shared = " ".join(rng.choice(vocab) for _ in range(9))
    for d in (30, 31, 32):
        rows.append((d, f"{shared} x{d}"))
    assert _spans(spark, rows) == brute_spans(rows)


def test_quantized_boundaries_vs_brute(spark):
    # heavy small-vocab corpus: lots of accidental collisions exercises the
    # island merge in both implementations
    rng = random.Random(11)
    vocab = ["a", "b", "c"]
    rows = [(d, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 40))))
            for d in range(25)]
    assert _spans(spark, rows) == brute_spans(rows)


def test_both_first_occurrence_forms_identical(spark):
    """The rank-window and the skew-safe combine+join forms must produce
    identical spans on a collision-heavy corpus."""
    from pandemic_knowledge_spark.operators.substrings import duplicated_spans

    rng = random.Random(13)
    vocab = ["a", "b", "c", "d"]
    rows = [(d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 35))))
            for d in range(40)]
    docs = _docs(spark, rows)
    w = sorted(map(tuple, duplicated_spans(docs, gram_len=L, skew_safe=False).collect()))
    c = sorted(map(tuple, duplicated_spans(docs, gram_len=L, skew_safe=True).collect()))
    assert w == c


def test_skew_gate_dispatches_on_threshold(spark, monkeypatch):
    from pandemic_knowledge_spark.operators import substrings
    from pandemic_knowledge_spark.operators.substrings import duplicated_spans

    # must be a parquet-backed frame: LocalRelations report unknown stats
    # (Long.MaxValue) and always dispatch to the skew-safe form
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    monkeypatch.setattr(substrings, "SKEW_THRESHOLD_BYTES", 1)  # everything is "big"
    plan_big = duplicated_spans(docs, gram_len=L)._jdf.queryExecution().optimizedPlan().toString()
    monkeypatch.setattr(substrings, "SKEW_THRESHOLD_BYTES", 1 << 40)
    plan_small = duplicated_spans(docs, gram_len=L)._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan_big and "row_number" in plan_small
