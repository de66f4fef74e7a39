"""Connected-components clustering: the pairwise dedup operators' last mile
(operators/dedup.py::connected_components). Parity with the recursive-CTE
oracle is covered by catalog:`dedup_cluster_reps`; these tests pin the
graph semantics on hand-built inputs."""

from __future__ import annotations

import pytest

from pandemic_knowledge_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
    minhash_lsh_pairs_pruned,
)
from pandemic_knowledge_spark.tables import load


def test_minhash_pruned_two_pass_matches_single_pass(spark, sf_dir):
    """The candidate-pruned two-pass form (signatures-only agg -> band join
    -> semi-join-pruned hash-set pass) must emit EXACTLY the single-pass
    pairs — it prunes shuffle payload, never candidates."""
    d = load(spark, sf_dir, "documents")
    one = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(d, "doc_id", "text", k=2, threshold=0.5).collect()
    }
    two = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs_pruned(d, "doc_id", "text", k=2, threshold=0.5).collect()
    }
    assert one == two and len(one) > 0


def test_minhash_pruned_collect_set_only_touches_candidates(spark, sf_dir):
    """Scale gate: in the pruned variant's plan, the collect_set aggregation
    must sit ABOVE a left-semi join on candidate ids — the corpus-wide
    hash-set shuffle is what this variant exists to avoid."""
    d = load(spark, sf_dir, "documents")
    plan = (
        minhash_lsh_pairs_pruned(d, "doc_id", "text", k=2, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan
    # collect_set appears only in aggregates downstream of the semi join
    # (single-pass minhash_base has no semi join at all)
    semi_pos = plan.find("LeftSemi")
    cs_pos = plan.find("collect_set")
    assert cs_pos != -1
    # executedPlan prints top-down: the aggregate consuming the semi join
    # appears BEFORE (above) the join node it reads from.
    assert cs_pos < semi_pos


def test_connected_components_transitive_chain(spark):
    """A chain a-b-c must collapse to one cluster even though (a,c) is not
    a direct pair; disjoint pairs stay separate clusters."""
    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (20, 21), (9, 11), (40, 41), (41, 42), (42, 43)],
        "doc_a long, doc_b long",
    )
    got = {(r.node, r.rep) for r in connected_components(pairs, max_iter=10).collect()}
    assert got == {
        (2, 2), (5, 2), (9, 2), (11, 2),
        (20, 20), (21, 20),
        (40, 40), (41, 40), (42, 40), (43, 40),
    }


def test_connected_components_raises_without_convergence(spark):
    """A path graph too deep for the round budget must fail loudly, never
    return a partial clustering. With pointer jumping (r13) each round
    roughly doubles label reach, so the diameter must exceed ~2^max_iter:
    a 100-edge path cannot converge in 2 rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(pairs, max_iter=2)


def _uf_reference(pairs):
    """Union-find ground truth: {node: min-id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    """Min-label propagation with pointer jumping == union-find ground
    truth, on pseudo-random graphs with mixed component shapes."""
    import random

    rng = random.Random(7)
    nodes = list(range(100))
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(120)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    want = set(_uf_reference(pairs).items())
    got = {
        (r.node, r.rep) for r in connected_components(df, max_iter=20).collect()
    }
    assert got == want


def test_union_find_reps_labels_components_by_min_id():
    """The driver-side twin of connected_components labels every node with
    its component's min id: the chain test's expected labels, a path
    listed from its far end, and random graphs against a BFS over the
    adjacency lists."""
    import random

    from pandemic_knowledge_spark.operators.dedup import union_find_reps

    assert union_find_reps(
        [(2, 5), (5, 9), (20, 21), (9, 11), (40, 41), (41, 42), (42, 43)]
    ) == {2: 2, 5: 2, 9: 2, 11: 2, 20: 20, 21: 20, 40: 40, 41: 40, 42: 40, 43: 40}
    assert union_find_reps([(i + 1, i) for i in range(120)]) == {i: 0 for i in range(121)}
    assert union_find_reps([]) == {}
    rng = random.Random(11)
    for _ in range(20):
        pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {}
        for start in adj:
            seen, todo = {start}, [start]
            while todo:
                for m in adj[todo.pop()] - seen:
                    seen.add(m)
                    todo.append(m)
            want[start] = min(seen)
        assert union_find_reps(pairs) == want


def test_star_contraction_converges_on_long_chain(spark):
    """The adversarial shape for plain min-label propagation: a 120-node
    path graph (diameter 119) would need ~119 rounds; pointer jumping
    must finish within 20 rounds with the exact clustering."""
    pairs = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {(r.node, r.rep) for r in connected_components(df, max_iter=20).collect()}
    assert got == {(i, 0) for i in range(121)}


def test_dedup_corpus_lines_semantics(spark):
    """First corpus-wide occurrence survives (by doc, then position);
    within-doc repeats collapse; docs reassemble in original order; a doc
    losing every line keeps n_kept=0 and null text."""
    from pandemic_knowledge_spark.operators.dedup import dedup_corpus_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha beta. gamma. alpha beta"),
            (2, "gamma. delta"),
            (3, "gamma"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_corpus_lines(docs).collect()}
    assert (got[1].n_lines, got[1].n_kept, got[1].text_kept) == (3, 2, "alpha beta. gamma")
    assert (got[2].n_lines, got[2].n_kept, got[2].text_kept) == (2, 1, "delta")
    assert (got[3].n_lines, got[3].n_kept, got[3].text_kept) == (1, 0, None)


def test_dedup_corpus_lines_huge_doc_ids(spark):
    """Hash-derived doc ids near int64 must not overflow the keeper choice
    (regression: an encoded doc_id*1e6+pos key blew ARITHMETIC_OVERFLOW
    under ANSI mode)."""
    from pandemic_knowledge_spark.operators.dedup import dedup_corpus_lines

    big = 9_200_000_000_000_000_000  # * 1e6 would overflow int64
    docs = spark.createDataFrame(
        [(big, "alpha. beta"), (big - 1, "beta. gamma")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_corpus_lines(docs).collect()}
    assert got[big - 1].text_kept == "beta. gamma"  # lower id wins 'beta'
    assert got[big].text_kept == "alpha"


def test_ngram_jaccard_cap_branches_agree(spark, sf_dir):
    """Chunked pair emission splits each (block, shingle) posting into
    doc-sorted chunks of <= collect_cap ids; pairs come from within-chunk
    nested transforms plus a chunk-pair cross join. Every route must be
    EXACT: cap=0 (clamped to 1 — every pair crosses chunks), a tiny cap
    (both streams active), and a huge cap (single chunk — within-only)
    must emit identical (pair, jaccard) sets."""
    from pandemic_knowledge_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    runs = [
        {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                d, "doc_id", "text", "lang", k=2, threshold=0.3, collect_cap=cap
            ).collect()
        }
        for cap in (0, 3, 1 << 30)
    ]
    assert runs[0] == runs[1] == runs[2] and len(runs[0]) > 0


def test_ngram_jaccard_wide_ids_take_unpacked_branch(spark):
    """The pair count packs (doc_a, doc_b) into one long only when every id
    fits 31 unsigned bits; wider ids must route to the two-column count and
    emit the same pairs/values as the packed form does for the same corpus
    under small ids."""
    from pandemic_knowledge_spark.operators.dedup import ngram_jaccard_pairs

    texts = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",
        "omega psi chi phi upsilon",
    ]
    big = 1 << 40
    runs = []
    for base in (1, big):
        d = spark.createDataFrame(
            [(base + i, "en", t) for i, t in enumerate(texts)],
            "doc_id long, lang string, text string",
        )
        out = ngram_jaccard_pairs(d, "doc_id", "text", "lang", k=2, threshold=0.1)
        runs.append(
            {(r.doc_a - base, r.doc_b - base, r.jaccard) for r in out.collect()}
        )
    assert runs[0] == runs[1] and len(runs[0]) > 0


def test_ngram_jaccard_int32_ids_pack_safely(spark):
    # value-range guard alone would let an int32 id column into the packed
    # branch, where shiftleft wraps to the low bit — the cast must make
    # packing type-safe, with output identical to the long-id run
    from pandemic_knowledge_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (i, "en", f"alpha beta gamma delta epsilon zeta token{i % 3}")
        for i in range(8)
    ]
    as_long = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    as_int = spark.createDataFrame(rows, "doc_id int, lang string, text string")
    expect = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(as_long, "doc_id", "text", "lang").collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(as_int, "doc_id", "text", "lang").collect()
    }
    assert got == expect and len(got) > 0


def test_ngram_jaccard_size_gate_refuses_large_estimates(spark, sf_dir, monkeypatch):
    """Exact Jaccard has no lossless scale tier, so above PRUNED_THRESHOLD_BYTES
    the operator must refuse loudly (naming minhash_lsh_pairs_auto) instead of
    silently running Θ(ΣC(df,2)) work — and must NOT fire at sf0.01 under the
    default threshold, nor for driver-materialized (unknown-size) frames."""
    import pytest

    from pandemic_knowledge_spark.operators import dedup
    from pandemic_knowledge_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # default threshold (1 GiB): sf0.01 passes the gate — plan construction
    # alone proves it (the eager checkpoint inside runs the sketch too)
    assert ngram_jaccard_pairs(docs, "doc_id", "text", "lang").columns == [
        "doc_a",
        "doc_b",
        "jaccard",
    ]
    monkeypatch.setattr(dedup, "PRUNED_THRESHOLD_BYTES", 1)
    with pytest.raises(ValueError, match="minhash_lsh_pairs_auto"):
        ngram_jaccard_pairs(docs, "doc_id", "text", "lang")
    # explicit override accepts the quadratic cost
    out = ngram_jaccard_pairs(
        docs, "doc_id", "text", "lang", allow_large=True
    )
    assert out.columns == ["doc_a", "doc_b", "jaccard"]
    # unknown estimate (LocalRelation = Long.MaxValue) reads as small,
    # not huge: driver-materialized frames necessarily fit memory
    local = spark.createDataFrame(
        [(1, "en", "alpha beta gamma"), (2, "en", "alpha beta delta")],
        "doc_id long, lang string, text string",
    )
    assert ngram_jaccard_pairs(local, "doc_id", "text", "lang").count() >= 0


def test_ngram_jaccard_string_ids_fall_through_to_two_column_count(spark):
    """Non-integral doc ids must never reach the packed-key branch: the
    value-range guard compares the driver-side min/max against ints, which
    raises TypeError for string ids. The type gate routes them to the
    two-column groupBy, which handles any orderable id — output must match
    the integer-id run on the same corpus (advisor-reported regression)."""
    from pandemic_knowledge_spark.operators.dedup import ngram_jaccard_pairs

    texts = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",
        "omega psi chi phi upsilon",
    ]
    as_long = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        "doc_id long, lang string, text string",
    )
    as_str = spark.createDataFrame(
        [(f"doc-{i}", "en", t) for i, t in enumerate(texts)],
        "doc_id string, lang string, text string",
    )
    expect = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            as_long, "doc_id", "text", "lang", k=2, threshold=0.1
        ).collect()
    }
    got = {
        (int(r.doc_a.removeprefix("doc-")), int(r.doc_b.removeprefix("doc-")), r.jaccard)
        for r in ngram_jaccard_pairs(
            as_str, "doc_id", "text", "lang", k=2, threshold=0.1
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_ngram_containment_string_ids_match_integer_ids(spark):
    """The containment form shares the packed-key branch with Jaccard, so
    the same type gate must route string ids to the two-column fallback —
    pairs and containment values must match the integer-id run exactly
    (extension of the advisor-reported Jaccard regression pin to the
    containment twin)."""
    from pandemic_knowledge_spark.operators.dedup import ngram_containment_pairs

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta iota kappa",
        "omega psi chi phi upsilon tau sigma rho",
    ]
    as_long = spark.createDataFrame(
        [(i, "en", t) for i, t in enumerate(texts)],
        "doc_id long, lang string, text string",
    )
    as_str = spark.createDataFrame(
        [(f"doc-{i}", "en", t) for i, t in enumerate(texts)],
        "doc_id string, lang string, text string",
    )
    expect = {
        (r.doc_a, r.doc_b, r.cont_a_in_b, r.cont_b_in_a)
        for r in ngram_containment_pairs(
            as_long, "doc_id", "text", "lang", k=3, threshold=0.1
        ).collect()
    }
    got = {
        (
            int(r.doc_a.removeprefix("doc-")),
            int(r.doc_b.removeprefix("doc-")),
            r.cont_a_in_b,
            r.cont_b_in_a,
        )
        for r in ngram_containment_pairs(
            as_str, "doc_id", "text", "lang", k=3, threshold=0.1
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_ngram_containment_detects_embedded_quote(spark):
    """A short doc quoted verbatim inside a much longer one: Jaccard is
    tiny (|A|/|B|), containment of the quote in the article is 1.0 — the
    asymmetric measure must flag the pair the symmetric one misses."""
    from pandemic_knowledge_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    rows = [
        (1, "en", quote),
        (2, "en", filler + " " + quote + " " + filler.replace("word", "unit")),
        (3, "en", "completely unrelated vocabulary about streaming state"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    cont = {
        (r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in ngram_containment_pairs(
            d, "doc_id", "text", "lang", k=2, threshold=0.9
        ).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)][0] == 1.0  # quote fully inside
    assert all(k == (1, 2) for k in cont)             # nothing else flagged
    jac = ngram_jaccard_pairs(
        d, "doc_id", "text", "lang", k=2, threshold=0.5
    ).collect()
    assert jac == []  # the symmetric measure misses the embedded quote


def test_ngram_jaccard_matches_python_reference(spark):
    """Seeded randomized cross-check against an independent pure-Python
    implementation (same md5-derived shingle hashing, same rounding) —
    exercises the full chunk/pack/repartition pipeline, including the
    cross-chunk stream at a tiny collect_cap."""
    import hashlib
    import random

    from pandemic_knowledge_spark.operators.dedup import HASH_MOD, ngram_jaccard_pairs

    rng = random.Random(421)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(14):  # base docs + mutated near-copies = real matches
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
        rows.append((len(rows), rng.choice(["en", "fr"]), " ".join(words)))
        for _ in range(rng.randint(0, 2)):
            mut = list(words)
            if mut:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((len(rows), rows[-1][1], " ".join(mut)))

    def py_hash(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % HASH_MOD

    def py_shingles(text: str) -> set[int]:
        import re

        toks = re.findall("[a-z0-9]+", text.lower())
        return {py_hash(f"{a} {b}") for a, b in zip(toks, toks[1:])}

    expect = set()
    for ai in range(len(rows)):
        for bi in range(ai + 1, len(rows)):
            ia, la, ta = rows[ai]
            ib, lb, tb = rows[bi]
            if la != lb:
                continue
            sa, sb = py_shingles(ta), py_shingles(tb)
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter == 0:
                continue
            j = round(inter / (len(sa) + len(sb) - inter), 6)
            if j >= 0.3:
                expect.add((ia, ib, j))

    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for cap in (2, 1024):
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", "lang", k=2, threshold=0.3, collect_cap=cap
            ).collect()
        }
        assert got == expect, f"cap={cap}"
    assert len(expect) > 3  # the fixture must actually exercise matches
