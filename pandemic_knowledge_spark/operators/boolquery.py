"""The composed ES ``bool`` query door — must / should / must_not / filter
with per-clause boosts and ``minimum_should_match``, compiled onto the
engine's existing scorers.

This is the glue of every real Elasticsearch query, including the
reference's own: its queryBuilder emits ``bool.filter[multi_match ...]``
(/root/reference/news_app/app/app/src/SearchUI.js:15-33), and every
Searchkit facet the news app renders adds one more bool clause. The
engine already had every individual scorer (the complete multi_match
family, phrase, fuzzy, prefix); this module is the combinator.

Clause specs are plain dicts with exactly one query key plus an optional
``boost`` (scored contexts only):

========  =========================================  ====================
key       semantics (scored: must/should)            membership (filter/
                                                     must_not)
========  =========================================  ====================
match     BM25 over the analyzed query terms;        doc holds >= 1 term
          ``operator: "and"`` requires ALL terms,    (``operator``/int
          an integer ``minimum_should_match``        ``minimum_should_
          requires >= that many distinct terms       match`` raise the
          (ES's term-level matching control)         bar the same way)
phrase    BM25 with the phrase as one pseudo-term    doc holds the
          (tf := exact consecutive phrase count,     consecutive phrase
          df := docs containing the phrase — the
          Lucene ExactPhraseScorer model: phrase
          frequency IS the term frequency)
prefix    constant_score 1.0 (ES's prefix-query      doc holds >= 1 token
          rewrite: multi-term queries score with     with the prefix
          a constant unless explicitly blended)
fuzzy     BM25 over the AUTO-band expansion set      —
          (same expansion rule as
          operators.search.fuzzy_match_search:
          admissible-length equi-join, per-term
          (distance, df DESC, term) cap)
term      —                                          doc holds the exact
                                                     token
constant_ flat 1.0 · boost for docs matching the     —
score     wrapped MEMBERSHIP clause (ES
          constant_score: "this facet matters
          this much"); any membership form below
          may be wrapped, incl. range/exists
range     —                                          non-text metadata
                                                     bound(s) on a doc
                                                     FIELD (ES range
                                                     query): ``{"range":
                                                     {field: {gte/gt/
                                                     lte/lt}}}``
exists    —                                          doc FIELD is
                                                     non-null (ES exists
                                                     query): ``{"exists":
                                                     {"field": f}}``
========  =========================================  ====================

``range`` / ``exists`` are the metadata gates every real bool query
carries next to its text clauses (date ranges, length floors, source
facets — the reference's Kibana dashboards are date-range-filtered
visualizations of exactly this shape, /root/reference/README.md:22-28).
They are membership-only (ES executes them in filter context without
scores) and, like every other membership clause, they ride the SAME
single predicate-projection scan — the field comparison is one more
boolean column beside the token tests, not a separate join.

Scoring combination is exactly ES's: ``score(doc) = Σ boost_i ·
clause_score_i(doc)`` over every matched must and should clause; a doc
qualifies iff it matches ALL must clauses, at least
``minimum_should_match`` should clauses (ES default: 1 when the query has
neither must nor filter clauses, else 0), NO must_not clause, and every
filter clause (filter and must_not never contribute score). Clause scores
stay RAW doubles; only the combined sum rounds, once, at 4 dp — the same
single-round idiom as every other scorer here, in both the Spark plan and
the DuckDB oracle (:func:`sql_bool_search`). (An intermediate per-clause
round would be a double-rounding trap: 6-dp-quantized clause scores sum
onto exact 4-dp half-boundaries, where HALF_UP diverges on the last ulp
between engines — observed immediately at sf0.001.)

Scale shape: ONE selected-TF sliver feeds every match/fuzzy clause — a
literal scan-side TF when every scored term is a literal, or (with a
fuzzy clause, r14) the pruned vocab + stats + selected-TF shape of
:func:`~.search.fuzzy_match_search`: the only corpus-wide frames are the
vocab-sized (term, df) table and a 1-row stats scan, never a corpus-
sized (doc, term) TF checkpoint (its single one-row stats crossJoin is
the plan's whole scalar-BNLJ budget); clause scoring is then per-clause
aggregations over the same lazily-pinned sliver, never a re-scan. Phrase clauses count occurrences scan-side
(whole-stage-codegen higher-order functions, no shuffle before the
per-doc frame) with their corpus constants folded to literals via a
bounded one-row collect. All filter / must_not membership tests compile
into ONE additional scan — a single projection of per-clause boolean
columns joined once against the aggregated hits frame (never one
semi/anti join per clause). The combine itself is one union + one keyed
groupBy shuffle, then a TakeOrderedAndProject top-k.
"""

from __future__ import annotations

import operator
import re
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandemic_knowledge_spark.functions.text import (
    query_terms,
    sql_over,
    sql_tokenize,
    tokenize,
)
from pandemic_knowledge_spark.operators.search import (
    BM25_B,
    BM25_K1,
    _attach_bm25_scores,
    _corpus_stats,
    _fuzzy_selected,
    _literal_tf_with_stats,
    _postings_scores_sql,
    _query_rows,
    _selected_tf,
    _span_start_pred,
    _sql_tf_prelude,
    _vocab_df,
    fuzzy_auto_band,
    sql_span_conds,
)

_SCORED_KEYS = ("match", "phrase", "prefix", "fuzzy", "constant_score")
_MEMBER_KEYS = ("match", "phrase", "prefix", "term", "range", "exists", "bool")
_RANGE_OPS = ("gte", "gt", "lte", "lt")
_RANGE_CMP = {"gte": operator.ge, "gt": operator.gt, "lte": operator.le, "lt": operator.lt}


def _range_parts(clause: dict) -> tuple[str, dict]:
    """Validate an ES range clause ``{"range": {field: {gte/gt/lte/lt}}}``
    → (field, bounds). Exactly one field, ≥1 bound, no stray keys."""
    spec = clause["range"]
    if len(spec) != 1:
        raise ValueError(f"range clause needs exactly one field, got {sorted(spec)}")
    field, bounds = next(iter(spec.items()))
    if not bounds or not set(bounds) <= set(_RANGE_OPS):
        raise ValueError(f"range bounds must be a non-empty subset of {_RANGE_OPS}")
    return field, bounds


def _match_min_terms(clause: dict, terms: list[str]) -> int:
    """Term-level matching control of an ES ``match`` clause: ``operator:
    "and"`` requires every analyzed term; an integer
    ``minimum_should_match`` requires at least that many distinct terms
    (clamped to the term count — ES clamps too). Default OR semantics
    (any one term) is min_terms=1."""
    op = clause.get("operator", "or")
    if op not in ("or", "and"):
        raise ValueError(f"match operator must be 'or' or 'and', got {op!r}")
    msm = clause.get("minimum_should_match")
    if op == "and" and msm is not None:
        raise ValueError("match takes operator='and' OR minimum_should_match")
    if op == "and":
        return len(terms)
    if msm is None:
        return 1
    msm = int(msm)
    if msm < 1:
        raise ValueError("match minimum_should_match must be >= 1")
    return min(msm, len(terms))


def _membership_kinds(clause: dict) -> set:
    """Every leaf kind a membership clause tree contains (recursing
    through nested bools) — drives the needs-raw-fields and
    needs-checkpointed-preds gates."""
    key = _clause_key(clause, _MEMBER_KEYS)
    if key != "bool":
        return {key}
    spec = clause["bool"]
    out = set()
    for occ in ("must", "should", "must_not", "filter"):
        for c in spec.get(occ, ()):
            out |= _membership_kinds(c)
    return out


def _token_leaf_count(clause: dict) -> int:
    """Number of TOKEN leaves (term/match/prefix/phrase — anything that
    reads the token array) in a membership clause tree, recursing through
    nested bools. Drives the ≥2-evaluations pin gate in
    :func:`bool_search`: counting CLAUSES there undercounted a single
    nested bool holding several token leaves (r13 advice), whose
    ``_member_pred`` re-inlines tokenize(text) once per LEAF."""
    key = _clause_key(clause, _MEMBER_KEYS)
    if key == "bool":
        spec = clause["bool"]
        return sum(
            _token_leaf_count(c)
            for occ in ("must", "should", "must_not", "filter")
            for c in spec.get(occ, ())
        )
    return 0 if key in ("range", "exists") else 1


def _clause_fields(clause: dict) -> tuple[str, ...]:
    """Raw field columns a membership clause tree reads (range/exists,
    recursing through nested bools), so a projected preds base can keep
    them in scope; token clauses read none."""
    key = _clause_key(clause, _MEMBER_KEYS)
    if key == "range":
        return (_range_parts(clause)[0],)
    if key == "exists":
        return (clause["exists"]["field"],)
    if key == "bool":
        spec = clause["bool"]
        return tuple(
            f
            for occ in ("must", "should", "must_not", "filter")
            for c in spec.get(occ, ())
            for f in _clause_fields(c)
        )
    return ()


def _clause_key(clause: dict, allowed: tuple) -> str:
    keys = [k for k in allowed if k in clause]
    if len(keys) != 1:
        raise ValueError(
            f"bool clause needs exactly one of {allowed}, got {sorted(clause)}"
        )
    return keys[0]


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# --------------------------------------------------------------------- Spark


def _phrase_starts(toks, terms: list[str]):
    """Positions where ``terms`` occur consecutively in the token array —
    the same scan-side HOF counter as operators.search.phrase_search
    (kept in lock-step by the parity test)."""
    m = len(terms)
    lit_arr = F.array(*[F.lit(t) for t in terms])
    return F.filter(
        F.sequence(F.lit(0), F.size(toks) - m),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(True),
            lambda acc, j: acc
            & (
                F.element_at(toks, (i + j + 1).cast("int"))
                == F.element_at(lit_arr, (j + 1).cast("int"))
            ),
        ),
    )


def _phrase_counter(toks, terms: list[str], slop: int = 0):
    """Qualifying-start positions for a phrase clause: exact consecutive
    starts at slop=0 (the ExactPhraseScorer shape — unchanged plans and
    oracles), the ordered span window otherwise (ES match_phrase with
    slop; pf := span-start count — a documented integer simplification of
    Lucene's 1/(distance+1) sloppy-freq weighting, identical on both
    engines)."""
    if slop == 0:
        return _phrase_starts(toks, terms)
    m = len(terms)
    return F.filter(
        F.sequence(F.lit(1), F.size(toks) - m + 1),
        _span_start_pred(toks, terms, slop),
    )


def _member_pred(toks, clause: dict):
    """The clause's membership test as ONE boolean column over the shared
    token array (plus, for range/exists, the doc's raw field columns —
    evaluated in the same projection) — all filter/must_not clauses ride
    a single docs scan."""
    key = _clause_key(clause, _MEMBER_KEYS)
    if key == "range":
        field, bounds = _range_parts(clause)
        col = F.col(field)
        return reduce(lambda a, b: a & b, (
            _RANGE_CMP[op](col, F.lit(v)) for op, v in sorted(bounds.items())
        ))
    if key == "exists":
        return F.col(clause["exists"]["field"]).isNotNull()
    if key == "bool":
        # a NESTED bool in membership context (ES filter trees:
        # filter=[{bool: {should: [...]}}] is the idiomatic OR-of-filters)
        # composes recursively as pure boolean algebra — no scoring, so
        # unlike the scored contexts the nesting is exact. NULL-safe: a
        # sub-pred over a missing field coalesces to False before any
        # negation (the ES missing-field rule).
        spec = clause["bool"]
        unknown = set(spec) - {"must", "should", "must_not", "filter",
                               "minimum_should_match"}
        if unknown:
            raise ValueError(f"nested bool: unsupported keys {sorted(unknown)}")
        must = list(spec.get("must", ())) + list(spec.get("filter", ()))
        should = list(spec.get("should", ()))
        must_not = list(spec.get("must_not", ()))
        if not (must or should or must_not):
            raise ValueError("nested bool needs at least one clause")
        pred = F.lit(True)
        for c in must:
            pred = pred & F.coalesce(_member_pred(toks, c), F.lit(False))
        for c in must_not:
            pred = pred & ~F.coalesce(_member_pred(toks, c), F.lit(False))
        if should:
            msm = int(spec.get("minimum_should_match",
                               1 if not must else 0))
            if msm > 0:
                n = None
                for c in should:
                    one = F.coalesce(
                        _member_pred(toks, c), F.lit(False)
                    ).cast("int")
                    n = one if n is None else n + one
                pred = pred & (n >= F.lit(msm))
        return pred
    if key == "term":
        return F.array_contains(toks, F.lit(clause["term"]))
    if key == "match":
        terms = sorted(set(query_terms(clause["match"])))
        if not terms:
            raise ValueError("bool match clause has no tokenizable terms")
        min_terms = _match_min_terms(clause, terms)
        term_arr = F.array(*[F.lit(t) for t in terms])
        if min_terms == 1:
            return F.arrays_overlap(toks, term_arr)
        return F.size(F.array_intersect(F.array_distinct(toks), term_arr)) >= F.lit(
            min_terms
        )
    if key == "prefix":
        p = clause["prefix"]
        return F.exists(toks, lambda x: x.startswith(p))
    terms = query_terms(clause["phrase"])
    if not terms:
        raise ValueError("bool phrase clause has no tokenizable terms")
    slop = int(clause.get("slop", 0))
    if slop < 0:
        raise ValueError("phrase slop must be >= 0")
    return (F.size(toks) >= len(terms)) & (
        F.size(_phrase_counter(toks, terms, slop)) > 0
    )


def _match_frame(tf, df_t, terms: list[str],
                 min_terms: int = 1) -> DataFrame:
    """Full (doc_id, cscore) BM25 frame for a match clause — the scorer of
    operators.search.bm25_search minus the top-k (the bool combinator
    truncates AFTER combining; a per-clause cut would silently drop docs
    whose summed score belongs in the page). ``min_terms`` is the clause's
    term-level matching control — ES match ``operator: and`` (all terms)
    or an integer ``minimum_should_match`` — enforced as a distinct-term
    count in the SAME grouped aggregation (tf holds one row per (doc,
    term), so count(*) IS the distinct matched-term count; no extra
    shuffle)."""
    sel = tf.filter(F.col("term").isin(terms))
    if "df" in tf.columns:
        # r14 pruned shape: the selected-TF sliver already carries df
        joined = sel
    else:
        df_sel = df_t.filter(F.col("term").isin(terms))
        joined = sel.join(F.broadcast(df_sel), "term")
    scored = _attach_bm25_scores(joined)
    agged = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("cscore"),
        F.count(F.lit(1)).alias("__nt"),
    )
    if min_terms > 1:
        agged = agged.where(F.col("__nt") >= F.lit(min_terms))
    return agged.select("doc_id", "cscore")


def _fuzzy_clause_selection(spark, df_t, clause: dict) -> DataFrame:
    """One fuzzy clause's bounded (term, df) expansion set from the
    (term, df) vocabulary — AUTO bands, per-qterm expansion cap, shared
    :func:`~.search._fuzzy_selected` rule. Computed up front by
    :func:`_scored_frames` so all clauses' selections union into the ONE
    selected-TF scan (r14; guide §2.3/§8)."""
    q_terms = sorted(set(query_terms(clause["fuzzy"])))
    if not q_terms:
        raise ValueError("bool fuzzy clause has no tokenizable terms")
    max_expansions = int(clause.get("max_expansions", 50))
    prefix_length = int(clause.get("prefix_length", 0))
    bands = [(t, fuzzy_auto_band(len(t))) for t in q_terms]
    exact_terms = sorted(t for t, b in bands if b == 0)
    fuzz_rows = [
        (t, b, length)
        for t, b in bands
        if b > 0
        for length in range(max(1, len(t) - b), len(t) + b + 1)
    ]
    # the selection carries (term, df) — it IS the bounded build side; no
    # second df_t pass to re-attach df (r13 optimization, guide §2.4)
    return _fuzzy_selected(
        spark, df_t, fuzz_rows, exact_terms, max_expansions, prefix_length
    )


def _fuzzy_frame(tf, df_sel: DataFrame) -> DataFrame:
    """BM25 frame for a fuzzy clause over its precomputed expansion set.
    The shared selected-TF sliver already carries df per term (r14 pruned
    shape), so the clause only narrows it to its own terms."""
    joined = tf.join(F.broadcast(df_sel.select("term")), "term")
    scored = _attach_bm25_scores(joined)
    return scored.groupBy("doc_id").agg(F.sum("term_score").alias("cscore"))


def _phrase_pf_all(docs, id_col, text_col, terms, slop: int = 0):
    """Checkpointed narrow (doc_id, dl, pf) frame for a phrase clause —
    the ONE shape every phrase consumer uses (scored _phrase_score,
    constant_score/_member_frame membership). Tokenize materializes once
    in its own projection (the positional HOF references the array per
    (position, term) pair — an inline tokenize(text) would re-run the
    regex at every reference since HOF lambda bodies sit outside CSE),
    and the checkpoint lands BEFORE any filter: a filter below it would
    push down through both projections and re-inline the whole counter
    into a second per-row evaluation (the r10 6× pathology). Three ints
    per doc — trivial next to the TF checkpoint the bool door carries.
    """
    m = len(terms)
    toks = F.col("__toks")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), tokenize(text_col).alias("__toks")
        )
        .select(
            "doc_id",
            F.size(toks).alias("dl"),
            F.when(
                F.size(toks) >= m, F.size(_phrase_counter(toks, terms, slop))
            ).otherwise(F.lit(0)).alias("pf"),
        )
        # lazy (r13): the df count below materializes it in one job
        .localCheckpoint(eager=False)
    )


def _phrase_stats_and_df(pf_all) -> tuple[int, int, int]:
    """ONE aggregate job over a checkpointed :func:`_phrase_pf_all` frame
    yields the corpus stats AND the phrase's document frequency: pf_all
    carries exactly one row per doc with ``dl = size(toks)``, so
    ``count(*)`` IS n_docs, ``sum(dl)`` IS sum_dl, and ``pf`` is never
    NULL (when/otherwise(0)) so ``sum(pf > 0)`` IS the old
    ``where(pf > 0).count()``. Before r13 wave 13 the stats came from a
    SEPARATE full tokenize scan of the corpus (one extra job + one extra
    regexp pass over every corpus byte); this fused aggregate also
    materializes the checkpoint the scorer re-reads — values
    bit-identical (guide §1.2: remove a pass outright)."""
    row = pf_all.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("s"),
        F.sum(F.when(F.col("pf") > 0, 1).otherwise(0)).alias("d"),
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0), int(row["d"] or 0)


def _phrase_score(pf_all, n_docs, sum_dl, df_ph) -> DataFrame:
    """Scoring tail for a scored phrase clause over its checkpointed
    :func:`_phrase_pf_all` frame: the phrase is ONE pseudo-term
    (tf := phrase count, df := matching-doc count — Lucene's
    ExactPhraseScorer model). The corpus constants arrive as literals
    (collected by the caller — see :func:`_phrase_stats_and_df`) so the
    plan spends no scalar broadcast here — the one-BNLJ budget stays
    with the shared TF stats."""
    pf = pf_all.where(F.col("pf") > 0)
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_ph + F.lit(0.5)) / (F.lit(df_ph) + F.lit(0.5))
    )
    tf_part = (F.col("pf") * (BM25_K1 + 1)) / (
        F.col("pf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    return pf.select("doc_id", (idf * tf_part).alias("cscore"))


def _prefix_frame(docs, id_col, text_col, prefix: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("__t")
    ).where(F.exists(F.col("__t"), lambda x: x.startswith(prefix))).select(
        "doc_id", F.lit(1.0).alias("cscore")
    )


def _member_frame(docs, id_col, text_col, clause: dict) -> DataFrame:
    """(doc_id, cscore=1.0) for the docs a MEMBERSHIP clause admits — the
    executable half of ES ``constant_score`` (the boost multiplies in the
    shared tail). Token clauses evaluate inline on the scan (one tokenize
    per predicate); a phrase clause takes the checkpointed narrow-counter
    shape (_phrase_score's) so the positional HOF never re-inlines an
    unmaterialized tokenize per position."""
    key = _clause_key(clause, _MEMBER_KEYS)
    if key == "phrase":
        terms = query_terms(clause["phrase"])
        if not terms:
            raise ValueError("bool phrase clause has no tokenizable terms")
        slop = int(clause.get("slop", 0))
        if slop < 0:
            raise ValueError("phrase slop must be >= 0")
        return (
            _phrase_pf_all(docs, id_col, text_col, terms, slop)
            .where(F.col("pf") > 0)
            .select("doc_id", F.lit(1.0).alias("cscore"))
        )
    return (
        docs.where(_member_pred(tokenize(text_col), clause))
        .select(F.col(id_col).alias("doc_id"), F.lit(1.0).alias("cscore"))
    )


def default_msm(must, should, filter) -> int:
    """ES's documented default: a pure-should bool needs one should hit;
    once a must or filter clause exists, should becomes purely additive."""
    return 1 if (should and not must and not filter) else 0


def _scored_frames(docs, id_col, text_col, scored):
    """Compile (kind, clause) pairs into full (doc_id, bscore, kind)
    frames — the shared front half of :func:`bool_search` and
    :func:`dis_max_search`: one selected-TF sliver feeds every
    match/fuzzy clause, phrase clauses fold their corpus constants to
    literals via one bounded one-row collect (as SearchIndex.corpus_stats does),
    prefix clauses are constant_score scan-side projections.

    Validation-order note (r13 advice): phrase-clause validation (empty
    terms, negative slop) runs in the up-front phrase-frame loop, so a
    later phrase clause's ValueError can surface before an earlier match
    clause's — invalid queries still always raise, only which error wins
    may differ from strict list order."""
    spark = docs.sparkSession
    needs_vocab = any(
        _clause_key(c, _SCORED_KEYS) == "fuzzy" for _, c in scored
    )
    match_terms = sorted(
        {
            t
            for _, c in scored
            if _clause_key(c, _SCORED_KEYS) == "match"
            for t in query_terms(c["match"])
        }
    )
    tf = df_t = None
    fuzzy_sels: dict[int, DataFrame] = {}
    if needs_vocab:
        # A fuzzy clause expands against the FULL vocabulary — but the
        # vocabulary is all it needs corpus-wide. r14 (r13 verdict item
        # 5, guide §2.3/§8): the eager corpus-sized TF checkpoint is
        # replaced by the same pruned-scan shape fuzzy_match_search took
        # in r13 wave 1 — a lazily-pinned (term, df) vocabulary (vocab-
        # sized, never token-row-sized), a 1-row stats scan, and ONE
        # selected-TF scan over the union of every clause's bounded term
        # selection (fuzzy expansions + literal match terms). The sliver
        # is lazily pinned for its per-clause consumers; df rides the
        # selection, so no clause re-joins a corpus-derived df aggregate.
        df_t = _vocab_df(docs, id_col, text_col).localCheckpoint(eager=False)
        stats = _corpus_stats(docs, text_col)
        for i, (_kind, clause) in enumerate(scored):
            if _clause_key(clause, _SCORED_KEYS) == "fuzzy":
                fuzzy_sels[i] = _fuzzy_clause_selection(spark, df_t, clause)
        sel_parts = list(fuzzy_sels.values())
        if match_terms:
            sel_parts.append(df_t.filter(F.col("term").isin(match_terms)))
        sel_all = sel_parts[0]
        for p in sel_parts[1:]:
            sel_all = sel_all.unionByName(p)
        if len(sel_parts) > 1:
            sel_all = sel_all.distinct()
        tf = _selected_tf(docs, id_col, text_col, sel_all, stats).localCheckpoint(
            eager=False
        )
    elif match_terms:
        # every scored term is a literal: scan-side TF over the union of
        # all match clauses' terms — no corpus-token exchange, no eager
        # corpus-wide checkpoint (r13 optimization, guide §2.3/§2.4);
        # each clause filters its own term subset from the shared sliver
        tf, df_t = _literal_tf_with_stats(docs, id_col, text_col, match_terms)

    # Phrase clauses: build each clause's checkpointed (doc_id, dl, pf)
    # frame up front; the FIRST one's materializing aggregate also yields
    # the shared corpus stats (n_docs, sum_dl) — before r13 wave 13 those
    # came from a separate full tokenize scan (guide §1.2: one fewer
    # corpus pass + one fewer job). Later phrase clauses only pay their
    # own df count over their own checkpoint, exactly as before.
    phrase_pfs: dict[int, DataFrame] = {}
    for i, (_kind, clause) in enumerate(scored):
        if _clause_key(clause, _SCORED_KEYS) != "phrase":
            continue
        terms = query_terms(clause["phrase"])
        if not terms:
            raise ValueError("bool phrase clause has no tokenizable terms")
        slop = int(clause.get("slop", 0))
        if slop < 0:
            raise ValueError("phrase slop must be >= 0")
        phrase_pfs[i] = _phrase_pf_all(docs, id_col, text_col, terms, slop)
    n_docs = sum_dl = None
    phrase_dfs: dict[int, int] = {}
    if phrase_pfs:
        i0 = min(phrase_pfs)
        n_docs, sum_dl, phrase_dfs[i0] = _phrase_stats_and_df(phrase_pfs[i0])

    parts = []
    for i, (kind, clause) in enumerate(scored):
        key = _clause_key(clause, _SCORED_KEYS)
        boost = float(clause.get("boost", 1.0))
        if key == "match":
            terms = sorted(set(query_terms(clause["match"])))
            if not terms:
                raise ValueError("bool match clause has no tokenizable terms")
            frame = _match_frame(tf, df_t, terms,
                                 min_terms=_match_min_terms(clause, terms))
        elif key == "fuzzy":
            frame = _fuzzy_frame(tf, fuzzy_sels[i])
        elif key == "phrase":
            pf_all = phrase_pfs[i]
            df_ph = phrase_dfs.get(i)
            if df_ph is None:
                df_ph = pf_all.where(F.col("pf") > 0).count()
            frame = _phrase_score(pf_all, n_docs, sum_dl, df_ph)
        elif key == "constant_score":
            # ES constant_score: any membership clause scored as a flat
            # 1.0 x boost — the "this facet matters this much" idiom
            frame = _member_frame(docs, id_col, text_col,
                                  clause["constant_score"])
        else:  # prefix — constant_score over the prefix membership
            frame = _prefix_frame(docs, id_col, text_col, clause["prefix"])
        parts.append(
            frame.select(
                "doc_id",
                (F.col("cscore") * F.lit(boost)).alias("bscore"),
                F.lit(kind).alias("kind"),
            )
        )
    return parts


def _combine_scored(parts, n_must: int, msm: int) -> DataFrame:
    """The bool combine: union every clause frame, one keyed groupBy for
    the summed score + matched-clause counts, then the must/msm gate —
    shared verbatim by the corpus-scan and index-probing doors so the
    combination semantics can't fork."""
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return (
        u.groupBy("doc_id")
        .agg(
            F.round(F.sum("bscore"), 4).alias("score"),
            F.sum(F.when(F.col("kind") == "must", 1).otherwise(0)).alias(
                "__n_must"
            ),
            F.sum(F.when(F.col("kind") == "should", 1).otherwise(0)).alias(
                "__n_should"
            ),
        )
        .where(
            (F.col("__n_must") == n_must) & (F.col("__n_should") >= F.lit(msm))
        )
        .select("doc_id", "score")
    )


def bool_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    must=(),
    should=(),
    must_not=(),
    filter=(),
    minimum_should_match: int | None = None,
    k: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """Execute a composed bool query; returns the (doc_id, score) top-k
    page, ranked (score DESC, doc_id) like every scorer in the engine.
    See the module docstring for clause forms and combination semantics.

    ``after`` = (score, doc_id) keyset cursor — ES ``search_after`` over
    the engine's (score DESC, doc_id) total order: rows strictly past
    the cursor filter BEFORE the top-k heaps (the same tier
    bm25_search's ``after`` implements), so deep pages of a filtered
    search cost the same as page 1 — never a re-rank of the N·k
    prefix. Scores are cursor-independent (corpus-wide BM25 stats, the
    filter clauses restrict membership only), so pages are mutually
    consistent."""
    must, should = list(must), list(should)
    must_not, filter = list(must_not), list(filter)
    if not (must or should or filter):
        raise ValueError("bool query needs at least one must/should/filter clause")
    msm = (
        minimum_should_match
        if minimum_should_match is not None
        else default_msm(must, should, filter)
    )

    scored = [("must", c) for c in must] + [("should", c) for c in should]
    parts = _scored_frames(docs, id_col, text_col, scored)

    if parts:
        hits = _combine_scored(parts, len(must), msm)
    else:
        # filter-only bool: ES returns score 0 for every qualifying doc
        hits = docs.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        )

    if filter or must_not:
        has_phrase = any(
            "phrase" in _membership_kinds(c) for c in filter + must_not
        )
        if has_phrase:
            # A phrase membership test is a positional HOF over the token
            # array; tokens must be a MATERIALIZED column (an inline
            # tokenize re-runs the regex per position — HOF lambdas sit
            # outside CSE) and the boolean projection must be pinned with
            # a checkpoint, or the hits-join filter pushdown re-inlines
            # every predicate (tokenize included) into a per-row
            # re-evaluation at the scan. The checkpoint is one narrow
            # (doc_id + K booleans) frame — the same single scan, pinned.
            base = docs.select(
                F.col(id_col).alias("doc_id"),
                tokenize(text_col).alias("__toks"),
                *[
                    F.col(c)
                    for c in {
                        f
                        for cl in filter + must_not
                        for f in _clause_fields(cl)
                    }
                ],
            )
            toks = F.col("__toks")
            pred_cols = [
                _member_pred(toks, c).alias(f"__f{i}")
                for i, c in enumerate(filter)
            ] + [
                _member_pred(toks, c).alias(f"__m{i}")
                for i, c in enumerate(must_not)
            ]
            preds = base.select("doc_id", *pred_cols).localCheckpoint(
                eager=False  # r13: first consuming job materializes
            )
        elif sum(_token_leaf_count(c) for c in filter + must_not) >= 2:
            # ≥2 TOKEN leaf evaluations on one scan: each would paste its
            # own tokenize(text) into the pushed-down filter next to the
            # hits join — the regexp ran once per leaf per row (wave-3
            # seam, flagged by the plan census's multi_tokenize_filters;
            # r13 wave 14). Counting LEAVES, not clauses (r14, r13
            # advice): one nested bool holding several token leaves
            # re-inlines per leaf just the same. Pin the array so it
            # evaluates once per row; range/exists fields ride through
            # the barrier like the phrase branch's base.
            from pandemic_knowledge_spark.functions.pinning import pin

            base = pin(
                docs.select(
                    F.col(id_col).alias("doc_id"),
                    *[
                        F.col(c)
                        for c in {
                            f
                            for cl in filter + must_not
                            for f in _clause_fields(cl)
                        }
                    ],
                    F.col(text_col),
                ),
                __toks=tokenize(text_col),
            )
            toks = F.col("__toks")
            pred_cols = [
                _member_pred(toks, c).alias(f"__f{i}")
                for i, c in enumerate(filter)
            ] + [
                _member_pred(toks, c).alias(f"__m{i}")
                for i, c in enumerate(must_not)
            ]
            preds = base.select("doc_id", *pred_cols)
        else:
            toks = tokenize(text_col)
            pred_cols = [
                _member_pred(toks, c).alias(f"__f{i}")
                for i, c in enumerate(filter)
            ] + [
                _member_pred(toks, c).alias(f"__m{i}")
                for i, c in enumerate(must_not)
            ]
            preds = docs.select(F.col(id_col).alias("doc_id"), *pred_cols)
        cond = F.lit(True)
        for i in range(len(filter)):
            cond = cond & F.col(f"__f{i}")
        for i in range(len(must_not)):
            # NULL-safe negation: a pred over a missing field (or null
            # text) evaluates NULL; ES treats "field absent" as "query
            # does not match", so a must_not must KEEP the doc — bare
            # ~NULL is NULL and the where() would drop it (three-valued
            # logic; the DuckDB twin uses the same coalesce)
            cond = cond & ~F.coalesce(F.col(f"__m{i}"), F.lit(False))
        hits = hits.join(preds, "doc_id").where(cond).select("doc_id", "score")

    if after is not None:
        c_score, c_id = after
        hits = hits.where(
            (F.col("score") < F.lit(c_score))
            | ((F.col("score") == F.lit(c_score))
               & (F.col("doc_id") > F.lit(c_id)))
        )
    return hits.orderBy(F.desc("score"), F.col("doc_id")).limit(k)


# ----------------------------------------------------------------- SQL twin


def _sql_term_score() -> str:
    return (
        "ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))"
        f" * (tf.tf * ({BM25_K1} + 1))"
        f" / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl"
        " / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))"
    )


def _sql_phrase_conds(terms: list[str], arr: str = "toks") -> str:
    return " AND ".join(
        f"{arr}[i + {j}] = {_sql_lit(t)}" for j, t in enumerate(terms)
    )


def _sql_range_lit(v) -> str:
    """A range bound as a DuckDB literal — strings quoted (dates compare
    lexicographically as in Spark), numbers via repr (exact ints, shortest
    round-trip doubles — the same literal Spark's F.lit folds in)."""
    if isinstance(v, bool):
        raise ValueError("range bounds must be numbers or strings")
    if isinstance(v, str):
        return _sql_lit(v)
    if isinstance(v, (int, float)):
        return repr(v)
    raise ValueError(f"range bounds must be numbers or strings, got {type(v)}")


def _sql_member_pred(clause: dict, field_src: str | None = None) -> str:
    key = _clause_key(clause, _MEMBER_KEYS)
    if key == "bool":
        spec = clause["bool"]
        unknown = set(spec) - {"must", "should", "must_not", "filter",
                               "minimum_should_match"}
        if unknown:
            raise ValueError(f"nested bool: unsupported keys {sorted(unknown)}")
        must = list(spec.get("must", ())) + list(spec.get("filter", ()))
        should = list(spec.get("should", ()))
        must_not = list(spec.get("must_not", ()))
        if not (must or should or must_not):
            raise ValueError("nested bool needs at least one clause")
        parts = [
            f"coalesce({_sql_member_pred(c, field_src)}, FALSE)" for c in must
        ] + [
            f"NOT coalesce({_sql_member_pred(c, field_src)}, FALSE)"
            for c in must_not
        ]
        if should:
            msm = int(spec.get("minimum_should_match", 1 if not must else 0))
            if msm > 0:
                n = " + ".join(
                    f"CAST(coalesce({_sql_member_pred(c, field_src)}, FALSE)"
                    " AS INT)"
                    for c in should
                )
                parts.append(f"(({n}) >= {msm})")
        return "(" + " AND ".join(parts) + ")" if parts else "TRUE"
    if key in ("range", "exists"):
        if field_src is None:
            raise ValueError(
                f"{key} clauses need raw field columns — supported in bool "
                "filter/must_not context only"
            )
        if key == "exists":
            return f"{field_src}.{clause['exists']['field']} IS NOT NULL"
        field, bounds = _range_parts(clause)
        sql_op = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
        return "(" + " AND ".join(
            f"{field_src}.{field} {sql_op[op]} {_sql_range_lit(v)}"
            for op, v in sorted(bounds.items())
        ) + ")"
    if key == "term":
        return f"list_contains(toks, {_sql_lit(clause['term'])})"
    if key == "match":
        terms = sorted(set(query_terms(clause["match"])))
        lits = ", ".join(_sql_lit(t) for t in terms)
        min_terms = _match_min_terms(clause, terms)
        if min_terms == 1:
            return f"len(list_intersect(toks, [{lits}])) > 0"
        return (
            f"len(list_intersect(list_distinct(toks), [{lits}]))"
            f" >= {min_terms}"
        )
    if key == "prefix":
        return (
            "len(list_filter(toks, x -> x LIKE "
            + _sql_lit(clause["prefix"] + "%")
            + ")) > 0"
        )
    terms = query_terms(clause["phrase"])
    m = len(terms)
    slop = int(clause.get("slop", 0))
    if slop < 0:
        raise ValueError("phrase slop must be >= 0")
    conds = (
        _sql_phrase_conds(terms)
        if slop == 0
        else sql_span_conds(terms, slop, arr="toks")
    )
    return (
        f"(len(toks) >= {m} AND len(list_filter(range(1, len(toks) - {m} + 2),"
        f" i -> {conds})) > 0)"
    )


def _sql_fuzzy_sel_ctes(i: int, clause: dict) -> tuple[str, str]:
    """The fuzzy expansion CTE chain (suffixed per clause), mirroring
    operators.search.sql_fuzzy_match_search's — same AUTO bands, same
    (distance, df DESC, term) cap."""
    q_terms = sorted(set(query_terms(clause["fuzzy"])))
    max_expansions = int(clause.get("max_expansions", 50))
    prefix_length = int(clause.get("prefix_length", 0))
    bands = [(t, fuzzy_auto_band(len(t))) for t in q_terms]
    exact_terms = sorted(t for t, b in bands if b == 0)
    fuzz = [(t, b) for t, b in bands if b > 0]
    parts, srcs = [], []
    if fuzz:
        qt_vals = ", ".join(f"({_sql_lit(t)}, {b})" for t, b in fuzz)
        pref = (
            f"\n    AND substr(dft.term, 1, {prefix_length})"
            f" = substr(qt{i}.qterm, 1, {prefix_length})"
            if prefix_length > 0
            else ""
        )
        parts.append(
            f"""qt{i}(qterm, band) AS (
  VALUES {qt_vals}
), cand{i} AS (
  SELECT dft.term, dft.df, qt{i}.qterm,
         levenshtein(dft.term, qt{i}.qterm) AS distance
  FROM dft, qt{i}
  WHERE abs(length(dft.term) - length(qt{i}.qterm)) <= qt{i}.band
    AND levenshtein(dft.term, qt{i}.qterm) <= qt{i}.band{pref}
), exp{i} AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (
      PARTITION BY qterm ORDER BY distance, df DESC, term) AS rnk
    FROM cand{i}
  ) WHERE rnk <= {max_expansions}
)"""
        )
        srcs.append(f"SELECT term FROM exp{i}")
    if exact_terms:
        srcs.append(
            " UNION ALL ".join(
                f"SELECT {_sql_lit(t)} AS term" for t in exact_terms
            )
        )
    sel = f"sel{i} AS (SELECT DISTINCT term FROM ({' UNION ALL '.join(srcs)}))"
    parts.append(sel)
    return ", ".join(parts), f"sel{i}"


def sql_bool_search(
    table: str,
    id_col: str,
    text_col: str,
    *,
    must=(),
    should=(),
    must_not=(),
    filter=(),
    minimum_should_match: int | None = None,
    k: int = 10,
    after: tuple | None = None,
) -> str:
    """DuckDB SQL reproducing :func:`bool_search` exactly — one CTE per
    clause with the identical score arithmetic (raw-double clause scores,
    boost, ONE round at 4 dp on the combined sum — see the module
    docstring's double-rounding note), the same msm/must counting,
    membership via one preds CTE over the shared token arrays; ``after``
    mirrors the keyset cursor (strictly past (score, doc_id))."""
    must, should = list(must), list(should)
    must_not, filter = list(must_not), list(filter)
    if not (must or should or filter):
        raise ValueError("bool query needs at least one must/should/filter clause")
    msm = (
        minimum_should_match
        if minimum_should_match is not None
        else default_msm(must, should, filter)
    )
    scored = [("must", c) for c in must] + [("should", c) for c in should]

    ctes = [_sql_tf_prelude(table, id_col, text_col)]
    clause_sel = []  # (cte_name, kind)
    for i, (kind, clause) in enumerate(scored):
        key = _clause_key(clause, _SCORED_KEYS)
        boost = float(clause.get("boost", 1.0))
        name = f"c{i}"
        if key == "match":
            terms = sorted(set(query_terms(clause["match"])))
            lits = ", ".join(_sql_lit(t) for t in terms)
            min_terms = _match_min_terms(clause, terms)
            having = (
                f"\n  HAVING count(*) >= {min_terms}" if min_terms > 1 else ""
            )
            ctes.append(
                f"""{name} AS (
  SELECT tf.doc_id, sum({_sql_term_score()}) * {boost!r} AS bscore
  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
  WHERE tf.term IN ({lits})
  GROUP BY tf.doc_id{having}
)"""
            )
        elif key == "fuzzy":
            sel_ctes, sel_name = _sql_fuzzy_sel_ctes(i, clause)
            ctes.append(sel_ctes)
            ctes.append(
                f"""{name} AS (
  SELECT tf.doc_id, sum({_sql_term_score()}) * {boost!r} AS bscore
  FROM tf JOIN {sel_name} ON tf.term = {sel_name}.term
  JOIN dft ON tf.term = dft.term CROSS JOIN stats
  GROUP BY tf.doc_id
)"""
            )
        elif key == "phrase":
            terms = query_terms(clause["phrase"])
            m = len(terms)
            slop = int(clause.get("slop", 0))
            if slop < 0:
                raise ValueError("phrase slop must be >= 0")
            conds = (
                _sql_phrase_conds(terms)
                if slop == 0
                else sql_span_conds(terms, slop, arr="toks")
            )
            ctes.append(
                f"""ph{i} AS (
  SELECT doc_id, dl,
         len(list_filter(range(1, len(toks) - {m} + 2),
             i -> {conds})) AS pf
  FROM base2 WHERE len(toks) >= {m}
), ph{i}m AS (SELECT doc_id, dl, pf FROM ph{i} WHERE pf > 0),
ph{i}df AS (SELECT count(*) AS df FROM ph{i}m),
{name} AS (
  SELECT doc_id,
         ln(1.0 + (stats.n_docs - ph{i}df.df + 0.5) / (ph{i}df.df + 0.5))
           * (pf * ({BM25_K1} + 1))
           / (pf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl
              / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
           * {boost!r} AS bscore
  FROM ph{i}m CROSS JOIN ph{i}df CROSS JOIN stats
)"""
            )
        elif key == "constant_score":
            inner = clause["constant_score"]
            if _clause_key(inner, _MEMBER_KEYS) in ("range", "exists"):
                pred = _sql_member_pred(inner, "_r")
                frm = f"base2 JOIN {table} _r ON base2.doc_id = _r.{id_col}"
            else:
                pred = _sql_member_pred(inner)
                frm = "base2"
            ctes.append(
                f"""{name} AS (
  SELECT base2.doc_id AS doc_id, CAST(1.0 * {boost!r} AS DOUBLE) AS bscore
  FROM {frm} WHERE {pred}
)"""
            )
        else:  # prefix
            pred = (
                "len(list_filter(toks, x -> x LIKE "
                + _sql_lit(clause["prefix"] + "%")
                + ")) > 0"
            )
            ctes.append(
                f"""{name} AS (
  SELECT doc_id, CAST(1.0 * {boost!r} AS DOUBLE) AS bscore
  FROM base2 WHERE {pred}
)"""
            )
        clause_sel.append((name, kind))

    if clause_sel:
        union = " UNION ALL ".join(
            f"SELECT doc_id, bscore, '{kind}' AS kind FROM {name}"
            for name, kind in clause_sel
        )
        ctes.append(
            f"""u AS ({union}),
agg AS (
  SELECT doc_id, round(sum(bscore), 4) AS score,
         count(CASE WHEN kind = 'must' THEN 1 END) AS n_must,
         count(CASE WHEN kind = 'should' THEN 1 END) AS n_should
  FROM u GROUP BY doc_id
),
hits AS (
  SELECT doc_id, score FROM agg
  WHERE n_must = {len(must)} AND n_should >= {msm}
)"""
        )
    else:
        ctes.append(
            "hits AS (SELECT doc_id, CAST(0.0 AS DOUBLE) AS score FROM base2)"
        )

    where = ""
    if filter or must_not:
        needs_fields = any(
            _membership_kinds(c) & {"range", "exists"}
            for c in filter + must_not
        )
        src = "_r" if needs_fields else None
        pred_cols = ", ".join(
            [f"{_sql_member_pred(c, src)} AS f{i}" for i, c in enumerate(filter)]
            + [f"{_sql_member_pred(c, src)} AS m{i}"
               for i, c in enumerate(must_not)]
        )
        # range/exists read raw field columns: join the source table back
        # on the id (1:1 — base2 is one row per doc) only when needed
        frm = (
            f"base2 JOIN {table} _r ON base2.doc_id = _r.{id_col}"
            if needs_fields
            else "base2"
        )
        ctes.append(
            f"preds AS (SELECT base2.doc_id AS doc_id, {pred_cols} FROM {frm})"
        )
        conds = [f"preds.f{i}" for i in range(len(filter))] + [
            # NULL-safe: missing field -> pred NULL -> must_not keeps the
            # doc (ES semantics), mirrored in the Spark door
            f"NOT coalesce(preds.m{i}, FALSE)" for i in range(len(must_not))
        ]
        where = (
            "\nJOIN preds ON hits.doc_id = preds.doc_id\nWHERE "
            + " AND ".join(conds)
        )

    if after is not None:
        c_score, c_id = after
        id_lit = _sql_lit(c_id) if isinstance(c_id, str) else repr(c_id)
        cursor = (
            f"(hits.score < {float(c_score)!r} OR (hits.score = "
            f"{float(c_score)!r} AND hits.doc_id > {id_lit}))"
        )
        where = (f"{where} AND {cursor}" if where
                 else f"\nWHERE {cursor}")

    return f"""
WITH {', '.join(ctes)}
SELECT hits.doc_id, hits.score FROM hits{where}
ORDER BY score DESC, hits.doc_id LIMIT {k}
"""


# ----------------------------------------------------------------- dis_max


def dis_max_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    clauses,
    tie_breaker: float = 0.0,
    k: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """ES ``dis_max`` compound query: a doc matching several clauses takes
    its BEST clause score plus ``tie_breaker`` times each other matching
    clause — ``score = max + tie_breaker · (sum − max)`` — the
    best-single-field semantics multi_match best_fields is sugar for,
    exposed for arbitrary clause mixes (match/phrase/prefix/fuzzy, same
    specs as the bool door). tie_breaker=0 is pure dis-max; 1.0 degrades
    to the bool should-sum. Same clause compilation as
    :func:`bool_search` (one shared TF scan), one union + keyed groupBy,
    top-k. ``after`` = the (score, doc_id) keyset cursor — strictly past
    the cursor BEFORE the top-k heaps, the shared search_after tier."""
    clauses = list(clauses)
    if not clauses:
        raise ValueError("dis_max needs at least one clause")
    tb = float(tie_breaker)
    parts = _scored_frames(
        docs, id_col, text_col, [("should", c) for c in clauses]
    )
    u = reduce(lambda a, b: a.unionByName(b), parts)
    scored = (
        u.groupBy("doc_id")
        .agg(F.max("bscore").alias("__mx"), F.sum("bscore").alias("__sm"))
        .select(
            "doc_id",
            F.round(
                F.col("__mx") + F.lit(tb) * (F.col("__sm") - F.col("__mx")), 4
            ).alias("score"),
        )
    )
    if after is not None:
        c_score, c_id = after
        scored = scored.where(
            (F.col("score") < F.lit(c_score))
            | ((F.col("score") == F.lit(c_score))
               & (F.col("doc_id") > F.lit(c_id)))
        )
    return scored.orderBy(F.desc("score"), F.col("doc_id")).limit(k)


def sql_dis_max_search(
    table: str,
    id_col: str,
    text_col: str,
    clauses,
    tie_breaker: float = 0.0,
    k: int = 10,
) -> str:
    """DuckDB SQL reproducing :func:`dis_max_search` exactly — the bool
    door's per-clause CTEs with the max + tie_breaker·(sum−max) combine."""
    clauses = list(clauses)
    if not clauses:
        raise ValueError("dis_max needs at least one clause")
    tb = float(tie_breaker)
    # reuse the bool emitter's clause CTEs by rendering a should-only bool
    # and swapping the combine: regenerate the clause list here to keep the
    # arithmetic in one visible place
    bool_sql = sql_bool_search(
        table, id_col, text_col, should=clauses, minimum_should_match=1, k=k
    )
    # the bool emitter ends with: u AS (...), agg AS (...), hits AS (...)
    # SELECT ... ; splice our combine after its `u` CTE instead.
    head, _, _ = bool_sql.partition("agg AS (")
    head = head.rstrip().rstrip(",")
    return f"""{head},
dm AS (
  SELECT doc_id,
         round(max(bscore) + {tb!r} * (sum(bscore) - max(bscore)), 4) AS score
  FROM u GROUP BY doc_id
)
SELECT doc_id, score FROM dm
ORDER BY score DESC, doc_id LIMIT {k}
"""


# ------------------------------------------------------------ query_string

_QS_TOKEN = re.compile(r'([+-]?)("([^"]*)"(?:~(\d+))?|[^\s]+)')


def _negated_token_clause(tok: str) -> dict:
    """A ``-token`` exclusion as an EXECUTABLE membership clause: the term
    must be the ANALYZED form — tokens are [a-z0-9]+ only, so a raw
    punctuated term ('-covid-19' -> {"term": "covid-19"}) could never
    equal any corpus token and the exclusion would be a silent no-op
    (r10 review find). Single analyzed term -> exact term; multi-term
    analysis ('covid-19' -> covid, 19) -> an analyzed match must_not
    (excludes docs holding ANY sub-term — the conservative exclusion)."""
    terms = query_terms(tok)
    if len(terms) == 1:
        return {"term": terms[0]}
    return {"match": " ".join(terms)}


def parse_query_string(q: str) -> dict:
    """The ES ``query_string`` mini-language → bool clause lists — the
    user-typed search-box syntax (Lucene classic syntax subset):

    - ``+token``  → must clause, ``-token`` → must_not, bare → should
    - ``"a b c"`` → exact phrase (works with +/- prefixes); ``"a b"~N``
      → phrase with slop N (Lucene proximity syntax)
    - ``tok*``    → prefix clause (trailing-wildcard rewrite)
    - ``tok~``    → fuzzy clause, AUTO edit band (``-tok~`` demotes to an
      exact-token ``term`` must_not, same as bare ``-tok`` — membership
      clauses have no expansion set)
    - anything else → match clause (analyzed with the corpus tokenizer)

    Every branch drops tokens with no tokenizable content (``~~`` → the
    fuzzy base ``~`` analyzes to nothing → no clause), so every emitted
    clause is executable by bool_search — the parser is total AND its
    output is total (the r9 advisor found '~~'/'-.~' raising downstream).

    Parsing is driver-side and deterministic, so the DuckDB oracle for a
    query string is simply ``sql_bool_search(**parse_query_string(q))`` —
    the parsed form IS the contract."""
    must, should, must_not = [], [], []
    for m in _QS_TOKEN.finditer(q):
        sign, tok, quoted, slop = (
            m.group(1), m.group(2), m.group(3), m.group(4),
        )
        if quoted is not None:
            if not query_terms(quoted):
                continue
            clause = {"phrase": quoted.lower()}
            if slop is not None and int(slop) > 0:
                clause["slop"] = int(slop)
        elif tok.endswith("*") and len(tok) > 1:
            if not query_terms(tok[:-1]):
                continue
            clause = {"prefix": tok[:-1].lower()}
        elif tok.endswith("~") and len(tok) > 1:
            if not query_terms(tok[:-1]):
                continue
            if sign == "-":
                clause = _negated_token_clause(tok[:-1])
            else:
                clause = {"fuzzy": tok[:-1].lower()}
        else:
            if not query_terms(tok):
                continue
            clause = (
                {"match": tok.lower()}
                if sign != "-"
                else _negated_token_clause(tok)
            )
        if sign == "+":
            must.append(clause)
        elif sign == "-":
            # membership context: match→term keeps -word exact (done
            # above); phrase/prefix pass through unchanged
            must_not.append(clause)
        else:
            should.append(clause)
    return {"must": must, "should": should, "must_not": must_not}


def query_string_search(
    docs: DataFrame, id_col: str, text_col: str, q: str, k: int = 10
) -> DataFrame:
    """Execute an ES ``query_string`` query: parse the mini-language
    (:func:`parse_query_string`) and run the resulting bool query.

    The door is TOTAL on raw keystrokes: a query that parses to no
    positive clause (all-garbage input like ``!!!``/``~~``, or a
    pure-negative query like ``-vector``) returns the empty hit frame —
    Lucene's classic parser likewise matches nothing for pure-negative
    queries, and a search box must never 500 on punctuation."""
    parsed = parse_query_string(q)
    if not (parsed["must"] or parsed["should"]):
        return docs.select(
            F.col(id_col).alias("doc_id"),
            F.lit(0.0).cast("double").alias("score"),
        ).limit(0)
    return bool_search(docs, id_col, text_col, k=k, **parsed)


# ---------------------------------------------------------------- boosting


def boosting_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    positive: dict,
    negative: dict,
    negative_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES ``boosting`` compound query: rank by the ``positive`` clause,
    but DEMOTE (not exclude) docs matching the ``negative`` clause by
    multiplying their score by ``negative_boost`` — the soft version of
    must_not ("prefer fresh articles, don't hide stale ones"). positive
    takes any scored clause spec; negative any membership spec. One
    scored-clause plan plus the single membership-predicate scan joined
    once — the bool door's exact machinery with a multiply instead of an
    anti-join."""
    nb = float(negative_boost)
    parts = _scored_frames(docs, id_col, text_col, [("must", positive)])
    toks = tokenize(text_col)
    preds = docs.select(
        F.col(id_col).alias("doc_id"),
        _member_pred(toks, negative).alias("__neg"),
    )
    return (
        parts[0]
        .join(preds, "doc_id")
        .select(
            "doc_id",
            F.round(
                F.col("bscore")
                * F.when(F.col("__neg"), F.lit(nb)).otherwise(F.lit(1.0)),
                4,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def sql_boosting_search(
    table: str,
    id_col: str,
    text_col: str,
    positive: dict,
    negative: dict,
    negative_boost: float = 0.5,
    k: int = 10,
) -> str:
    """DuckDB SQL reproducing :func:`boosting_search` exactly."""
    nb = float(negative_boost)
    bool_sql = sql_bool_search(
        table, id_col, text_col, must=[positive], k=k
    )
    head, _, _ = bool_sql.partition("agg AS (")
    head = head.rstrip().rstrip(",")
    neg = _sql_member_pred(negative)
    return f"""{head},
preds AS (SELECT doc_id, {neg} AS neg FROM base2),
bq AS (
  SELECT u.doc_id,
         round(u.bscore * (CASE WHEN preds.neg THEN {nb!r} ELSE 1.0 END), 4)
           AS score
  FROM u JOIN preds ON u.doc_id = preds.doc_id
)
SELECT doc_id, score FROM bq
ORDER BY score DESC, doc_id LIMIT {k}
"""


# ----------------------------------------------------------- function_score

_FVF_MODIFIERS = ("none", "log1p", "sqrt")
_SCORE_MODES = ("multiply", "sum")
_BOOST_MODES = ("multiply", "sum")


def _function_factor(fn: dict, toks, score_mode: str):
    """One function spec → its per-doc factor Column (over the raw docs
    scan: field columns and the shared token array are both in scope).
    A filtered weight is NEUTRAL where the filter misses (1 under
    multiply, 0 under sum) — exactly ES's "only matching functions
    participate" combine, expressed without a per-function frame."""
    if "field_value_factor" in fn:
        spec = fn["field_value_factor"]
        factor = float(spec.get("factor", 1.0))
        modifier = spec.get("modifier", "none")
        if modifier not in _FVF_MODIFIERS:
            raise ValueError(
                f"field_value_factor modifier must be one of {_FVF_MODIFIERS}"
            )
        missing = float(spec.get("missing", 1.0))
        v = F.coalesce(F.col(spec["field"]).cast("double"), F.lit(missing)) * F.lit(
            factor
        )
        if modifier == "log1p":
            v = F.log(F.lit(1.0) + v)
        elif modifier == "sqrt":
            v = F.sqrt(v)
        if fn.get("filter") is not None:
            neutral = 1.0 if score_mode == "multiply" else 0.0
            v = F.when(_member_pred(toks, fn["filter"]), v).otherwise(F.lit(neutral))
        return v
    if "weight" in fn:
        w = float(fn["weight"])
        if fn.get("filter") is not None:
            neutral = 1.0 if score_mode == "multiply" else 0.0
            return F.when(
                _member_pred(toks, fn["filter"]), F.lit(w)
            ).otherwise(F.lit(neutral))
        return F.lit(w)
    raise ValueError(
        f"function_score function needs field_value_factor or weight, got {sorted(fn)}"
    )


def function_score_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: dict,
    functions: list[dict],
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    max_boost: float | None = None,
    k: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """ES ``function_score`` compound query — the last widely-used
    compound door (r9 verdict Missing #2): rank by any scored clause,
    then reshape each hit's score with document-value functions:

    - ``{"field_value_factor": {"field", "factor", "modifier":
      none|log1p|sqrt, "missing"}}`` — boost by a numeric column
      (recency, popularity, length), optionally gated by a ``filter``
      membership clause,
    - ``{"weight": w, "filter": <membership clause>}`` — constant factor
      for docs matching the filter (the per-segment boost Searchkit
      emits for "boost category X"); filterless weight applies to all.

    ``score_mode`` combines the function values (multiply/sum — a
    filtered-out function is neutral: 1/0 respectively), ``max_boost``
    caps the combined function value, ``boost_mode`` combines it with the
    query score (multiply/sum). One round at 4 dp on the final score (the
    module's single-round idiom).

    Plan: the query's scored frame (bool-door machinery — one TF scan)
    joins ONE raw-docs projection computing every function column in a
    single pass; the combine is pure row arithmetic — no extra shuffle
    beyond the base scorer's."""
    if not functions:
        raise ValueError("function_score needs at least one function")
    if score_mode not in _SCORE_MODES or boost_mode not in _BOOST_MODES:
        raise ValueError(f"score_mode/boost_mode must be in {_SCORE_MODES}")
    scored = _scored_frames(docs, id_col, text_col, [("must", query)])[0]
    toks = tokenize(text_col)
    facs = docs.select(
        F.col(id_col).alias("doc_id"),
        *[
            _function_factor(fn, toks, score_mode).alias(f"__f{i}")
            for i, fn in enumerate(functions)
        ],
    )
    cols = [F.col(f"__f{i}") for i in range(len(functions))]
    combined = reduce(
        (lambda a, b: a * b) if score_mode == "multiply" else (lambda a, b: a + b),
        cols,
    )
    if max_boost is not None:
        combined = F.least(combined, F.lit(float(max_boost)))
    final = (
        F.col("bscore") * combined
        if boost_mode == "multiply"
        else F.col("bscore") + combined
    )
    out = (
        scored.join(facs, "doc_id")
        .select("doc_id", F.round(final, 4).alias("score"))
    )
    if after is not None:
        # the (score, doc_id) keyset cursor — strictly past the cursor
        # BEFORE the top-k heaps, the shared search_after tier
        c_score, c_id = after
        out = out.where(
            (F.col("score") < F.lit(c_score))
            | ((F.col("score") == F.lit(c_score))
               & (F.col("doc_id") > F.lit(c_id)))
        )
    return out.orderBy(F.desc("score"), F.col("doc_id")).limit(k)


def _sql_function_factor(fn: dict, score_mode: str) -> str:
    """The DuckDB twin of :func:`_function_factor` — field columns come
    from the fvals join (range/exists filter fields included), token
    membership from base2.toks."""
    if "field_value_factor" in fn:
        spec = fn["field_value_factor"]
        factor = float(spec.get("factor", 1.0))
        modifier = spec.get("modifier", "none")
        if modifier not in _FVF_MODIFIERS:
            raise ValueError(
                f"field_value_factor modifier must be one of {_FVF_MODIFIERS}"
            )
        missing = float(spec.get("missing", 1.0))
        v = f"(coalesce(CAST({spec['field']} AS DOUBLE), {missing!r}) * {factor!r})"
        if modifier == "log1p":
            v = f"ln(1.0 + {v})"
        elif modifier == "sqrt":
            v = f"sqrt({v})"
        if fn.get("filter") is not None:
            neutral = "1.0" if score_mode == "multiply" else "0.0"
            pred = _sql_member_pred(fn["filter"], "fvals")
            v = f"(CASE WHEN {pred} THEN {v} ELSE {neutral} END)"
        return v
    if "weight" in fn:
        w = float(fn["weight"])
        if fn.get("filter") is not None:
            neutral = "1.0" if score_mode == "multiply" else "0.0"
            pred = _sql_member_pred(fn["filter"], "fvals")
            return f"(CASE WHEN {pred} THEN {w!r} ELSE {neutral} END)"
        return f"CAST({w!r} AS DOUBLE)"
    raise ValueError(
        f"function_score function needs field_value_factor or weight, got {sorted(fn)}"
    )


def sql_function_score_search(
    table: str,
    id_col: str,
    text_col: str,
    query: dict,
    functions: list[dict],
    score_mode: str = "multiply",
    boost_mode: str = "multiply",
    max_boost: float | None = None,
    k: int = 10,
) -> str:
    """DuckDB SQL reproducing :func:`function_score_search` exactly —
    splices the bool emitter's clause CTEs (the ``agg AS (`` partition,
    same as dis_max/boosting) and computes the function columns over
    base2.toks + an fvals join for raw field columns."""
    if not functions:
        raise ValueError("function_score needs at least one function")
    if score_mode not in _SCORE_MODES or boost_mode not in _BOOST_MODES:
        raise ValueError(f"score_mode/boost_mode must be in {_SCORE_MODES}")
    bool_sql = sql_bool_search(table, id_col, text_col, must=[query], k=k)
    head, _, _ = bool_sql.partition("agg AS (")
    head = head.rstrip().rstrip(",")
    fields = sorted(
        {
            fn["field_value_factor"]["field"]
            for fn in functions
            if "field_value_factor" in fn
        }
        | {
            f
            for fn in functions
            if fn.get("filter") is not None
            for f in _clause_fields(fn["filter"])
        }
    )
    field_sel = "".join(f", {f}" for f in fields)
    fac_exprs = [
        f"{_sql_function_factor(fn, score_mode)} AS f{i}"
        for i, fn in enumerate(functions)
    ]
    op = " * " if score_mode == "multiply" else " + "
    combined = "(" + op.join(f"f{i}" for i in range(len(functions))) + ")"
    if max_boost is not None:
        combined = f"least({combined}, {float(max_boost)!r})"
    final = (
        f"u.bscore * {combined}"
        if boost_mode == "multiply"
        else f"u.bscore + {combined}"
    )
    return f"""{head},
fvals AS (SELECT {id_col} AS fdoc_id{field_sel} FROM {table}),
funcs AS (
  SELECT base2.doc_id, {', '.join(fac_exprs)}
  FROM base2 JOIN fvals ON base2.doc_id = fvals.fdoc_id
),
fs AS (
  SELECT u.doc_id, round({final}, 4) AS score
  FROM u JOIN funcs ON u.doc_id = funcs.doc_id
)
SELECT doc_id, score FROM fs
ORDER BY score DESC, doc_id LIMIT {k}
"""


# ---------------------------------------------------------------- collapse


def collapse_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    collapse_col: str,
    k: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """ES field ``collapse``: the ranked result page keeps only the BEST
    hit per distinct ``collapse_col`` value (one article per source, one
    product per brand — the dedup-at-display ES feature Searchkit exposes
    as "group by field"). Output (collapse value, doc_id, score), ranked
    (score DESC, doc_id) over the representatives, top-k.

    Plan: the full BM25 score frame (matched docs only) joins the
    (id, collapse field) projection once — 1:1 on the unique doc id —
    then ONE window rank per collapse value picks the representative
    (WindowGroupLimit pushes the rank-1 filter below the shuffle), and a
    TakeOrderedAndProject cuts the page. No corpus sort, no second scan."""
    # the UNLIMITED per-doc BM25 aggregate (a per-clause top-k cut before
    # collapsing would silently drop a value's best representative)
    scored = _scored_frames(
        docs, id_col, text_col, [("must", {"match": query})]
    )[0]
    from pyspark.sql.window import Window

    fields = docs.select(
        F.col(id_col).alias("doc_id"), F.col(collapse_col).alias("collapse_key")
    )
    w = Window.partitionBy("collapse_key").orderBy(
        F.desc("bscore"), F.col("doc_id")
    )
    reps = (
        scored.join(fields, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "collapse_key",
            "doc_id",
            F.round(F.col("bscore"), 4).alias("score"),
        )
    )
    if after is not None:
        # ES search_after over a collapsed list pages by the
        # REPRESENTATIVES' (score, doc_id) — the cursor filters groups
        # after the rank-1 cut (a group whose best hit sorts before the
        # cursor is gone even if a lesser member would qualify), before
        # the top-k heaps
        c_score, c_id = after
        reps = reps.where(
            (F.col("score") < F.lit(c_score))
            | ((F.col("score") == F.lit(c_score))
               & (F.col("doc_id") > F.lit(c_id)))
        )
    return reps.orderBy(F.desc("score"), F.col("doc_id")).limit(k)


def sql_collapse_search(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    collapse_col: str,
    k: int = 10,
    after: tuple | None = None,
) -> str:
    """DuckDB SQL reproducing :func:`collapse_search` exactly (``after``
    = the representatives-page keyset cursor)."""
    bool_sql = sql_bool_search(
        table, id_col, text_col, must=[{"match": query}], k=k
    )
    head, _, _ = bool_sql.partition("agg AS (")
    head = head.rstrip().rstrip(",")
    cursor = ""
    if after is not None:
        c_score, c_id = after
        id_lit = _sql_lit(c_id) if isinstance(c_id, str) else repr(c_id)
        cursor = (
            f" AND (score < {float(c_score)!r} OR (score = "
            f"{float(c_score)!r} AND doc_id > {id_lit}))"
        )
    return f"""{head},
fields AS (SELECT {id_col} AS doc_id, {collapse_col} AS collapse_key FROM {table}),
reps AS (
  SELECT collapse_key, doc_id, round(bscore, 4) AS score,
         row_number() OVER (
           PARTITION BY collapse_key ORDER BY bscore DESC, doc_id
         ) AS rn
  FROM u JOIN fields USING (doc_id)
)
SELECT collapse_key, doc_id, score FROM reps WHERE rn = 1{cursor}
ORDER BY score DESC, doc_id LIMIT {k}
"""


# -------------------------------------------------------- indexed bool door


def _index_match_frame(index, terms, min_terms: int = 1) -> DataFrame:
    """Full (doc_id, cscore) BM25 frame for a term set, scored entirely
    from the bucket-pruned postings — the unlimited form of
    operators.search.bm25_from_postings (its term-score rows, the
    index's integer corpus stats as literals, so the indexed door equals
    the corpus door to the bit). ``terms`` are tokens (query terms or
    dictionary terms), inlined space-joined. ``min_terms`` enforces the
    match clause's term-level control (operator and /
    minimum_should_match) as a count in the same grouped aggregation —
    postings hold one row per (term, doc)."""
    n_docs, sum_dl = index.corpus_stats
    having = f" HAVING count(1) >= {int(min_terms)}" if min_terms > 1 else ""
    return sql_over(
        "SELECT doc_id, sum(term_score) AS cscore FROM "
        f"{_postings_scores_sql(n_docs, sum_dl)} GROUP BY doc_id{having}",
        rows=_query_rows(index.postings, " ".join(terms)),
    )


def _index_phrase_frame(index, phrase: str, slop: int = 0) -> DataFrame:
    """Scored phrase clause from the positional tier: pf from the
    positional postings (the shift-intersect counter at slop=0, the
    per-doc position-array span search otherwise — both identical to the
    corpus-side counters), dl from the doc_ids sidecar, corpus constants
    as literals — the same pseudo-term BM25 expression as the corpus-scan
    :func:`_phrase_score`."""
    from pandemic_knowledge_spark.operators.search import (
        phrase_counts_from_postings,
        span_counts_from_postings,
    )

    if index.positional is None:
        raise ValueError(
            "indexed bool phrase clause needs a positional index: build "
            "with positional=True (and save() to persist)"
        )
    counts = (
        phrase_counts_from_postings(index.positional, phrase)
        if slop == 0
        else span_counts_from_postings(index.positional, phrase, slop)
    )
    pf = (
        counts
        .withColumnRenamed("phrase_count", "pf")
        .localCheckpoint(eager=False)  # count() below materializes (r13)
    )
    df_ph = pf.count()
    n_docs, sum_dl = index.corpus_stats
    joined = pf.join(index.doc_ids.select("doc_id", "dl"), "doc_id")
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_ph + F.lit(0.5)) / (F.lit(df_ph) + F.lit(0.5))
    )
    tf_part = (F.col("pf") * (BM25_K1 + 1)) / (
        F.col("pf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    return joined.select("doc_id", (idf * tf_part).alias("cscore"))


def _index_member_frame(index, clause: dict) -> DataFrame:
    """Membership clause as a doc-id frame from the index artifacts alone:
    term/match/prefix prune the postings (bucket partitions for exact
    terms, term-sorted row groups for prefixes), phrase probes the
    positional tier. Each is semi/anti-joined against the hits frame."""
    from pandemic_knowledge_spark.operators.search import (
        _term_rows,
        phrase_counts_from_postings,
        span_counts_from_postings,
    )

    key = _clause_key(clause, _MEMBER_KEYS)
    if key in ("range", "exists", "bool"):
        # range/exists need raw field columns the index does not carry;
        # nested-bool membership composition is corpus-door-only for now
        raise ValueError(
            f"{key} clauses are not answerable from index artifacts alone "
            "— use the corpus door (bool_search)"
        )
    p = index.postings
    if key == "term":
        return _term_rows(p, [clause["term"]]).select("doc_id")
    if key == "match":
        terms = sorted(set(query_terms(clause["match"])))
        if not terms:
            raise ValueError("bool match clause has no tokenizable terms")
        min_terms = _match_min_terms(clause, terms)
        hits = _term_rows(p, terms)
        if min_terms == 1:
            return hits.select("doc_id").distinct()
        # one row per (term, doc): the grouped count IS the distinct
        # matched-term count, same as the corpus door's membership test
        return (
            hits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("__nt"))
            .where(F.col("__nt") >= F.lit(min_terms))
            .select("doc_id")
        )
    if key == "prefix":
        return (
            p.filter(F.col("term").startswith(clause["prefix"]))
            .select("doc_id")
            .distinct()
        )
    if index.positional is None:
        raise ValueError(
            "indexed bool phrase membership needs a positional index"
        )
    slop = int(clause.get("slop", 0))
    if slop < 0:
        raise ValueError("phrase slop must be >= 0")
    counts = (
        phrase_counts_from_postings(index.positional, clause["phrase"])
        if slop == 0
        else span_counts_from_postings(index.positional, clause["phrase"], slop)
    )
    return counts.select("doc_id")


def bool_search_from_index(
    index,
    *,
    must=(),
    should=(),
    must_not=(),
    filter=(),
    minimum_should_match: int | None = None,
    k: int = 10,
) -> DataFrame:
    """The bool door probed ENTIRELY from a :class:`~.search.SearchIndex`
    — no corpus scan, no per-query tokenize (the reference pays indexing
    once in its ES bulk loaders and then every SearchUI query is an index
    probe; this is that split for composed queries). Identical output to
    :func:`bool_search` over the same corpus (asserted in tests):

    - match clauses score from the bucket-pruned postings through the
      term-score rows of bm25_from_postings (window df in the one scan,
      the index's integer corpus stats as literals),
    - fuzzy clauses expand against the terms-dictionary sidecar
      (tlen-pruned slivers) and score the bounded expansion from postings,
    - phrase clauses probe the positional tier (raise without one — a
      silent corpus fallback would hide the cost the caller indexed to
      avoid),
    - membership clauses are postings/positional doc-id sets, semi/anti
      joined per clause,
    - the combine is byte-for-byte the shared :func:`_combine_scored`.
    """
    must, should = list(must), list(should)
    must_not, filter = list(must_not), list(filter)
    if not (must or should or filter):
        raise ValueError("bool query needs at least one must/should/filter clause")
    msm = (
        minimum_should_match
        if minimum_should_match is not None
        else default_msm(must, should, filter)
    )
    from pandemic_knowledge_spark.operators.search import (
        _fuzzy_selected,
        _probe_vocab,
        fuzzy_auto_band,
    )

    spark = index.postings.sparkSession
    parts = []
    for kind, clause in [("must", c) for c in must] + [("should", c) for c in should]:
        key = _clause_key(clause, _SCORED_KEYS)
        boost = float(clause.get("boost", 1.0))
        if key == "match":
            terms = sorted(set(query_terms(clause["match"])))
            if not terms:
                raise ValueError("bool match clause has no tokenizable terms")
            frame = _index_match_frame(
                index, terms, min_terms=_match_min_terms(clause, terms)
            )
        elif key == "fuzzy":
            q_terms = sorted(set(query_terms(clause["fuzzy"])))
            if not q_terms:
                raise ValueError("bool fuzzy clause has no tokenizable terms")
            max_expansions = int(clause.get("max_expansions", 50))
            prefix_length = int(clause.get("prefix_length", 0))
            bands = [(t, fuzzy_auto_band(len(t))) for t in q_terms]
            exact_terms = sorted(t for t, b in bands if b == 0)
            fuzz_rows = [
                (t, b, length)
                for t, b in bands
                if b > 0
                for length in range(max(1, len(t) - b), len(t) + b + 1)
            ]
            # fuzz lengths PLUS exact-term lengths: _fuzzy_selected looks
            # exact terms up in the vocabulary (for their df) now
            v = _probe_vocab(
                index.vocab, [r[2] for r in fuzz_rows] + [len(t) for t in exact_terms]
            )
            selected = _fuzzy_selected(
                spark, v, fuzz_rows, exact_terms, max_expansions, prefix_length
            )
            # bounded: <= |query terms| * max_expansions rows. With no
            # vocabulary term within the edit band the clause matches
            # NOTHING — an empty frame, so a must-context clause correctly
            # empties the result (dropping the clause instead would
            # silently relax a must to a no-op)
            sel_terms = sorted(r.term for r in selected.collect())
            frame = _index_match_frame(index, sel_terms)
        elif key == "phrase":
            slop = int(clause.get("slop", 0))
            if slop < 0:
                raise ValueError("phrase slop must be >= 0")
            frame = _index_phrase_frame(index, clause["phrase"], slop=slop)
        elif key == "constant_score":
            # any index-answerable membership clause, flat 1.0 x boost
            # (range/exists reject inside _index_member_frame — raw
            # fields are not index artifacts)
            frame = _index_member_frame(
                index, clause["constant_score"]
            ).select("doc_id", F.lit(1.0).alias("cscore"))
        else:  # prefix — constant_score from the postings term range
            frame = _index_member_frame(
                index, {"prefix": clause["prefix"]}
            ).select("doc_id", F.lit(1.0).alias("cscore"))
        parts.append(
            frame.select(
                "doc_id",
                (F.col("cscore") * F.lit(boost)).alias("bscore"),
                F.lit(kind).alias("kind"),
            )
        )

    if parts:
        hits = _combine_scored(parts, len(must), msm)
    else:
        hits = index.doc_ids.select("doc_id", F.lit(0.0).alias("score"))

    for c in filter:
        hits = hits.join(_index_member_frame(index, c), "doc_id", "left_semi")
    for c in must_not:
        hits = hits.join(_index_member_frame(index, c), "doc_id", "left_anti")
    return hits.orderBy(F.desc("score"), F.col("doc_id")).limit(k)


# ----------------------------------------------------------------- rescore


def rescore_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    rescore_phrase: str,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    k: int = 10,
) -> DataFrame:
    """ES ``rescore``: re-rank only the top ``window_size`` BM25 hits with
    a more expensive secondary query — here a match_phrase (the classic
    "retrieve loose, re-rank tight" proximity pattern) — combining
    ``query_weight · original + rescore_weight · rescore_score``. The
    cheap query bounds the candidate set; the expensive scorer touches
    ``window_size`` docs, not the corpus — exactly why ES exposes rescore
    instead of telling users to run the phrase query corpus-wide.

    Plan: the window is a TakeOrderedAndProject (bounded); the phrase
    score frame left-joins it (docs outside the window never pay the
    phrase arithmetic in the combine); final sort is ≤ window_size rows.
    Both inputs to the combine are deterministic (original scores are the
    4-dp BM25 page; phrase cscore the pseudo-term BM25), so the output
    replays exactly in DuckDB (:func:`sql_rescore_search`)."""
    from pandemic_knowledge_spark.operators.search import bm25_search

    terms = query_terms(rescore_phrase)
    if not terms:
        raise ValueError("rescore phrase has no tokenizable terms")
    top = bm25_search(docs, id_col, text_col, query, k=window_size)
    # r13 wave 13: the phrase frame's own materializing aggregate yields
    # corpus stats + df in one job — no separate stats tokenize scan.
    pf_all = _phrase_pf_all(docs, id_col, text_col, terms)
    n_docs, sum_dl, df_ph = _phrase_stats_and_df(pf_all)
    ph = _phrase_score(pf_all, n_docs, sum_dl, df_ph)
    return (
        top.join(ph, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.lit(float(query_weight)) * F.col("score")
                + F.lit(float(rescore_weight))
                * F.coalesce(F.col("cscore"), F.lit(0.0)),
                4,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def sql_rescore_search(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    rescore_phrase: str,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    k: int = 10,
) -> str:
    """DuckDB SQL reproducing :func:`rescore_search` exactly."""
    from pandemic_knowledge_spark.operators.search import sql_bm25_search

    terms = query_terms(rescore_phrase)
    if not terms:
        raise ValueError("rescore phrase has no tokenizable terms")
    m = len(terms)
    qw, rw = float(query_weight), float(rescore_weight)
    win = sql_bm25_search(table, id_col, text_col, query, k=window_size)
    return f"""
WITH win AS ({win.strip()}),
{_sql_tf_prelude(table, id_col, text_col)},
ph AS (
  SELECT doc_id, dl,
         len(list_filter(range(1, len(toks) - {m} + 2),
             i -> {_sql_phrase_conds(terms)})) AS pf
  FROM base2 WHERE len(toks) >= {m}
), phm AS (SELECT doc_id, dl, pf FROM ph WHERE pf > 0),
phdf AS (SELECT count(*) AS df FROM phm),
c AS (
  SELECT doc_id,
         ln(1.0 + (stats.n_docs - phdf.df + 0.5) / (phdf.df + 0.5))
           * (pf * ({BM25_K1} + 1))
           / (pf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl
              / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
           AS cscore
  FROM phm CROSS JOIN phdf CROSS JOIN stats
)
SELECT win.doc_id,
       round({qw!r} * win.score + {rw!r} * coalesce(c.cscore, 0.0), 4) AS score
FROM win LEFT JOIN c ON win.doc_id = c.doc_id
ORDER BY score DESC, win.doc_id LIMIT {k}
"""


# --------------------------------------------------------------- terms_set


def terms_set_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms,
    minimum_should_match: int,
    k: int = 10,
) -> DataFrame:
    """ES ``terms_set`` query: docs containing at least
    ``minimum_should_match`` of the given terms, BM25-scored over the
    terms they hold — exactly a bool `should` of single-term match
    clauses with msm, so it compiles onto :func:`bool_search` (one TF
    scan, one combine) rather than growing a parallel scorer."""
    clauses = [{"match": t} for t in sorted(set(terms))]
    if not clauses:
        raise ValueError("terms_set needs at least one term")
    return bool_search(
        docs, id_col, text_col, should=clauses,
        minimum_should_match=minimum_should_match, k=k,
    )


def sql_terms_set_search(
    table: str,
    id_col: str,
    text_col: str,
    terms,
    minimum_should_match: int,
    k: int = 10,
) -> str:
    """DuckDB SQL reproducing :func:`terms_set_search` exactly."""
    clauses = [{"match": t} for t in sorted(set(terms))]
    if not clauses:
        raise ValueError("terms_set needs at least one term")
    return sql_bool_search(
        table, id_col, text_col, should=clauses,
        minimum_should_match=minimum_should_match, k=k,
    )
