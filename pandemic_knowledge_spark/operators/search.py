"""Relevance-ranked full-text search (SURVEY.md §2.9 X3).

Replaces the capability the reference delegates to Elasticsearch
(`multi_match best_fields lenient`,
/root/reference/news_app/app/app/src/SearchUI.js:22-27) with a BM25 scorer
built from DataFrame primitives: explode tokens → per-(doc,term) TF →
per-term DF → idf join → score → top-k.

Scale shape: the TF table is one shuffle on doc_id (map-side combined);
the DF table is a shuffle on term; the query-term join is a broadcast (a
query has a handful of terms). At interactive scale, TF/DF tables are
precomputed per ingest and cached/persisted — the Spark analogue of ES's
inverted index (SURVEY.md §4.2).

Corpus stats (N, avgdl) are computed as exact integer sums so Spark and
the DuckDB oracle agree bit-for-bit; scores round to 4 dp before ranking.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pandemic_knowledge_spark.functions.text import (
    query_terms,
    spark_sql_tokenize,
    sql_ident,
    sql_over,
    sql_tokenize,
    tokenize,
)

BM25_K1 = 1.2
BM25_B = 0.75


def _doc_terms_sql(text_col: str) -> str:
    """SQL text of :func:`_doc_terms` over the frame ``{docs}``."""
    text = sql_ident(text_col)
    return (
        "SELECT explode(__terms) AS term FROM ("
        f"SELECT *, explode(array(array_distinct({spark_sql_tokenize(text)}))) "
        f"AS __terms FROM (SELECT {text} FROM {{docs}}))"
    )


def _doc_terms(docs, text_col: str) -> DataFrame:
    """One ``term`` row per distinct term of each doc; only the text column
    leaves the scan. The distinct-terms array is pinned (r13): exploded
    inline, the inferred size > 0 generator filter re-ran the regexp +
    array_distinct per row (functions.pinning module docs). One SQL
    statement (:func:`_doc_terms_sql`; the index append builds it every
    micro-batch, and SQL text costs a few py4j round trips where Column
    calls cost about a hundred)."""
    return sql_over(_doc_terms_sql(text_col), docs=docs)


def _vocab_df(docs, id_col: str, text_col: str) -> DataFrame:
    """(term, df) vocabulary in one scan + one map-side-combined exchange:
    distinct terms per doc (:func:`_doc_terms`) explode to rows, a plain
    count per term IS the document frequency. The shuffle carries
    per-partition (term, partial_count) rows — vocabulary-sized, never
    token-row-sized (r13 optimization, guide §2.3; same derivation
    :func:`term_suggest` always used)."""
    return _doc_terms(docs, text_col).groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def _corpus_stats(docs, text_col: str) -> DataFrame:
    """One-row (n_docs, sum_dl) corpus stats — one pruned scan, no
    exchange before the single-row aggregate."""
    return docs.select(F.size(tokenize(text_col)).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )


def _selected_tf(docs, id_col: str, text_col: str, df_sel: DataFrame,
                 stats: DataFrame, exclude_doc=None) -> DataFrame:
    """(doc_id, dl, term, df, tf, n_docs, sum_dl) rows for the SELECTED
    terms only: explode tokens, broadcast-join the bounded (term, df)
    selection (map-side filter — non-selected tokens never reach an
    exchange), then one tiny grouped count. df rides through the grouping
    key (functionally dependent on term), so no re-join. This replaces
    the corpus-wide TF shuffle + eager corpus-sized localCheckpoint of
    the old shared skeleton for every single-shot selected-terms scorer
    (r13 optimization, guide §2.3/§8: decide on the small vocabulary
    frame, then move only the matching sliver). Tokens pinned: the
    explode's inferred size > 0 filter re-ran the regexp per row through
    pushdown re-inlining (functions.pinning).

    When ``df_sel`` already carries the scalar stats columns (n_docs,
    sum_dl) — a selection that itself joined the stats, like
    more_like_this's tf·idf pick — pass ``stats=None``: the constants
    ride the broadcast hash join and the grouping key (functionally
    dependent on term) instead of a SECOND one-row
    BroadcastNestedLoopJoin (the plan-audit scalar-BNLJ budget is one
    per query; r13 audit regression fix)."""
    from pandemic_knowledge_spark.functions.pinning import pin

    pre = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    if exclude_doc is not None:
        # id predicate BELOW the pin barrier so it still reaches the scan
        pre = pre.filter(F.col("doc_id") != F.lit(exclude_doc))
    base = pin(pre, toks=tokenize(text_col))
    carried = [c for c in ("n_docs", "sum_dl") if c in df_sel.columns]
    out = (
        base.withColumn("dl", F.size("toks"))
        .select("doc_id", "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(df_sel), "term")
        .groupBy("doc_id", "dl", "term", "df", *carried)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if stats is not None:
        out = out.crossJoin(F.broadcast(stats))
    return out


def _idf_sql(n_docs: str) -> str:
    """BM25 idf of a term with document frequency ``df``, as Spark SQL
    text; ``n_docs`` is a column or an integer literal. Float literals carry
    the ``D`` suffix (a bare ``0.5`` is DECIMAL) and the log is ``ln`` (SQL
    ``log(x)`` is a two-argument log with base e), so the tree and every
    score bit equal those of ``F.log(F.lit(1.0) + ...)``."""
    return f"ln(1.0D + ({n_docs} - df + 0.5D) / (df + 0.5D))"


def _term_score_sql(idf: str, avgdl: str) -> str:
    """BM25 per-(term, doc) score over columns ``tf`` and ``dl``, as Spark
    SQL text — THE one term-score formula, ``idf * (tf * (k1 + 1)) / (tf +
    k1 * (1 - b + b * dl / avgdl))``; ``idf`` and ``avgdl`` are SQL
    expressions (parenthesize a compound ``avgdl``). The constants are
    folded and the operands ordered as Column arithmetic builds that
    formula (a reflected ``*`` or ``+`` puts the column first), so the tree
    and every score bit equal the Column form's."""
    return (
        f"{idf} * (tf * {BM25_K1 + 1!r}D) / (tf + (dl * {BM25_B!r}D / {avgdl}"
        f" + {1 - BM25_B!r}D) * {BM25_K1!r}D)"
    )


def _attach_bm25_scores(joined: DataFrame) -> DataFrame:
    """Add avgdl/idf/term_score to a frame carrying (tf, dl, df, n_docs,
    sum_dl) — the one BM25 expression shape every scorer shares."""
    return (
        joined.withColumn(
            "avgdl", F.col("sum_dl").cast("double") / F.col("n_docs")
        )
        .withColumn("idf", F.expr(_idf_sql("n_docs")))
        .withColumn("term_score", F.expr(_term_score_sql("idf", "avgdl")))
    )


def _sql_tf_prelude(table: str, id_col: str, text_col: str) -> str:
    """The shared DuckDB CTE prelude (base → stats → tf → dft) mirroring
    the classic corpus-wide TF
    skeleton (tokenize → per-(doc, term) TF → per-term df → 1-row stats;
    the Spark side computes the same quantities from pruned scans since
    r13/r14) — composed, never hand-copied, so the oracle prelude can't
    drift between the selected-terms scorers."""
    return f"""base AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS toks FROM {table}
), base2 AS (
  SELECT doc_id, toks, len(toks) AS dl FROM base
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base2
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base2)
  GROUP BY doc_id, dl, term
), dft AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
)"""


def _sql_bm25_tail(k: int, where: str = "") -> str:
    """The shared DuckDB scoring tail: BM25 term scores over tf ⋈ sel ⋈
    dft with the corpus stats, per-doc sum, 4-dp round, top-k."""
    return f"""scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1))
         / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
         AS term_score
  FROM tf
  JOIN sel ON tf.term = sel.term
  JOIN dft ON tf.term = dft.term
  CROSS JOIN stats{where}
)
SELECT doc_id, round(sum(term_score), 4) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {k}"""


def _literal_tf_with_stats(docs, id_col: str, text_col: str,
                           q_terms: list[str]):
    """(tf, df_t) with corpus stats carried
    on the tf rows, for a LITERAL term set — the r13 optimization
    (guide §2.3/§2.4) every literal-terms scorer shares:

    Per-doc TF is computed SCAN-SIDE — ``size(toks) − size(array_remove(
    toks, term))`` per literal term, all codegen — instead of exploding
    every corpus token into a (doc, term) shuffle and re-aggregating. The
    TF exchange disappears outright; what used to be one row per TOKEN
    entering an exchange is now ≤ |q_terms| rows per matching doc with no
    exchange at all. The tiny TF sliver is lazily localCheckpoint-pinned so
    its consumers (the per-term df aggregate and the scoring stream) share
    ONE tokenize pass; corpus stats are the only other scan. TF values, df
    values and every downstream expression are bit-identical to the
    exploded form (tf = occurrence count, cast long; (doc, term) rows
    unique so count(*) IS the document frequency)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    ).withColumn("dl", F.size("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    if q_terms:
        tf_structs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("term"),
                    (
                        F.size("toks") - F.size(F.array_remove("toks", t))
                    ).cast("long").alias("tf"),
                )
                for t in q_terms
            ]
        )
        tf = (
            base.select("doc_id", "dl", F.explode(tf_structs).alias("qt"))
            .select(
                "doc_id", "dl",
                F.col("qt.term").alias("term"), F.col("qt.tf").alias("tf"),
            )
            .where(F.col("tf") > F.lit(0))
            .crossJoin(F.broadcast(stats))
            .localCheckpoint(eager=False)
        )
    else:
        tf = (
            base.select("doc_id", "dl", F.explode("toks").alias("term"))
            .filter(F.lit(False))
            .withColumn("tf", F.lit(0).cast("long"))
            .crossJoin(F.broadcast(stats))
        )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tf, df_t


def _bm25_term_scores(docs: DataFrame, id_col: str, text_col: str,
                      query: str) -> DataFrame:
    """The shared (doc_id, term, term_score) frame every corpus-scan BM25
    consumer aggregates. Factored so the top-k page (:func:`bm25_search`)
    and the score-aware exact total (:func:`bm25_score_count`) can never
    fork arithmetic. Plan shape: :func:`_literal_tf_with_stats` (scan-side
    TF, zero corpus exchanges) + one tiny df broadcast."""
    q_terms = sorted(set(query_terms(query)))
    tf, df_t = _literal_tf_with_stats(docs, id_col, text_col, q_terms)
    return _attach_bm25_scores(tf.join(F.broadcast(df_t), "term"))


def bm25_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """BM25 top-k: (doc_id, score) for docs matching >= 1 query term.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5))  [Robertson-Sparck Jones, the
    Lucene/ES formula]; tf component uses k1=1.2, b=0.75. ``after`` is the
    ES search_after keyset cursor (see :func:`_bm25_score_agg`).
    """
    scored = _bm25_term_scores(docs, id_col, text_col, query)
    return _bm25_score_agg(scored, k, after=after)


def bm25_page_and_count(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int,
    min_score: float,
) -> tuple[DataFrame, DataFrame]:
    """The SCORE-AWARE exact hit total next to its page — ES's
    ``track_total_hits: true`` × ``min_score`` (hits below the threshold
    are excluded from the total too): ONE per-doc score frame (identical
    term-score pipeline and 4 dp rounding as :func:`bm25_search`) feeds
    BOTH the top-k page and the unbounded ≥-threshold count. The frame
    is lazily localCheckpoint-pinned: without the pin the page and the
    count are separate subtrees and the tokenize scan + TF shuffle run
    TWICE (the r13 sf1 probe read 20.7 s for the two-pipeline shape;
    pinned it's one pipeline + a bucket-count-free count). Returns
    (page, total): page already min_score-gated post-heap (monotone),
    total a one-row long frame."""
    scored = _bm25_term_scores(docs, id_col, text_col, query)
    per_doc = (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
        .localCheckpoint(eager=False)
    )
    page = (
        per_doc.orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
        .where(F.col("score") >= F.lit(float(min_score)))
    )
    total = per_doc.where(
        F.col("score") >= F.lit(float(min_score))
    ).agg(F.count(F.lit(1)).cast("long").alias("total"))
    return page, total


def _fields_tf(docs, id_col: str, field_cols: list[str], q_terms: list[str]):
    """The shared multi_match skeleton, shared by every multi_match type
    (best_fields / most_fields / cross_fields) so the per-field
    tokenize/stats can never fork between them.

    r13 optimization (guide §2.3/§2.4, same re-expression as
    :func:`_bm25_term_scores`): the query terms and field names are
    LITERALS, so the per-(field, term) TF is computed SCAN-SIDE via
    ``size(toks_f) − size(array_remove(toks_f, term))`` — no corpus-token
    explode, no (field, doc, term) TF exchange; ≤ |fields|·|q_terms| rows
    per doc survive the tf>0 filter, lazily localCheckpoint-pinned for the
    df aggregate + scoring consumers. Per-field corpus stats come from ONE
    single-row aggregate over the same projection (count is identical for
    every field — each doc carries each field — and sum_dl sums that
    field's token count), reshaped to per-field rows by exploding a
    literal struct array. TF/df/stats values are bit-identical to the
    exploded form."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        *[tokenize(c).alias(f"__toks_{i}") for i, c in enumerate(field_cols)],
    )
    agg_row = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum(F.size(f"__toks_{i}")).alias(f"__sum_{i}")
            for i in range(len(field_cols))
        ],
    )
    stats = agg_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col("n_docs").alias("n_docs"),
                        F.col(f"__sum_{i}").alias("sum_dl"),
                    )
                    for i, c in enumerate(field_cols)
                ]
            )
        ).alias("s")
    ).select("s.field", "s.n_docs", "s.sum_dl")
    if q_terms:
        structs = []
        for i, c in enumerate(field_cols):
            dl_i = F.size(f"__toks_{i}")
            for t in q_terms:
                structs.append(
                    F.struct(
                        F.lit(c).alias("field"),
                        dl_i.alias("dl"),
                        F.lit(t).alias("term"),
                        (
                            dl_i - F.size(F.array_remove(f"__toks_{i}", t))
                        ).cast("long").alias("tf"),
                    )
                )
        tf = (
            base.select("doc_id", F.explode(F.array(*structs)).alias("x"))
            .select(
                F.col("x.field").alias("field"), "doc_id",
                F.col("x.dl").alias("dl"), F.col("x.term").alias("term"),
                F.col("x.tf").alias("tf"),
            )
            .where(F.col("tf") > F.lit(0))
            .localCheckpoint(eager=False)
        )
    else:
        tf = (
            base.select(
                F.lit("").alias("field"), "doc_id",
                F.lit(0).alias("dl"), F.lit("").alias("term"),
                F.lit(0).cast("long").alias("tf"),
            ).filter(F.lit(False))
        )
    return tf, stats


def _fields_tf_norm():
    """BM25's tf normalization over the per-field norms carried on the TF
    row — the factor every multi_match type multiplies its idf by."""
    return (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )


def bm25_search_fields(
    docs: DataFrame,
    id_col: str,
    field_cols: list[str],
    query: str,
    k: int = 10,
    tie_breaker: float = 0.0,
    mode: str = "best_fields",
    boosts: dict | None = None,
    after: tuple | None = None,
) -> DataFrame:
    """Multi-field field-centric BM25 top-k — the reference's search shape
    (`multi_match` with `type: best_fields, lenient: true` over all fields,
    /root/reference/news_app/app/app/src/SearchUI.js:22-27): each field is
    scored as its own BM25 corpus (own N, avgdl, per-term df — ES's
    per-field inverted index); a doc's score combines its per-field scores
    by ``mode``:

    - ``best_fields`` (ES default): the BEST single field (`greatest`
      across fields), plus ``tie_breaker`` × the other fields' scores
      (default 0 = pure best_fields) — right when one field should
      dominate (title OR body holds the whole answer);
    - ``most_fields``: the SUM of all field scores (ES most_fields, a
      dis-junction tuned for the same text analyzed different ways — each
      matching field adds evidence).

    Plan shape: see :func:`_fields_tf` (one scan, one TF shuffle, tiny
    broadcast DF/stats frames, final per-doc agg)."""
    if mode not in ("best_fields", "most_fields"):
        raise ValueError(f"bm25_search_fields: unknown mode {mode!r}")
    q_terms = sorted(set(query_terms(query)))
    tf, stats = _fields_tf(docs, id_col, field_cols, q_terms)
    df_t = tf.groupBy("field", "term").agg(F.count(F.lit(1)).alias("df"))
    field_scores = (
        tf.join(F.broadcast(df_t), ["field", "term"])
        .join(F.broadcast(stats), "field")
        .withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs"))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn("term_score", F.col("idf") * _fields_tf_norm())
        .groupBy("doc_id", "field")
        .agg(F.round(F.sum("term_score"), 4).alias("field_score"))
    )
    if boosts:
        # ES per-field boosts ("title^3"): the field's query boost scales
        # that field's whole score before the cross-field combine — a
        # CASE over the (small, literal) field list; the unboosted path
        # stays bit-identical (no expression change when boosts is None)
        b = None
        for f in field_cols:
            w = float(boosts.get(f, 1.0))
            b = (F.when(F.col("field") == f, F.lit(w)) if b is None
                 else b.when(F.col("field") == f, F.lit(w)))
        field_scores = field_scores.withColumn(
            "field_score", F.col("field_score") * b
        )
    if mode == "most_fields":
        combined = F.round(F.sum("field_score"), 4)
    else:
        combined = F.round(
            F.max("field_score")
            + F.lit(tie_breaker) * (F.sum("field_score") - F.max("field_score")),
            4,
        )
    out = field_scores.groupBy("doc_id").agg(combined.alias("score"))
    if after is not None:
        # ES search_after keyset cursor over the (score DESC, doc_id)
        # total order — same tier as _bm25_score_agg: the predicate
        # prunes before the top-k heaps, page N costs page 1
        c_score, c_id = after
        out = out.where(
            (F.col("score") < F.lit(c_score))
            | ((F.col("score") == F.lit(c_score))
               & (F.col("doc_id") > F.lit(c_id)))
        )
    return out.orderBy(F.desc("score"), F.col("doc_id")).limit(k)


def bm25_search_cross_fields(
    docs: DataFrame,
    id_col: str,
    field_cols: list[str],
    query: str,
    k: int = 10,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """`multi_match` ``type: cross_fields`` — ES's TERM-centric type for
    entities split across fields ("jane smith" where first_name holds
    'jane' and last_name holds 'smith'): fields behave like one combined
    field per TERM, so a doc matching all query terms across DIFFERENT
    fields beats one matching a single term in every field (the failure
    mode of best/most_fields ES documents).

    Deterministic blended-statistics spec (Lucene's BlendedTermQuery made
    exact): per term, df blends to the MAX per-field df and idf uses the
    MAX per-field doc count — a term common in ANY field is cheap in all
    of them; tf normalization stays per-field (each field keeps its own
    length norm). Per (doc, term) the fields combine dis-max style: best
    field score + ``tie_breaker`` × the rest (ES cross_fields tie_breaker,
    default 0); per doc, term scores SUM (every query term found somewhere
    adds evidence — the term-centric AND-ish shape).

    Same plan skeleton as :func:`bm25_search_fields` (one scan, one TF
    shuffle); the blended df is one more tiny (≤ query-terms-row)
    broadcast."""
    q_terms = sorted(set(query_terms(query)))
    tf, stats = _fields_tf(docs, id_col, field_cols, q_terms)
    df_t = tf.groupBy("field", "term").agg(F.count(F.lit(1)).alias("df"))
    df_blend = df_t.groupBy("term").agg(F.max("df").alias("df"))
    n_max = stats.agg(F.max("n_docs").alias("n_max"))
    per_field = (
        tf.join(F.broadcast(df_blend), "term")
        .join(F.broadcast(stats), "field")
        .crossJoin(F.broadcast(n_max))
        .withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs"))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_max") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn("fscore", F.round(F.col("idf") * _fields_tf_norm(), 6))
    )
    term_scores = per_field.groupBy("doc_id", "term").agg(
        (
            F.max("fscore")
            + F.lit(tie_breaker) * (F.sum("fscore") - F.max("fscore"))
        ).alias("term_score")
    )
    return _bm25_score_agg(term_scores, k)


def _sql_fields_prelude(table: str, id_col: str, field_exprs: dict[str, str],
                        q_terms: list[str]) -> str:
    """The shared DuckDB CTE prelude (long → stats → tf → dft) mirroring
    :func:`_fields_tf` — composed, never hand-copied, so the oracle can't
    drift between the multi_match types."""
    terms_list = ", ".join(f"'{t}'" for t in q_terms)
    branches = " UNION ALL ".join(
        f"SELECT {id_col} AS doc_id, '{name}' AS field, "
        f"regexp_extract_all(lower({expr}), '[a-z0-9]+') AS toks FROM {table}"
        for name, expr in field_exprs.items()
    )
    return f"""long AS (
  SELECT doc_id, field, toks, len(toks) AS dl FROM ({branches})
), stats AS (
  SELECT field, count(*) AS n_docs, sum(dl) AS sum_dl FROM long GROUP BY field
), tf AS (
  SELECT field, doc_id, dl, term, count(*) AS tf
  FROM (SELECT field, doc_id, dl, unnest(toks) AS term FROM long)
  WHERE term IN ({terms_list})
  GROUP BY field, doc_id, dl, term
), dft AS (
  SELECT field, term, count(DISTINCT doc_id) AS df FROM tf GROUP BY field, term
)"""


#: The BM25 tf-normalization SQL factor over per-field norms (twin of
#: :func:`_fields_tf_norm`).
_SQL_FIELDS_TF_NORM = (
    f"(tf.tf * ({BM25_K1} + 1))"
    f" / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl"
    f" / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))"
)


def sql_bm25_search_fields(
    table: str,
    id_col: str,
    field_exprs: dict[str, str],
    query: str,
    k: int = 10,
    tie_breaker: float = 0.0,
    mode: str = "best_fields",
    boosts: dict | None = None,
    after: tuple | None = None,
) -> str:
    """DuckDB SQL reproducing :func:`bm25_search_fields` exactly (both
    ``best_fields`` and ``most_fields`` modes, optional per-field
    ``boosts``, the ``after`` keyset cursor).

    ``field_exprs`` maps field name → SQL expression deriving that field's
    text from the table's columns (must match the Spark-side derivation).
    """
    if mode not in ("best_fields", "most_fields"):
        raise ValueError(f"sql_bm25_search_fields: unknown mode {mode!r}")
    q_terms = sorted(set(query_terms(query)))
    if mode == "most_fields":
        combined = "round(sum(field_score), 4)"
    else:
        combined = (
            f"round(max(field_score) + {tie_breaker}"
            " * (sum(field_score) - max(field_score)), 4)"
        )
    boosted = ""
    if boosts:
        cases = " ".join(
            f"WHEN field = '{f}' THEN field_score * {float(boosts.get(f, 1.0))!r}"
            for f in field_exprs
        )
        boosted = f""", boosted AS (
  SELECT doc_id, field, CASE {cases} END AS field_score FROM fscore
)"""
    src = "boosted" if boosts else "fscore"
    having = ""
    if after is not None:
        c_score, c_id = after
        id_lit = (f"'{c_id}'" if isinstance(c_id, str) else repr(c_id))
        having = (
            f"\nHAVING ({combined} < {float(c_score)!r} OR"
            f" ({combined} = {float(c_score)!r} AND doc_id > {id_lit}))"
        )
    return f"""
WITH {_sql_fields_prelude(table, id_col, field_exprs, q_terms)}, fscore AS (
  SELECT tf.doc_id, tf.field,
         round(sum(
           ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * {_SQL_FIELDS_TF_NORM}
         ), 4) AS field_score
  FROM tf
  JOIN dft ON tf.field = dft.field AND tf.term = dft.term
  JOIN stats ON tf.field = stats.field
  GROUP BY tf.doc_id, tf.field
){boosted}
SELECT doc_id,
       {combined} AS score
FROM {src} GROUP BY doc_id{having}
ORDER BY score DESC, doc_id LIMIT {k}
"""


def sql_bm25_search_cross_fields(
    table: str,
    id_col: str,
    field_exprs: dict[str, str],
    query: str,
    k: int = 10,
    tie_breaker: float = 0.0,
) -> str:
    """DuckDB SQL reproducing :func:`bm25_search_cross_fields` exactly —
    same blended statistics (max per-field df, max per-field doc count),
    same per-field tf norms, same dis-max per (doc, term), same per-doc
    term sum and roundings."""
    q_terms = sorted(set(query_terms(query)))
    return f"""
WITH {_sql_fields_prelude(table, id_col, field_exprs, q_terms)}, blend AS (
  SELECT term, max(df) AS df FROM dft GROUP BY term
), nmax AS (
  SELECT max(n_docs) AS n_max FROM stats
), pf AS (
  SELECT tf.doc_id, tf.term,
         round(
           ln(1.0 + (nmax.n_max - blend.df + 0.5) / (blend.df + 0.5))
           * {_SQL_FIELDS_TF_NORM}
         , 6) AS fscore
  FROM tf
  JOIN blend ON tf.term = blend.term
  JOIN stats ON tf.field = stats.field
  CROSS JOIN nmax
), tscore AS (
  SELECT doc_id, term,
         max(fscore) + {tie_breaker} * (sum(fscore) - max(fscore)) AS term_score
  FROM pf GROUP BY doc_id, term
)
SELECT doc_id, round(sum(term_score), 4) AS score
FROM tscore GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {k}
"""


def more_like_this(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    src_doc_id,
    k: int = 10,
    max_query_terms: int = 8,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> DataFrame:
    """ES ``more_like_this`` (the news app's "related articles" shape): the
    source doc's top ``max_query_terms`` terms by tf·ln(N/df) become the
    query, the corpus is BM25-scored over exactly those terms, the source
    doc is excluded, top-k returned — (doc_id, score).

    Fully distributed, NO driver round-trip for the term selection: the
    selected-terms frame is ≤ max_query_terms rows and joins BROADCAST into
    the scoring pass, so the plan is tokenize → one (doc, term) TF shuffle
    → tiny DF/stats broadcasts → selection window on the one source doc's
    rows → broadcast-semi term filter → per-doc agg → top-k. The TF table
    feeds both the selection and the scoring, so it materializes once
    (eager localCheckpoint, context-cleaned with the frame). At index
    scale, run the same selection against a persisted
    :class:`SearchIndex`'s postings and probe only the selected terms'
    crc32 buckets — the term-selection and scoring math is identical.

    ES-default knobs ``min_term_freq`` / ``min_doc_freq`` prune noise terms
    before ranking (ES defaults are 2/5; here 1/1 so tiny fixture corpora
    keep their terms — the catalog query sets them explicitly).
    Ties in term selection break alphabetically on the 6-dp-rounded
    selection score, exactly as :func:`tfidf_keywords` (and the DuckDB
    oracle) rank. An unknown/empty source doc selects no terms and returns
    an empty frame, not an error."""
    # r13 plan shape (guide §2.3/§8): no corpus-wide TF shuffle, no eager
    # corpus-sized checkpoint — three pruned scans instead. (1) the
    # (term, df) vocabulary (map-side-combined), (2) the one-row corpus
    # stats, (3) the source doc's own TF from a predicate-pruned scan.
    # The ≤ max_query_terms selection then broadcast-joins into
    # :func:`_selected_tf`, which moves only matching-token rows.
    # orderBy().limit() plans TakeOrderedAndProject (per-partition heaps
    # merged at the driver — no single-partition exchange); its input is
    # bounded by the one source doc's vocabulary, never corpus-sized. The
    # broadcast BUILD sides are the one-doc TF sliver and the selection,
    # NEVER the full-vocabulary df_t — at corpus scale the vocabulary is
    # multi-GB and would blow the broadcast cap.
    df_t = _vocab_df(docs, id_col, text_col)
    stats = _corpus_stats(docs, text_col)
    src_tf = (
        docs.filter(F.col(id_col) == F.lit(src_doc_id))
        .select(F.explode(tokenize(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= F.lit(min_term_freq))
    )
    df_sel = (
        df_t.join(F.broadcast(src_tf), "term")
        .filter(F.col("df") >= F.lit(min_doc_freq))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "sel_score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
        .orderBy(F.desc("sel_score"), F.col("term"))
        .limit(max_query_terms)
        # carry the one-row stats the selection already joined, so the
        # TF pass rides ONE scalar broadcast, not a second BNLJ
        .select("term", "df", "n_docs", "sum_dl")
    )
    scored = _attach_bm25_scores(
        _selected_tf(docs, id_col, text_col, df_sel, stats=None,
                     exclude_doc=src_doc_id)
    )
    return _bm25_score_agg(scored, k)


def prefix_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """Search-as-you-type (ES ``match_bool_prefix``): every query token
    but the last matches exactly; the LAST token is a PREFIX, expanded to
    the ``max_expansions`` highest-df vocabulary terms starting with it
    (ES's expansion cap, deterministic here by (df DESC, term)); BM25
    ranks docs over the union of exact terms and expansions. The news
    app's per-keystroke search — "spark str" finds stream/streaming docs
    before the word is finished.

    Same distributed shape as :func:`more_like_this`: one TF shuffle with
    the corpus stats carried on the checkpointed frame, the ≤(terms +
    max_expansions)-row selected-term set broadcasts into scoring, heap
    top-k. Empty queries and prefixes with no vocabulary match return
    empty frames."""
    toks = query_terms(query)
    if not toks:
        return docs.sparkSession.createDataFrame(
            [], "doc_id %s, score double" % docs.schema[id_col].dataType.simpleString()
        )
    *full_terms, prefix = toks
    full_terms = sorted(set(full_terms))
    # r13 plan shape (guide §2.3/§8): vocabulary + stats + selected-TF
    # scans instead of the corpus-wide TF shuffle/checkpoint; the
    # selection carries df, so it IS the bounded (term, df) build side.
    # Exact terms are kept from the SAME single vocabulary pass (rank only
    # the prefix matches, keep exacts unconditionally) — out-of-vocabulary
    # exacts were dropped by the old df re-join anyway, so the selected
    # set is identical. The build side stays ≤ (terms + max_expansions)
    # rows, never the full vocabulary.
    df_t = _vocab_df(docs, id_col, text_col)
    stats = _corpus_stats(docs, text_col)
    is_pref = F.col("term").startswith(prefix)
    if full_terms:
        from pyspark.sql.window import Window

        cand = df_t.filter(is_pref | F.col("term").isin(full_terms))
        w = Window.partitionBy(is_pref).orderBy(F.desc("df"), F.col("term"))
        df_sel = (
            cand.withColumn("rnk", F.row_number().over(w))
            .filter(
                F.col("term").isin(full_terms)
                | (is_pref & (F.col("rnk") <= F.lit(max_expansions)))
            )
            .select("term", "df")
        )
    else:
        df_sel = (
            df_t.filter(is_pref)
            .orderBy(F.desc("df"), F.col("term"))
            .limit(max_expansions)
            .select("term", "df")
        )
    scored = _attach_bm25_scores(
        _selected_tf(docs, id_col, text_col, df_sel, stats)
    )
    return _bm25_score_agg(scored, k)


def sql_prefix_search(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    max_expansions: int = 50,
) -> str:
    """DuckDB SQL reproducing :func:`prefix_search` exactly — same
    tokenizer, same (df DESC, term) expansion cap, same BM25/rounding."""
    toks = query_terms(query)
    if not toks:
        raise ValueError("sql_prefix_search: empty query")
    *full_terms, prefix = toks
    full_terms = sorted(set(full_terms))
    pre_lit = prefix.replace("'", "''")
    exact_cte = ""
    sel = "SELECT term FROM expansions"
    if full_terms:
        lits = " UNION ALL ".join(f"SELECT '{t}' AS term" for t in full_terms)
        exact_cte = f", exact AS ({lits})"
        sel = "SELECT DISTINCT term FROM (SELECT term FROM expansions UNION ALL SELECT term FROM exact)"
    return f"""
WITH {_sql_tf_prelude(table, id_col, text_col)}, expansions AS (
  SELECT term FROM dft
  WHERE term LIKE '{pre_lit}%'
  ORDER BY df DESC, term LIMIT {max_expansions}
){exact_cte}, sel AS (
  {sel}
), {_sql_bm25_tail(k)}
"""


def wildcard_regex(pattern: str) -> str:
    """Lucene wildcard pattern → anchored regex: ``*`` = any run, ``?`` =
    any one char, everything else literal. Tokens are [a-z0-9]+ so the
    escaped literals behave identically under Java regex (Spark rlike)
    and RE2 (DuckDB)."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def _pattern_search(docs, id_col, text_col, regex, k, max_expansions):
    """Shared tail of :func:`wildcard_search` / :func:`regexp_search`:
    expand the vocabulary terms matching the anchored regex, cap at
    ``max_expansions`` by (df DESC, term) — Lucene's top_terms_N rewrite,
    the deterministic form of ES's multi-term query cap — and BM25 over
    the expansion set. Same one-TF-shuffle skeleton as
    :func:`prefix_search`; the regex runs over the DICTIONARY (|vocab|
    rows), never the corpus."""
    # r13 plan shape (guide §2.3/§8): vocabulary + stats + selected-TF
    # scans instead of the corpus-wide TF shuffle/checkpoint; the capped
    # expansion carries (term, df) and IS the bounded build side
    df_t = _vocab_df(docs, id_col, text_col)
    stats = _corpus_stats(docs, text_col)
    df_sel = (
        df_t.filter(F.col("term").rlike(regex))
        .orderBy(F.desc("df"), F.col("term"))
        .limit(max_expansions)
        .select("term", "df")
    )
    scored = _attach_bm25_scores(
        _selected_tf(docs, id_col, text_col, df_sel, stats)
    )
    return _bm25_score_agg(scored, k)


def wildcard_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``wildcard`` query (``rewrite: top_terms_N``): the pattern
    (``*`` / ``?``) expands against the vocabulary — matching the ENTIRE
    term, as ES does — and BM25 ranks docs over the capped expansion set
    (the scoring rewrite; ES's default constant_score is this with all
    scores 1, strictly less informative — the capability row uses the
    scored form so the oracle verifies real values)."""
    return _pattern_search(
        docs, id_col, text_col, wildcard_regex(pattern.lower()), k,
        max_expansions,
    )


def regexp_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``regexp`` query: like :func:`wildcard_search` but with a raw
    regex, anchored to the whole term (ES regexp semantics). Keep
    patterns in the shared Java-regex ∩ RE2 subset — character classes,
    alternation, repetition — so the DuckDB oracle matches."""
    return _pattern_search(
        docs, id_col, text_col, f"^(?:{pattern.lower()})$", k, max_expansions
    )


def _sql_pattern_search(
    table: str, id_col: str, text_col: str, regex: str, k: int,
    max_expansions: int,
) -> str:
    rx = regex.replace("'", "''")
    return f"""
WITH {_sql_tf_prelude(table, id_col, text_col)}, sel AS (
  SELECT term FROM dft
  WHERE regexp_matches(term, '{rx}')
  ORDER BY df DESC, term LIMIT {max_expansions}
), {_sql_bm25_tail(k)}
"""


def sql_wildcard_search(
    table: str, id_col: str, text_col: str, pattern: str, k: int = 10,
    max_expansions: int = 50,
) -> str:
    """DuckDB SQL reproducing :func:`wildcard_search` exactly."""
    return _sql_pattern_search(
        table, id_col, text_col, wildcard_regex(pattern.lower()), k,
        max_expansions,
    )


def sql_regexp_search(
    table: str, id_col: str, text_col: str, pattern: str, k: int = 10,
    max_expansions: int = 50,
) -> str:
    """DuckDB SQL reproducing :func:`regexp_search` exactly."""
    return _sql_pattern_search(
        table, id_col, text_col, f"^(?:{pattern.lower()})$", k, max_expansions
    )


def fuzzy_auto_band(term_len: int) -> int:
    """ES ``fuzziness: AUTO`` edit-distance band by term length
    (the generated-edit-distance table in the ES common options docs):
    0–2 chars → 0 edits (exact only), 3–5 → 1, 6+ → 2."""
    if term_len < 3:
        return 0
    if term_len < 6:
        return 1
    return 2


def fuzzy_match_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    max_expansions: int = 50,
    prefix_length: int = 0,
) -> DataFrame:
    """ES ``match`` with ``fuzziness: AUTO`` — the misspelling-tolerant
    retrieval the news app's `lenient` search leans on
    (/root/reference/news_app/app/app/src/SearchUI.js:22-27): each query
    term expands to the vocabulary terms within its AUTO edit-distance
    band (:func:`fuzzy_auto_band`; the exact term itself rides along at
    distance 0 when in-vocabulary), capped at ``max_expansions`` per query
    term by (distance ASC, df DESC, term ASC) — Lucene's
    closest-then-most-frequent blended rewrite, made deterministic — and
    BM25 ranks docs over the union of all expansions. ``prefix_length``
    (ES default 0) requires expansions to share that many leading chars.

    Scale shape: same one-TF-shuffle skeleton as :func:`prefix_search`.
    Candidate generation is an EQUI-join: each fuzzy query term is
    exploded driver-side into its admissible candidate LENGTHS (≤ 2·band+1
    tiny literal rows — edit distance can never beat the length gap, the
    same band term_suggest prunes with), broadcast, and hash-joined to the
    vocabulary on ``length(term)`` — levenshtein then runs only on the
    surviving sliver, never vocabulary × query terms. Every broadcast
    build side is bounded (literal rows, per-term top-``max_expansions``
    selections, the ≤ |selected|-row df_sel frame) — the full-vocabulary
    frame is only ever the STREAMED side."""
    q_terms = sorted(set(query_terms(query)))
    if not q_terms:
        return docs.sparkSession.createDataFrame(
            [], "doc_id %s, score double" % docs.schema[id_col].dataType.simpleString()
        )
    bands = [(t, fuzzy_auto_band(len(t))) for t in q_terms]
    exact_terms = sorted(t for t, b in bands if b == 0)
    fuzz_rows = [
        (t, b, length)
        for t, b in bands
        if b > 0
        for length in range(max(1, len(t) - b), len(t) + b + 1)
    ]
    # r13 plan shape (guide §2.3/§8): vocabulary + stats + selected-TF
    # scans instead of the corpus-wide TF shuffle/checkpoint; the
    # expansion carries (term, df) — it IS the bounded build side
    df_t = _vocab_df(docs, id_col, text_col)
    stats = _corpus_stats(docs, text_col)
    df_sel = _fuzzy_selected(
        docs.sparkSession, df_t, fuzz_rows, exact_terms, max_expansions, prefix_length
    )
    scored = _attach_bm25_scores(
        _selected_tf(docs, id_col, text_col, df_sel, stats)
    )
    return _bm25_score_agg(scored, k)


def _fuzzy_selected(
    spark,
    vocab: DataFrame,
    fuzz_rows: list,
    exact_terms: list,
    max_expansions: int,
    prefix_length: int,
) -> DataFrame:
    """The shared fuzzy expansion: admissible-length equi-join of the
    (term, df) vocabulary against the literal (qterm, band, length) rows,
    levenshtein on the sliver, per-qterm (distance, df DESC, term) cap,
    union with the band-0 exact terms, distinct. Used by BOTH the
    corpus-scan and the index-probe forms so the expansion rule can't
    fork.

    r13 optimization (guide §2.4): returns (term, df) — df rides along
    from the vocabulary — so the corpus-scan caller broadcasts THIS frame
    into scoring directly instead of re-joining (and therefore
    re-computing) the full-vocabulary df aggregate to re-attach df. Exact
    terms come from the vocabulary by a pushable isin instead of literal
    rows: out-of-vocabulary exacts scored nothing under the old df re-join
    too, so results are identical (the index-probe caller's collected term
    set loses only terms with no postings). df is functionally dependent
    on term, so the (term, df) distinct dedupes exactly as before."""
    from pyspark.sql.window import Window

    # Band-0 (exact) terms ride the SAME admissible-length equi-join as
    # literal (term, band=0, len) rows — levenshtein ≤ 0 keeps exactly the
    # in-vocabulary term itself, its own 1-row qterm partition trivially
    # passes the cap — so the vocabulary is walked ONCE for fuzzy and
    # exact terms together instead of a second filter pass for the exacts.
    all_rows = list(fuzz_rows) + [(t, 0, len(t)) for t in exact_terms]
    qf = spark.createDataFrame(all_rows, "qterm string, band int, tlen int")
    if "tlen" not in vocab.columns:
        vocab = vocab.withColumn("tlen", F.length("term"))
    cand = (
        vocab.join(F.broadcast(qf), "tlen")
        .withColumn("distance", F.levenshtein(F.col("term"), F.col("qterm")))
        .filter(F.col("distance") <= F.col("band"))
    )
    if prefix_length > 0:
        cand = cand.filter(
            F.substring("term", 1, prefix_length)
            == F.substring("qterm", 1, prefix_length)
        )
    w = Window.partitionBy("qterm").orderBy(
        "distance", F.desc("df"), F.col("term")
    )
    selected = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= F.lit(max_expansions))
        .select("term", "df")
    )
    return selected.distinct()


def _probe_vocab(vocab: DataFrame, lengths) -> DataFrame:
    """The slivers of an index's (term, df, tlen) terms dictionary — the
    persisted ``vocab`` sidecar or a build's cached derivation — that a
    probe expands against: the admissible term LENGTHS prune its ``tlen``
    partitions, the parquet analogue of ES seeking the per-segment FST
    instead of touching postings. No lengths = the whole dictionary."""
    lens = sorted(set(lengths))
    return vocab.filter(F.col("tlen").isin(lens)) if lens else vocab


def fuzzy_match_from_postings(
    postings: DataFrame,
    stats: tuple[int, int],
    query: str,
    k: int = 10,
    max_expansions: int = 50,
    prefix_length: int = 0,
    *,
    vocab: DataFrame,
) -> DataFrame:
    """``fuzzy_match_search`` probed from a persisted index — ES's actual
    fuzzy execution shape (expand against the term dictionary, then run a
    pruned terms query). Identical output to the corpus-scan form over
    the same corpus (same AUTO bands, same expansion cap, same BM25 —
    pinned by ``tests/test_engine.py``).

    The vocabulary (term, df) is the index's ``vocab`` pruned to the
    admissible ``tlen`` partitions (:func:`_probe_vocab`: nothing but
    dictionary slivers are scanned before candidates are known, like ES's
    FST walk); the shared :func:`_fuzzy_selected` expansion runs
    distributed, and the bounded selection (≤ query terms ×
    max_expansions rows — ES's rewrite is capped identically) collects to
    the driver. The selected terms are dictionary tokens, so they score
    as a space-joined query through :func:`bm25_from_postings`, which
    enumerates their crc32 BUCKETS for parquet partition pruning.
    ``stats`` is the index's (n_docs, sum_dl)."""
    n_docs, sum_dl = stats
    q_terms = sorted(set(query_terms(query)))
    if not q_terms:
        return bm25_from_postings(postings, n_docs, sum_dl, "", k)
    bands = [(t, fuzzy_auto_band(len(t))) for t in q_terms]
    exact_terms = sorted(t for t, b in bands if b == 0)
    fuzz_rows = [
        (t, b, length)
        for t, b in bands
        if b > 0
        for length in range(max(1, len(t) - b), len(t) + b + 1)
    ]
    # prune the dictionary to the fuzz lengths PLUS the exact terms'
    # lengths — _fuzzy_selected now looks exact terms up in the vocabulary
    # (for their df) instead of injecting literal rows
    v = _probe_vocab(
        vocab, [r[2] for r in fuzz_rows] + [len(t) for t in exact_terms]
    )
    selected = _fuzzy_selected(
        postings.sparkSession, v, fuzz_rows, exact_terms,
        max_expansions, prefix_length,
    )
    sel_terms = sorted(r.term for r in selected.collect())
    return bm25_from_postings(postings, n_docs, sum_dl, " ".join(sel_terms), k)


def prefix_search_from_postings(
    postings: DataFrame,
    stats: tuple[int, int],
    query: str,
    k: int = 10,
    max_expansions: int = 50,
    *,
    vocab: DataFrame,
) -> DataFrame:
    """:func:`prefix_search` probed from a persisted index — the
    per-keystroke path of the reference's search box
    (/root/reference/news_app/app/app/src/SearchUI.js:45-46): the
    unfinished token expands against the index's ``vocab`` (row-group
    min/max on the term-sorted files prunes inside each length
    partition), then the bounded expansion set (≤ terms + max_expansions)
    scores through :func:`bm25_from_postings` as a space-joined query of
    dictionary tokens. ``stats`` is the index's (n_docs, sum_dl).
    Identical output to the corpus-scan form."""
    n_docs, sum_dl = stats
    toks = query_terms(query)
    if not toks:
        return bm25_from_postings(postings, n_docs, sum_dl, "", k)
    *full_terms, prefix = toks
    full_terms = sorted(set(full_terms))
    expansions = (
        vocab.filter(F.col("term").startswith(prefix))
        .orderBy(F.desc("df"), F.col("term"))
        .limit(max_expansions)
        .select("term")
    )
    sel_terms = sorted({r.term for r in expansions.collect()} | set(full_terms))
    return bm25_from_postings(postings, n_docs, sum_dl, " ".join(sel_terms), k)


def term_suggest_from_vocab(
    vocab: DataFrame,
    term: str,
    max_edits: int = 2,
    prefix_length: int = 1,
    k: int = 5,
) -> DataFrame:
    """:func:`term_suggest` probed from an index's (term, df, tlen) terms
    dictionary (the persisted ``vocab`` sidecar or the in-memory cached
    one) — identical output to
    the corpus-scan form, but per keystroke it touches only the ``tlen``
    partitions inside the ±``max_edits`` length band (edit distance can
    never beat the length gap), never the postings, never the corpus."""
    q = term.lower()
    lens = list(range(max(1, len(q) - max_edits), len(q) + max_edits + 1))
    v = _probe_vocab(vocab, lens)
    pref = q[: max(0, prefix_length)]
    cand = v.filter(
        (F.substring("term", 1, len(pref)) == F.lit(pref))
        & (F.abs(F.length("term") - F.lit(len(q))) <= F.lit(max_edits))
        & (F.col("term") != F.lit(q))
    )
    return (
        cand.withColumn("distance", F.levenshtein(F.col("term"), F.lit(q)))
        .filter(F.col("distance") <= F.lit(max_edits))
        .select("term", "df", "distance")
        .orderBy("distance", F.desc("df"), "term")
        .limit(k)
    )


def sql_fuzzy_match_search(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    max_expansions: int = 50,
    prefix_length: int = 0,
) -> str:
    """DuckDB SQL reproducing :func:`fuzzy_match_search` exactly — same
    tokenizer, same AUTO bands computed driver-side, same
    (distance, df DESC, term) per-query-term expansion cap, same BM25.
    DuckDB's ``levenshtein`` and Spark's agree (plain unit-cost edits,
    proven by the term_suggest parity row)."""
    q_terms = sorted(set(query_terms(query)))
    if not q_terms:
        raise ValueError("sql_fuzzy_match_search: empty query")
    bands = [(t, fuzzy_auto_band(len(t))) for t in q_terms]
    exact_terms = sorted(t for t, b in bands if b == 0)
    fuzz = [(t, b) for t, b in bands if b > 0]
    parts = []
    if fuzz:
        qt_vals = ", ".join(
            f"('{t.replace(chr(39), chr(39) * 2)}', {b})" for t, b in fuzz
        )
        pref_pred = (
            f"\n    AND substr(dft.term, 1, {prefix_length})"
            f" = substr(qt.qterm, 1, {prefix_length})"
            if prefix_length > 0
            else ""
        )
        parts.append(
            f"""qt(qterm, band) AS (
  VALUES {qt_vals}
), cand AS (
  SELECT dft.term, dft.df, qt.qterm,
         levenshtein(dft.term, qt.qterm) AS distance
  FROM dft, qt
  WHERE abs(length(dft.term) - length(qt.qterm)) <= qt.band
    AND levenshtein(dft.term, qt.qterm) <= qt.band{pref_pred}
), expansions AS (
  SELECT term FROM (
    SELECT term,
           row_number() OVER (
             PARTITION BY qterm ORDER BY distance, df DESC, term
           ) AS rnk
    FROM cand
  ) WHERE rnk <= {max_expansions}
)"""
        )
        sel_src = "SELECT term FROM expansions"
    else:
        sel_src = None
    if exact_terms:
        lits = " UNION ALL ".join(
            "SELECT '{}' AS term".format(t.replace("'", "''")) for t in exact_terms
        )
        parts.append(f"exact AS ({lits})")
        sel_src = (
            f"SELECT term FROM expansions UNION ALL SELECT term FROM exact"
            if sel_src
            else "SELECT term FROM exact"
        )
    extra_ctes = (", " + ", ".join(parts)) if parts else ""
    return f"""
WITH {_sql_tf_prelude(table, id_col, text_col)}{extra_ctes}, sel AS (
  SELECT DISTINCT term FROM ({sel_src})
), {_sql_bm25_tail(k)}
"""


def rrf_fuse(
    rankings,
    rank_const: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009; ES 8's hybrid-retrieval
    combiner): fused_score(d) = Σ over result lists 1/(rank_const +
    rank(d)), ranks 1-based, absent-from-a-list contributes nothing —
    the standard way to merge a lexical (BM25) and a vector (kNN) ranking
    without score calibration. ``rankings`` is a sequence of
    (frame, id_col, score_col) triples; each frame is a TOP-K result
    (bounded — ranks derive from a window over ≤ k rows, never a corpus),
    ranked (score DESC, id ASC) exactly as every scorer here emits.
    Output (doc_id, rrf_score) top-k, ties by id. With two lists the
    per-doc sum has ≤ 2 addends, so IEEE addition is order-exact and the
    fused score replays bit-identically in the DuckDB oracle."""
    from pyspark.sql import Window

    parts = []
    for frame, id_col, score_col in rankings:
        w = Window.orderBy(F.desc(score_col), F.col(id_col))
        parts.append(
            frame.select(
                F.col(id_col).alias("doc_id"),
                F.row_number().over(w).alias("rnk"),
            )
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return (
        unioned.groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(rank_const) + F.col("rnk"))), 6
            ).alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), F.col("doc_id"))
        .limit(k)
    )


def linear_fuse(
    rankings,
    k: int = 10,
) -> DataFrame:
    """ES 8's ``linear`` retriever combiner: each arm's TOP-WINDOW scores
    are min-max normalized to [0, 1] WITHIN that window, then
    fused(d) = Σ weight_i · norm_i(d), a doc absent from an arm
    contributing 0 — the weighted convex combine that IS well-defined
    once a normalizer is explicit (the raw-score sum ES calls
    ``normalizer: none`` stays refused upstream: summing BM25 and cosine
    without normalization needs calibration this engine won't fake).

    ``rankings`` is a sequence of (frame, id_col, score_col, weight)
    tuples; each frame is a bounded top-window result, so the per-arm
    min/max is a one-row aggregate broadcast back onto ≤ window rows.
    A DEGENERATE window (max == min — every hit scored identically,
    incl. single-hit windows) raises at evaluation rather than guessing:
    ES's minmax behavior for a zero-range window is version-dependent
    and a silent constant would reorder the fuse. Output
    (doc_id, lin_score) top-k, round 6, ties by id; with two arms the
    per-doc sum has ≤ 2 addends, IEEE-order-exact, so the fused score
    replays bit-identically in the DuckDB oracle."""
    from pyspark.sql import Window

    outs = []
    for i, (frame, id_col, score_col, weight) in enumerate(rankings):
        # unpartitioned min/max window over the ≤window-row arm frame
        # (bounded by contract) — no one-row crossJoin (a keyless BNLJ
        # the plan audit would flag as the non-scalar pattern), no sort
        w = Window.partitionBy()
        mn = F.min(score_col).over(w)
        mx = F.max(score_col).over(w)
        norm = (
            F.when(mx > mn, (F.col(score_col) - mn) / (mx - mn))
            .otherwise(F.raise_error(F.lit(
                "linear retriever: degenerate score window (max == min) — "
                "minmax normalization is undefined; narrow the arm or use "
                "rank: {rrf}"
            )))
        )
        outs.append(
            frame.select(
                F.col(id_col).alias("doc_id"),
                (norm * F.lit(float(weight))).alias(f"__w{i}"),
            )
        )
    fused = outs[0]
    for o in outs[1:]:
        fused = fused.join(o, "doc_id", "full_outer")
    total = None
    for i in range(len(outs)):
        part = F.coalesce(F.col(f"__w{i}"), F.lit(0.0))
        total = part if total is None else total + part
    return (
        fused.select("doc_id", F.round(total, 6).alias("lin_score"))
        .orderBy(F.desc("lin_score"), F.col("doc_id"))
        .limit(k)
    )


def more_like_this_from_postings(
    postings: DataFrame,
    stats: tuple[int, int],
    src_doc_id,
    k: int = 10,
    max_query_terms: int = 8,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> DataFrame:
    """``more_like_this`` probed from a persisted index — the interactive
    path (ES fetches the source doc's term vector, selects terms, then
    runs a pruned terms query; this does the same against the parquet
    postings). Identical output to :func:`more_like_this` over the same
    corpus (same selection math, same BM25, same exclusions) — pinned by
    ``tests/test_engine.py``.

    Two bounded driver round-trips, mirroring ES's interactive shape:
    (1) the SOURCE doc's posting rows (one doc's vocabulary — the term
    vector fetch; a full-scale deployment would also persist a doc-
    partitioned forward index to prune this scan), then (2) df for just
    those terms via a BUCKET-PRUNED probe (buckets are known once the
    terms are). Selection (tf·ln(N/df), 6-dp round, alphabetical
    tie-break, min_term_freq/min_doc_freq) runs driver-side over ≤ one
    doc's vocabulary. Scoring reuses :func:`bm25_from_postings` — the
    selected terms ARE tokens, so a space-joined query string re-analyzes
    to exactly them — probing k+1 and dropping the source. ``stats`` is
    the index's (n_docs, sum_dl)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def _round6(x: float) -> float:
        # Replicate F.round's HALF_UP (which the DuckDB oracle shares for
        # the non-negative selection scores) — Python's round() is
        # half-to-even and could pick a different term set on an exact
        # half-tie at the 6th decimal. Decimal(repr(x)) mirrors Spark's
        # BigDecimal.valueOf(double) shortest-representation semantics.
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    n_docs, sum_dl = stats
    src_rows = (
        postings.filter(F.col("doc_id") == F.lit(src_doc_id))
        .filter(F.col("tf") >= F.lit(min_term_freq))
        .select("term", "tf")
        .collect()
    )
    if not src_rows:
        return bm25_from_postings(postings, n_docs, sum_dl, "", k)  # empty, right schema
    df_rows = (
        _term_rows(postings, (r.term for r in src_rows))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    df_by_term = {r.term: r.df for r in df_rows}
    ranked = sorted(
        (
            (-_round6(r.tf * math.log(n_docs / df_by_term[r.term])), r.term)
            for r in src_rows
            if df_by_term.get(r.term, 0) >= min_doc_freq
        ),
    )[:max_query_terms]
    query = " ".join(t for _, t in ranked)
    hits = bm25_from_postings(postings, n_docs, sum_dl, query, k + 1)
    return (
        hits.filter(F.col("doc_id") != F.lit(src_doc_id))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


def _sql_id_lit(v) -> str:
    """Render a doc id as a SQL literal: strings quote-escape, numerics
    pass through — so emitters accept any id type the Spark twins do."""
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def sql_more_like_this(
    table: str,
    id_col: str,
    text_col: str,
    src_doc_id,
    k: int = 10,
    max_query_terms: int = 8,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> str:
    """DuckDB SQL reproducing :func:`more_like_this` exactly — same
    tokenizer, same tf·ln(N/df) selection with the 6-dp round and
    (score DESC, term) tie-break, same BM25 scoring over the selected
    terms, same source-doc exclusion and 4-dp rounding."""
    src_lit = _sql_id_lit(src_doc_id)
    excl_src = f"\n  WHERE tf.doc_id <> {src_lit}"
    return f"""
WITH {_sql_tf_prelude(table, id_col, text_col)}, sel AS (
  SELECT term
  FROM (
    SELECT tf.term,
           row_number() OVER (
             ORDER BY round(tf.tf * ln(CAST(stats.n_docs AS DOUBLE) / dft.df), 6) DESC,
                      tf.term
           ) AS rnk
    FROM tf, dft, stats
    WHERE tf.doc_id = {src_lit} AND tf.term = dft.term
      AND tf.tf >= {min_term_freq} AND dft.df >= {min_doc_freq}
  ) WHERE rnk <= {max_query_terms}
), {_sql_bm25_tail(k, where=excl_src)}
"""


def term_suggest(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    term: str,
    max_edits: int = 2,
    prefix_length: int = 1,
    k: int = 5,
) -> DataFrame:
    """ES term suggester ("did you mean"): corpus terms within
    ``max_edits`` Levenshtein edits of the input, ranked by (distance ASC,
    doc frequency DESC, term ASC) — (term, df, distance).

    Scale shape mirrors ES's candidate pruning: the vocabulary (distinct
    terms + doc frequency, one term shuffle — tiny vs the corpus) is
    pre-filtered by the two cheap exact bounds before any edit-distance
    evaluation: a shared ``prefix_length``-char prefix (ES default 1 — an
    FST prefix walk there, a pushable equality here) and
    ``|len(t) − len(q)| ≤ max_edits`` (a length band; edit distance can
    never beat the length gap). Levenshtein runs only on the surviving
    sliver. The exact-match term itself is excluded (ES suggest_mode
    behavior for the candidate list: you don't suggest the word typed)."""
    q = term.lower()
    vocab = _vocab_df(docs, id_col, text_col)
    pref = q[: max(0, prefix_length)]
    cand = vocab.filter(
        (F.substring("term", 1, len(pref)) == F.lit(pref))
        & (F.abs(F.length("term") - F.lit(len(q))) <= F.lit(max_edits))
        & (F.col("term") != F.lit(q))
    )
    return (
        cand.withColumn("distance", F.levenshtein(F.col("term"), F.lit(q)))
        .filter(F.col("distance") <= F.lit(max_edits))
        .orderBy("distance", F.desc("df"), "term")
        .limit(k)
    )


def sql_term_suggest(
    table: str,
    id_col: str,
    text_col: str,
    term: str,
    max_edits: int = 2,
    prefix_length: int = 1,
    k: int = 5,
) -> str:
    """DuckDB SQL reproducing :func:`term_suggest` exactly (DuckDB's
    ``levenshtein`` and Spark's agree: plain unit-cost edit distance).

    Prefix and length band derive from the RAW lowered term — quote
    escaping happens only when rendering string literals, so an
    apostrophe in the input can neither shift the length band off the
    Spark twin's nor break the emitted SQL."""
    q = term.lower()
    pref = q[: max(0, prefix_length)]
    q_lit = q.replace("'", "''")
    pref_lit = pref.replace("'", "''")
    return f"""
WITH vocab AS (
  SELECT term, count(*) AS df
  FROM (
    SELECT {id_col} AS doc_id, unnest(list_distinct({sql_tokenize(text_col)})) AS term
    FROM {table}
  )
  GROUP BY term
), cand AS (
  SELECT term, CAST(df AS BIGINT) AS df,
         CAST(levenshtein(term, '{q_lit}') AS INTEGER) AS distance
  FROM vocab
  WHERE substr(term, 1, {len(pref)}) = '{pref_lit}'
    AND abs(length(term) - {len(q)}) <= {max_edits}
    AND term <> '{q_lit}'
)
SELECT term, df, distance FROM cand
WHERE distance <= {max_edits}
ORDER BY distance, df DESC, term LIMIT {k}
"""


def _phrase_variants(terms: list[str], cands: dict[int, list[str]],
                     max_errors: int) -> list[list[str]]:
    """All candidate phrases: the input itself, every single-slot
    substitution, and (max_errors ≥ 2) every two-slot substitution.
    Distinct by construction (a substituted slot never equals the
    original term, so distinct slot subsets give distinct phrases)."""
    out = [list(terms)]
    n = len(terms)
    for i in range(n):
        for c in cands.get(i, ()):
            p = list(terms)
            p[i] = c
            out.append(p)
    if max_errors >= 2:
        for i in range(n):
            for j in range(i + 1, n):
                for ci in cands.get(i, ()):
                    for cj in cands.get(j, ()):
                        p = list(terms)
                        p[i], p[j] = ci, cj
                        out.append(p)
    return out


def phrase_suggest(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    max_edits: int = 2,
    prefix_length: int = 1,
    per_term: int = 3,
    max_errors: int = 2,
    k: int = 3,
) -> DataFrame:
    """ES PHRASE suggester ("did you mean" over whole queries): candidate
    corrections of the full query string, re-ranked by a corpus-trained
    bigram language model — the composition the term suggester can't do
    ("sparc strean" → "spark stream" requires knowing the two fixes
    CO-OCCUR, not just that each term is one edit off; with a single
    substitution the corrected bigram stays unseen and scores the floor).

    Candidate generation is the term suggester's banded vocabulary probe
    per query slot (same prefix + length-band + levenshtein pruning,
    ranked distance ASC / df DESC / term ASC, top ``per_term`` each),
    collected in ONE bounded ≤ n·per_term-row driver round-trip — ES's
    coordinator does its candidate enumeration in exactly this place.
    Candidate phrases substitute up to ``max_errors`` (≤ 2) slots; the
    phrase set (1 + n·c + C(n,2)·c² worst case) stays driver-bounded.
    Re-ranking is the add-one-smoothed bigram model of operators.lm
    (same micro-nat quantization, so scores are order-invariant and
    engine-exact): each phrase scores its mean bigram cross-entropy in
    nats, LOWER = likelier. The INPUT phrase is scored too (first row =
    the input means "your query is already the likeliest" — ES exposes
    the same comparison through its confidence knob).

    Scale shape: the vocabulary and the bigram model are each one
    corpus-pass aggregate (dictionary-sized outputs); the phrase
    candidates are a driver-bounded sliver, so the model JOIN is pruned
    by a broadcast semi-join of the candidate bigram keys before
    anything joins — the corpus-sized frames never shuffle toward the
    candidates. Output (suggestion, xent_nats), xent ASC, top-k."""
    from pandemic_knowledge_spark.operators.lm import MICRO, _doc_bigrams

    terms = query_terms(query)
    if len(terms) < 2:
        raise ValueError(
            "phrase_suggest needs a multi-term query (term_suggest covers "
            "single terms)"
        )
    if max_errors not in (1, 2):
        raise ValueError("phrase_suggest supports max_errors 1 or 2")
    n = len(terms)
    spark = docs.sparkSession
    # dictionary-sized; checkpointed because BOTH the per-slot candidate
    # collect and the final plan's |V| fold consume it — uncheckpointed,
    # the full corpus tokenize+explode+groupBy lineage ran twice (the
    # SQL twin pays once via vocab AS MATERIALIZED; r10 review find)
    vocab = _vocab_df(docs, None, text_col).localCheckpoint(eager=False)

    # one union over the dictionary, one window rank, ONE bounded collect
    # (≤ n·per_term rows) — the coordinator-side candidate enumeration
    slot_frames = []
    for i, t in enumerate(terms):
        pref = t[: max(0, prefix_length)]
        slot_frames.append(
            vocab.filter(
                (F.substring("term", 1, len(pref)) == F.lit(pref))
                & (F.abs(F.length("term") - F.lit(len(t))) <= F.lit(max_edits))
                & (F.col("term") != F.lit(t))
            )
            .withColumn("distance", F.levenshtein(F.col("term"), F.lit(t)))
            .filter(F.col("distance") <= F.lit(max_edits))
            .select(F.lit(i).alias("slot"), "term", "df", "distance")
        )
    allc = slot_frames[0]
    for fr in slot_frames[1:]:
        allc = allc.unionByName(fr)
    from pyspark.sql import Window

    w = Window.partitionBy("slot").orderBy("distance", F.desc("df"), "term")
    picked = (
        allc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_term)
        .select("slot", "term")
        .collect()
    )
    cands: dict[int, list[str]] = {}
    for r in picked:
        cands.setdefault(r["slot"], []).append(r["term"])
    rows = [
        (" ".join(p), p[j], p[j + 1])
        for p in _phrase_variants(terms, cands, max_errors)
        for j in range(n - 1)
    ]
    sb = spark.createDataFrame(rows, "suggestion string, a string, b string")

    pairs = _doc_bigrams(docs, id_col, text_col)
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    hist = big.groupBy("a").agg(F.sum("c_ab").alias("h_a"))
    v = vocab.agg(F.count(F.lit(1)).alias("v"))
    keys = sb.select("a", "b").distinct()
    big_f = big.join(F.broadcast(keys), ["a", "b"], "left_semi")
    hist_f = hist.join(F.broadcast(keys.select("a").distinct()), "a", "left_semi")
    scored = (
        sb.join(F.broadcast(big_f), ["a", "b"], "left")
        .join(F.broadcast(hist_f), "a", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "suggestion",
            F.round(
                F.log(
                    (F.coalesce("c_ab", F.lit(0)) + 1).cast("double")
                    / (F.coalesce("h_a", F.lit(0)) + F.col("v"))
                )
                * MICRO
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        scored.groupBy("suggestion")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("lp_micro").alias("s"))
        .select(
            "suggestion",
            F.round(-F.col("s") / F.col("nb") / MICRO, 4).alias("xent_nats"),
        )
        .orderBy("xent_nats", "suggestion")
        .limit(k)
    )


def sql_phrase_suggest(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    max_edits: int = 2,
    prefix_length: int = 1,
    per_term: int = 3,
    max_errors: int = 2,
    k: int = 3,
) -> str:
    """DuckDB SQL reproducing :func:`phrase_suggest` exactly — the same
    per-slot banded candidate CTEs (candidate enumeration stays IN SQL
    where the Spark side does a bounded collect; both rank candidates by
    the identical total order, so the sets can't diverge), the same
    driver-unrolled bigram rows per candidate phrase, the operators.lm
    smoothing/micro-nat idiom."""
    from pandemic_knowledge_spark.operators.lm import MICRO

    terms = query_terms(query)
    if len(terms) < 2:
        raise ValueError(
            "phrase_suggest needs a multi-term query (term_suggest covers "
            "single terms)"
        )
    if max_errors not in (1, 2):
        raise ValueError("phrase_suggest supports max_errors 1 or 2")
    n = len(terms)

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    cand_ctes, sugg_sels = [], []
    orig = " ".join(terms)
    for j in range(n - 1):
        sugg_sels.append(
            f"SELECT {lit(orig)} AS suggestion, {lit(terms[j])} AS a,"
            f" {lit(terms[j + 1])} AS b"
        )
    for i, t in enumerate(terms):
        pref = t[: max(0, prefix_length)]
        cand_ctes.append(
            f"""cand{i} AS (
  SELECT term AS cand FROM (
    SELECT term, df, levenshtein(term, {lit(t)}) AS distance FROM vocab
    WHERE substr(term, 1, {len(pref)}) = {lit(pref)}
      AND abs(length(term) - {len(t)}) <= {max_edits}
      AND term <> {lit(t)}
  ) WHERE distance <= {max_edits}
  ORDER BY distance, df DESC, term LIMIT {per_term}
)"""
        )
        strparts = [lit(x) for x in terms]
        strparts[i] = "cand"
        sugg_expr = " || ' ' || ".join(strparts)
        for j in range(n - 1):
            sugg_sels.append(
                f"SELECT {sugg_expr} AS suggestion, {strparts[j]} AS a,"
                f" {strparts[j + 1]} AS b FROM cand{i}"
            )
    if max_errors >= 2:
        for i in range(n):
            for j2 in range(i + 1, n):
                strparts = [lit(x) for x in terms]
                strparts[i] = f"s{i}.cand"
                strparts[j2] = f"s{j2}.cand"
                sugg_expr = " || ' ' || ".join(strparts)
                src = f"cand{i} AS s{i} CROSS JOIN cand{j2} AS s{j2}"
                for j in range(n - 1):
                    sugg_sels.append(
                        f"SELECT {sugg_expr} AS suggestion, {strparts[j]} AS a,"
                        f" {strparts[j + 1]} AS b FROM {src}"
                    )
    union = "\n  UNION ALL ".join(sugg_sels)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
vocab AS MATERIALIZED (
  SELECT term, count(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
  GROUP BY term
),
vsz AS (SELECT count(*) AS v FROM vocab),
pairs AS MATERIALIZED (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
big AS MATERIALIZED (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
hist AS (SELECT a, sum(c_ab) AS h_a FROM big GROUP BY a),
{', '.join(cand_ctes)},
sb AS ({union}),
scored AS (
  SELECT sb.suggestion,
         CAST(round(ln(CAST(coalesce(g.c_ab, 0) + 1 AS DOUBLE)
                       / (coalesce(h.h_a, 0) + vsz.v)) * {MICRO}) AS BIGINT)
           AS lp_micro
  FROM sb
  LEFT JOIN big g ON sb.a = g.a AND sb.b = g.b
  LEFT JOIN hist h ON sb.a = h.a
  CROSS JOIN vsz
)
SELECT suggestion,
       round(-CAST(sum(lp_micro) AS DOUBLE) / count(*) / {MICRO}, 4)
         AS xent_nats
FROM scored GROUP BY suggestion
ORDER BY xent_nats, suggestion LIMIT {k}
"""


def sql_bm25_search(table: str, id_col: str, text_col: str, query: str, k: int = 10) -> str:
    """DuckDB SQL reproducing :func:`bm25_search` exactly."""
    q_terms = sorted(set(query_terms(query)))
    terms_list = ", ".join(f"'{t}'" for t in q_terms)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id,
         regexp_extract_all(lower({text_col}), '[a-z0-9]+') AS toks
  FROM {table}
), base2 AS (
  SELECT doc_id, toks, len(toks) AS dl FROM base
), stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base2
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base2)
  WHERE term IN ({terms_list})
  GROUP BY doc_id, dl, term
), dft AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (tf.tf * ({BM25_K1} + 1))
         / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs)))
         AS term_score
  FROM tf, dft, stats
  WHERE tf.term = dft.term
)
SELECT doc_id, round(sum(term_score), 4) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {k}
"""


def sql_search_after(
    table: str, id_col: str, text_col: str, query: str, k: int, page: int
) -> str:
    """DuckDB oracle for search_after page ``page`` (0-based): because the
    (score DESC, doc_id) sort is TOTAL (doc_id unique), the keyset-cursor
    page is exactly rows page·k+1 … (page+1)·k of the ranked frame — the
    oracle states the rank-window definition, the Spark side navigates by
    cursor; hash equality proves keyset ≡ offset semantics."""
    inner = sql_bm25_search(table, id_col, text_col, query, k=(page + 1) * k)
    return f"""
WITH ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM ({inner.strip().rstrip()})
)
SELECT doc_id, score FROM ranked
WHERE rnk > {page * k}
ORDER BY score DESC, doc_id
"""


# ---------------------------------------------------------------------------
# Persisted inverted index (SURVEY.md §4.2 — the ES index analogue)
# ---------------------------------------------------------------------------

N_TERM_BUCKETS = 16
"""Term buckets of every index layout (``bucket`` = crc32(term) mod this).

Every append writes one postings file per bucket, and every read of
``postings/`` lists the bucket dirs: Spark lists up to 32 of them on the
driver (``spark.sql.sources.parallelPartitionDiscovery.threshold``'s
default) and starts a listing job above that. So the count stays ≤ 32,
and a committed index opens with no Spark job. Chosen, against 8, 32
and 64, for the scales this repo runs: the ingest stream's 200-doc base
growing by 14-doc batches, news_search's 5000 docs and sf1's 50000. On
a 4-vCPU VM, 8, 16 and 32 were within run-to-run noise of each other
on append and probe time at the ingest scale, where 64 appended about
1.5x slower; 16 gave news_search the lowest index set-up time; and at
sf1 probe latency was flat from 8 to 64 buckets, so probes do not wait
on the terms/16 scan. Of the tied counts, 16 lists half the dirs of 32
and prunes twice as much as 8 where the index grows. A layout written with
another count is rejected at :meth:`SearchIndex.load` and must be
rebuilt."""


def term_bucket_py(term: str) -> int:
    """Python-side term bucket — MUST mirror :func:`_bucket_col` (crc32
    over UTF-8 agrees between zlib and Spark's F.crc32), so a query can
    enumerate its terms' buckets client-side and get parquet PARTITION
    PRUNING on the probe."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % N_TERM_BUCKETS


def _bucket_sql() -> str:
    """The term-bucket expression every postings builder partitions by, as
    SQL text (:data:`N_TERM_BUCKETS` is read when the plan is built)."""
    return f"CAST(pmod(crc32(term), {N_TERM_BUCKETS}) AS INT)"


def _bucket_col():
    """:func:`_bucket_sql` as a Column."""
    return F.expr(_bucket_sql())


def _term_buckets(terms) -> tuple[list, list]:
    """(sorted distinct ``terms``, their sorted buckets) — the one place a
    probe maps terms to buckets."""
    terms = sorted(set(terms))
    return terms, sorted({term_bucket_py(t) for t in terms})


def _term_rows(frame: DataFrame, terms) -> DataFrame:
    """``frame``'s posting rows for ``terms``, pruned to their buckets (a
    partition filter on a persisted layout)."""
    terms, buckets = _term_buckets(terms)
    return frame.filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))


def _query_term_rows_sql(query: str) -> str:
    """:func:`_term_rows`'s predicate for the terms of ``query``, as SQL
    text. The terms are inlined as literals only because
    :func:`query_terms` yields TOKEN_RE matches (``[a-z0-9]+``), which
    need no quoting. A caller with terms from the index — the terms
    dictionary or the postings, which hold tokens — passes them
    space-joined, and they re-analyze to themselves; any other terms go
    through :func:`_term_rows`. A query with no terms matches nothing."""
    terms, buckets = _term_buckets(query_terms(query))
    if not terms:
        return "false"
    quoted = ", ".join(f"'{t}'" for t in terms)
    return f"bucket IN ({', '.join(map(str, buckets))}) AND term IN ({quoted})"


def build_postings(
    docs: DataFrame, id_col: str, text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """One corpus pass → (postings, doc_lens).

    postings: (doc_id, dl, term, tf, bucket) — the per-(term, doc) posting
    list with the doc-length norm denormalized in (ES stores norms per doc;
    at parquet scale the duplicated int is cheaper than a second join).
    doc_lens: (doc_id, dl), one row per doc, zero-token docs included
    (dl = 0) — the indexed-id set, and the rows the corpus stats
    (n_docs, sum_dl) sum: exact integers, so scores computed from the
    index are bit-identical to the direct corpus scorer, which counts
    empty docs too.

    Persist postings partitioned by ``bucket`` (crc32(term) mod
    :data:`N_TERM_BUCKETS`): a query's terms map
    to a handful of buckets, so an indexed probe reads ~terms/buckets of
    the index — the partition-pruned analogue of ES's term dictionary
    seek. Within a bucket, parquet min/max on the sorted ``term`` column
    prunes row groups further.

    The bucket is computed BEFORE the TF aggregate and the token stream is
    repartitioned by it, so the aggregate and the layout share one
    exchange: ``bucket`` is a function of ``term``, so
    HashPartitioning(bucket) clusters every grouping key, and the same
    partitioning is the persisted layout's — :func:`_bucket_laid` adds no
    second shuffle when an index is saved. Trade-off, documented for
    cluster sizing: the exchange carries raw token rows (no map-side
    combine), ~1.3× the aggregated posting bytes — still under the 2× of
    shuffling the aggregate twice. Tokens pinned (r13): the postings
    explode's inferred size > 0 filter re-ran the tokenizer regexp per
    row through pushdown re-inlining (functions.pinning).

    Built from two SQL statements (the pinned tokens, then the postings
    aggregate): the index append builds this every micro-batch, and as
    Column calls it took about 265 py4j round trips."""
    text = sql_ident(text_col)
    base = sql_over(
        "SELECT *, size(toks) AS dl FROM ("
        f"SELECT *, explode(array({spark_sql_tokenize(text)})) AS toks FROM ("
        f"SELECT {sql_ident(id_col)} AS doc_id, {text} FROM {{docs}}))",
        docs=docs,
    )
    postings = sql_over(
        "SELECT doc_id, dl, term, count(1) AS tf, bucket FROM ("
        f"SELECT doc_id, dl, term, {_bucket_sql()} AS bucket FROM ("
        "SELECT doc_id, dl, explode(toks) AS term FROM {base}) "
        "DISTRIBUTE BY bucket) GROUP BY doc_id, dl, term, bucket",
        base=base,
    )
    return postings, base.select("doc_id", "dl")


def _doc_stat_cols() -> tuple:
    """The (n_docs, sum_dl) corpus-stats aggregates over (doc_id, dl) rows."""
    return F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")


def _bucket_laid(postings: DataFrame) -> DataFrame:
    """The persisted layout every index writer uses — postings in
    :meth:`SearchIndex.save` and :meth:`SearchIndex.append_save`,
    positions in a positional save: one hash partition per bucket, sorted
    (bucket, term) within it. The (bucket, term) prefix satisfies the file
    writer's required ordering (its dynamic-partition column), so no
    second writer-inserted sort runs, and the within-file term order
    (row-group min/max pruning) is guaranteed rather than inherited from
    sort stability. Over a :func:`build_postings` frame the repartition
    matches the aggregate's own exchange and plans none of its own."""
    return postings.repartition("bucket").sortWithinPartitions("bucket", "term")


def _tlen_laid_sql(term_rows: str) -> str:
    """SQL text of :func:`_tlen_laid` over ``term_rows`` (a ``{frame}``
    placeholder or a parenthesized subquery)."""
    return (
        "SELECT term, df, tlen FROM ("
        "SELECT tlen, term, CAST(sum(df) AS BIGINT) AS df FROM ("
        f"SELECT *, length(term) AS tlen FROM {term_rows} DISTRIBUTE BY tlen) "
        "GROUP BY tlen, term SORT BY tlen, term)"
    )


def _tlen_laid(term_rows: DataFrame) -> DataFrame:
    """The persisted ``vocab`` layout from (term, df) rows, where a term
    may sit on several rows (an append's old dictionary plus one row per
    batch doc that has the term): one hash partition per term length, df
    summed per (tlen, term) and sorted (tlen, term) within it — the
    dictionary probes' pruning axes. HashPartitioning(tlen) clusters the
    (tlen, term) grouping key, so the sum and the layout share the one
    exchange, and the (tlen, term) prefix satisfies the file writer's
    dynamic-partition ordering, so writing the laid frame (or a checkpoint
    of it) plans no exchange or sort of its own. One SQL statement
    (:func:`_tlen_laid_sql`)."""
    return sql_over(_tlen_laid_sql("{rows}"), rows=term_rows)


def _merged_vocab(vocab: DataFrame, docs: DataFrame, text_col: str) -> DataFrame:
    """The append's new dictionary in the :func:`_tlen_laid` layout: the
    old ``vocab``'s (term, df) rows plus one (term, 1) row per distinct
    term of each doc in ``docs``, summed — one SQL statement, built every
    index micro-batch."""
    rows = (
        "(SELECT term, df FROM {vocab} UNION ALL SELECT term, "
        f"CAST(1 AS BIGINT) AS df FROM ({_doc_terms_sql(text_col)}))"
    )
    return sql_over(_tlen_laid_sql(rows), vocab=vocab, docs=docs)


def _term_df(postings: DataFrame) -> DataFrame:
    """(term, df) from postings: (doc_id, term) rows are unique, so a
    map-side-combined count per term IS the document frequency."""
    return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def _doc_id_set(postings: DataFrame) -> DataFrame:
    """(doc_id, dl) of the docs that have postings — the id set the
    load-time repair rebuilds ``doc_ids`` from (zero-token docs have no
    posting rows, so only a build's own doc rows list them)."""
    return postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))


def _bm25_score_agg_sql(scored: str, k: int,
                        after: tuple | None = None) -> tuple[str, dict | None]:
    """(SQL text, bound args) of the shared tail of every postings scorer
    over the (doc_id, term_score) rows ``scored``: per-doc score sum →
    top-k.

    ``after`` = (score, doc_id) keyset cursor — ES ``search_after``: keep
    only rows strictly past the cursor in the total (score DESC, doc_id)
    order, THEN top-k. Unlike from/size (the :meth:`Engine.search` offset
    form), page N never re-ranks the N·k prefix: the cursor predicate
    prunes before the top-k heaps, so every page costs the same. The
    cursor values are bound as parameters, not inlined."""
    where, args = "", None
    if after is not None:
        where = " WHERE score < :c_score OR (score = :c_score AND doc_id > :c_id)"
        args = {"c_score": after[0], "c_id": after[1]}
    text = (
        "SELECT * FROM (SELECT doc_id, round(sum(term_score), 4) AS score "
        f"FROM {scored} GROUP BY doc_id){where} "
        f"ORDER BY score DESC, doc_id LIMIT {int(k)}"
    )
    return text, args


def _bm25_score_agg(scored: DataFrame, k: int, after: tuple | None = None) -> DataFrame:
    """:func:`_bm25_score_agg_sql` over the frame ``scored``."""
    text, args = _bm25_score_agg_sql("{scored}", k, after)
    return sql_over(text, args, scored=scored)


def _postings_scores_sql(n_docs: int, sum_dl: int) -> str:
    """SQL subquery text of the BM25 (term, doc) score rows over the
    frame ``{rows}`` — a postings frame already pruned to the query's
    terms (:func:`_query_rows`): df via ``count() OVER (PARTITION BY
    term)`` in the same scan, and ``term_score`` from the one formula with
    (n_docs, sum_dl) as integer literals. Every postings scorer —
    :func:`bm25_from_postings` and the indexed bool door's match clauses —
    aggregates these rows. An empty index has no rows to score: its avgdl
    divides by 1, not 0, which the planner would fold into an error."""
    n_docs, sum_dl = int(n_docs), int(sum_dl)
    idf = _idf_sql(str(n_docs))
    avgdl = f"(CAST({sum_dl} AS DOUBLE) / {max(n_docs, 1)})"
    return (
        f"(SELECT *, {_term_score_sql(idf, avgdl)} AS term_score FROM ("
        "SELECT *, count(1) OVER (PARTITION BY term) AS df FROM {rows}))"
    )


def _query_rows(postings: DataFrame, query: str) -> DataFrame:
    """``postings``'s rows for the terms of ``query``, bucket-pruned
    (:func:`_query_term_rows_sql`) — the ``{rows}`` frame a scorer
    statement reads."""
    return postings.where(_query_term_rows_sql(query))


def bm25_from_postings(
    postings: DataFrame, n_docs: int, sum_dl: int, query: str, k: int = 10,
    after: tuple | None = None,
) -> DataFrame:
    """BM25 top-k scored ENTIRELY from the posting tables — no corpus scan,
    no tokenize — and the one postings scorer: :meth:`SearchIndex.search`
    and the fuzzy, prefix and more-like-this probes all score through it.
    Identical output to :func:`bm25_search` (same tf/dl/df/corpus stats,
    same formula, same 4 dp rounding).

    One SQL statement over one pruned scan (:func:`_query_rows`): df per
    term recomputed from the pruned rows by a window (``(doc_id, term)``
    rows are unique, so a count per term IS the document frequency —
    cheaper than persisting and probing a second table), the term scores
    with the corpus stats (n_docs, sum_dl) as integer literals
    (:func:`_postings_scores_sql`), and the top-k tail
    (:func:`_bm25_score_agg_sql`; ``after`` is its keyset cursor, bound as
    parameters). The window shuffles the candidate posting rows by term,
    so each term's posting list lands in one task: at a size where one
    stop-word-frequency term matches most of a huge corpus that task is
    the skew bottleneck, far past any interactive index.

    The ingest probe builds this for every tick; as Column calls it took
    about 420 py4j round trips."""
    text, args = _bm25_score_agg_sql(_postings_scores_sql(n_docs, sum_dl), k, after)
    return sql_over(text, args, rows=_query_rows(postings, query))


def _layout_fingerprint(files: list, subdir: str) -> str:
    """Content fingerprint of a persisted index artifact: sha256 over the
    sorted names of its data ``files`` (a frame's ``inputFiles()``, a
    driver-side listing — no data scan). Appends
    add files and never rewrite them, so fingerprint equality ⇔ the
    sidecars were derived from exactly these files. Stored in the
    ``meta.json`` record, committed LAST at every save/append; a mismatch
    at load means a crash landed between an artifact and the record."""
    import hashlib

    names = sorted(f.rsplit(f"/{subdir}/", 1)[-1] for f in files)
    return hashlib.sha256("\n".join(names).encode("utf-8")).hexdigest()


def _postings_fingerprint(postings: DataFrame) -> str:
    """Fingerprint of the postings artifact — a mismatch vs the record
    triggers a one-time DERIVED-sidecar rebuild (self-healing, never wrong —
    the postings remain the single source of truth for vocab/doc_ids/stats)."""
    return _layout_fingerprint(postings.inputFiles(), "postings")


def _file_schema(frame: DataFrame) -> dict:
    """``frame``'s schema as a parquet read of its written files reports
    it — every field and element nullable, as Spark's parquet writer
    stores them — in the JSON form the ``meta.json`` record holds."""

    def nullable(v):
        if isinstance(v, dict):
            return {
                k: True if k in ("nullable", "containsNull", "valueContainsNull")
                else nullable(x)
                for k, x in v.items()
            }
        return [nullable(x) for x in v] if isinstance(v, list) else v

    return nullable(frame.schema.jsonValue())


def _read_artifact(spark, path: str, name: str, schemas: dict) -> DataFrame:
    """Open the index artifact ``{path}/{name}``: with the record's schema
    when ``schemas`` has it (a listing, no Spark job), else by parquet
    schema inference (one job — the repair, which has no record)."""
    from pyspark.sql.types import StructType

    r = spark.read
    if name in schemas:
        r = r.schema(StructType.fromJson(schemas[name]))
    return r.parquet(f"{path}/{name}")


def _read_present_artifact(spark, path: str, name: str,
                           schemas: dict) -> DataFrame | None:
    """:func:`_read_artifact`, or None when the artifact is absent: no
    directory, or one with no data file to infer a schema from (a first
    write that crashed before its commit). Any other read error
    propagates, so an existing artifact is never taken for none."""
    from pyspark.errors import AnalysisException

    try:
        return _read_artifact(spark, path, name, schemas)
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return None


def _read_index_meta(spark, path: str) -> dict | None:
    """The committed ``meta.json`` record as a dict (no Spark job), or None
    — no commit yet, or a record written before records carried
    ``schemas``: each means 'repair'."""
    from pandemic_knowledge_spark.streaming.sinks import read_published_file

    text = read_published_file(spark, f"{path}/meta.json")
    try:
        meta = json.loads(text) if text else None
    except ValueError:
        return None
    return meta if meta and "schemas" in meta else None


def _write_vocab(laid: DataFrame, path: str) -> dict:
    """Overwrite the ``vocab`` sidecar with a :func:`_tlen_laid` frame,
    one directory per term length (the FST-analogue pruning axis of the
    dictionary probes). Returns its record schema."""
    laid.write.mode("overwrite").partitionBy("tlen").parquet(f"{path}/vocab")
    return _file_schema(laid)


def _run_side_by_side(spark, *calls) -> list:
    """Run each zero-argument callable in its own thread, wait for all of
    them and return their results in order; the first failure raises once
    every call has finished. Spark sessions schedule jobs from several
    threads safely, and locally two short jobs overlap their task-launch
    overhead. Each thread inherits the caller's Spark local properties and
    ``spark``'s tags (``pyspark.inheritable_thread_target``), so its jobs
    keep the caller's job group — a streaming micro-batch's run id, an
    ``sc.setJobGroup``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # with pinned-thread mode off this returns ``spark`` itself: no JVM
    # thread to inherit from, so each call runs as it is
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futs = [pool.submit(inherit(c) if callable(inherit) else c) for c in calls]
    return [f.result() for f in futs]


def _write_index_sidecars(
    spark,
    path: str,
    postings: DataFrame,
    doc_ids: DataFrame,
    stats: tuple | None = None,
    positional: DataFrame | None = None,
) -> dict:
    """Write the sidecars of a whole index whose ``postings`` (and
    ``positional`` artifact, if any) are already written, then publish
    its ``meta.json`` record — returned — strictly LAST: until then the
    layout reads as stale and :meth:`SearchIndex.load` repairs again, so
    an overwrite in progress never masquerades as fresh. ``doc_ids`` and
    ``vocab`` (one aggregate over the postings, laid by
    :func:`_tlen_laid`) are written side by side
    (:func:`_run_side_by_side`, in the caller's job group). The
    fingerprints list the written files through the schemas the record
    stores, so they read no data and infer nothing.

    ``doc_ids``: the (doc_id, dl) rows to write — a build's, zero-token
    docs included (:meth:`SearchIndex.save`), or the postings' own id
    set (the load-time repair, which has nothing but posting rows to
    read). ``stats``: (n_docs, sum_dl) when the caller holds them (a
    loaded handle, or a build whose stats were already collected);
    None = sum the written ``doc_ids``."""
    schemas = {"postings": _file_schema(postings), "doc_ids": _file_schema(doc_ids)}
    if positional is not None:
        schemas["positions"] = _file_schema(positional)
    _, schemas["vocab"] = _run_side_by_side(
        spark,
        lambda: doc_ids.write.mode("overwrite").parquet(f"{path}/doc_ids"),
        lambda: _write_vocab(_tlen_laid(_term_df(postings)), path),
    )

    def fingerprint(name: str) -> str:
        frame = _read_artifact(spark, path, name, schemas)
        return _layout_fingerprint(frame.inputFiles(), name)

    if stats is None:
        row = (
            _read_artifact(spark, path, "doc_ids", schemas)
            .agg(*_doc_stat_cols()).collect()[0]
        )
        stats = (row["n_docs"], row["sum_dl"] or 0)
    return _write_index_meta(
        spark, path, *stats, schemas, fingerprint("postings"),
        fingerprint("positions") if positional is not None else None,
    )


def _write_index_meta(
    spark, path: str, n_docs: int, sum_dl: int,
    schemas: dict, fingerprint: str, pos_fingerprint: str | None = None,
) -> dict:
    """Commit the index: publish its one-line ``meta.json`` record the way
    AtomicTable publishes ``_CURRENT`` (no Spark job) and return it.

    Fields: ``n_docs`` and ``sum_dl`` (the corpus stats, exact integers);
    ``fingerprint`` and ``pos_fingerprint`` (the postings and positions
    file listings the record commits; the latter null without a
    positional artifact); and ``schemas`` — the JSON StructType of ``postings``, ``vocab``,
    ``doc_ids`` and, when present, ``positions``, so :meth:`SearchIndex.load`
    opens every artifact without schema inference."""
    from pandemic_knowledge_spark.streaming.sinks import publish_file

    meta = dict(n_docs=int(n_docs), sum_dl=int(sum_dl),
                fingerprint=fingerprint, pos_fingerprint=pos_fingerprint,
                schemas=schemas)
    publish_file(spark, f"{path}/meta.json", json.dumps(meta))
    return meta


class SearchIndex:
    """Materialized inverted index: build once per ingest, probe per query —
    the Spark analogue of the reference's Elasticsearch index (SURVEY.md
    §4.2; the reference pays this cost in its ES bulk loaders,
    /root/reference/flow/scripts/insert_owid.py bulk(), and then every
    keystroke search is an index probe, never a corpus scan).

    Persisted layout: ``postings/`` (the source of truth, partitioned by
    term bucket) plus three DERIVED sidecars — ``vocab/`` the terms
    dictionary (term, df) partitioned by term length (ES's per-segment FST:
    fuzzy/suggest/prefix probes expand against dictionary slivers, never
    postings), ``doc_ids/`` the indexed-id set with dl norms, zero-token
    docs included (the incremental-ingest dedup guard), and ``meta.json``
    the JSON commit record: corpus stats, the file-listing fingerprints
    and every artifact's schema (:func:`_write_index_meta`). Opening a
    committed index reads the record and lists the files — no Spark job.
    Every layout has :data:`N_TERM_BUCKETS` term buckets; :meth:`load`
    rejects one written with more.

    One scorer: :meth:`search` and the fuzzy, prefix and more-like-this
    probes all score through :func:`bm25_from_postings`, with the corpus
    stats as the two integers :attr:`corpus_stats` — read from the record
    on a loaded handle, collected once from ``doc_ids`` on an in-memory
    build.

    One write path: :meth:`save` writes a whole index, :meth:`append_save`
    adds a batch of documents to a persisted one (creating it on the first
    batch). Both lay postings out with :func:`_bucket_laid` and the terms
    dictionary with :func:`_tlen_laid`; a full write derives its sidecars
    with :func:`_write_index_sidecars`, an append refreshes them
    incrementally in three steps — checkpoint the batch once; append the
    postings beside merging the dictionary into a checkpoint; after the
    postings commit, append ``doc_ids`` beside overwriting ``vocab``.
    Either way the record is published LAST
    (streaming.sinks.publish_file, as AtomicTable's ``_CURRENT``) and is
    validated against the postings fingerprint at :meth:`load`, which
    rebuilds the sidecars from postings on mismatch or absence — a crash
    anywhere in a write degrades to a one-time repair, never a wrong answer."""

    def __init__(self, postings: DataFrame, vocab: DataFrame, doc_ids: DataFrame,
                 corpus_stats: tuple | None = None,
                 positional: DataFrame | None = None) -> None:
        self.postings = postings
        # (n_docs, sum_dl) as plain ints: given by a loaded handle's
        # record, collected on first use by an in-memory build
        self._corpus_stats = corpus_stats
        # Terms dictionary (term, df, tlen) and indexed-id set (doc_id, dl):
        # persisted sidecars on a loaded index, derivations (cached on
        # request) on an in-memory build.
        self.vocab = vocab
        self.doc_ids = doc_ids
        # Positional postings (bucket, term, doc_id, positions) — an
        # OPT-IN peer artifact (ES stores positions in the index when the
        # mapping asks for phrase queries), NOT derivable from the tf
        # postings: present only on positional builds/layouts; phrase
        # probes require it.
        self.positional = positional

    @classmethod
    def build(cls, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              cache: bool = True, positional: bool = False) -> "SearchIndex":
        """Tokenize the corpus ONCE; optionally pin the postings in the cache
        manager (the interactive-session mode — repeated searches hit
        memory). The terms dictionary and indexed-id set are derived and
        cached alongside, so interactive fuzzy/suggest/prefix probes
        aggregate the postings once per session, not once per keystroke.
        ``positional=True`` additionally builds the positional posting
        table (phrase probes; a second tokenize pass over the corpus)."""
        postings, doc_ids = build_postings(docs, id_col, text_col)
        vocab = _term_df(postings).withColumn("tlen", F.length("term"))
        pos = (
            build_positional_postings(docs, id_col, text_col)
            if positional
            else None
        )
        if cache:
            postings = postings.cache()
            vocab = vocab.cache()
            doc_ids = doc_ids.cache()
            if pos is not None:
                pos = pos.cache()
        return cls(postings, vocab, doc_ids, positional=pos)

    @property
    def corpus_stats(self) -> tuple[int, int]:
        """The corpus stats (n_docs, sum_dl) as exact integers — zero-token
        docs count, as in the corpus-scan scorers. A loaded handle has
        them from its record; an in-memory build sums its ``doc_ids`` in
        one bounded collect on first use and keeps them."""
        if self._corpus_stats is None:
            row = self.doc_ids.agg(*_doc_stat_cols()).collect()[0]
            self._corpus_stats = (int(row["n_docs"]), int(row["sum_dl"] or 0))
        return self._corpus_stats

    def warm(self) -> "SearchIndex":
        """Force materialization now (first search pays nothing): the
        postings and dictionary, and the corpus stats, whose collect
        reads every ``doc_ids`` row."""
        for frame in (self.postings, self.vocab):
            frame.count()
        self.corpus_stats  # noqa: B018 - reading it collects and keeps them
        return self

    def save(self, path: str) -> "SearchIndex":
        """Persist the whole index (overwrite): postings in the
        :func:`_bucket_laid` layout, the positional postings when this is
        a positional build (same layout — a phrase probe prunes the same
        way), then the derived sidecars and LAST the ``meta.json`` commit
        record (:func:`_write_index_sidecars`; a crash anywhere here
        leaves a fingerprint mismatch that :meth:`load` repairs — or, for
        the non-derivable positional artifact, loudly disables).

        One lazy checkpoint of the laid postings feeds the postings write
        and the vocab aggregate, so nothing re-reads the files just
        written. Saving an uncached build shuffles once (see
        :func:`build_postings`). ``doc_ids`` are the build's per-doc rows,
        zero-token docs included, and the record's stats sum them — n_docs
        counts empty docs exactly like the corpus-scan scorers, so a
        LOADED index scores bit-identically to the in-memory build (only
        the crash-REPAIR path, which has nothing but postings to read,
        keeps postings-only stats). A handle that already holds its stats
        — a loaded one, or a build that has collected them — records
        those instead. At cluster scale the checkpoint holds one copy of the
        postings in executor memory/disk for the duration of the save —
        the same footprint the write shuffle already has."""
        laid = _bucket_laid(self.postings).localCheckpoint(eager=False)
        laid.write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/postings")
        if self.positional is not None:
            (
                _bucket_laid(self.positional)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(f"{path}/positions")
            )
        _write_index_sidecars(
            self.postings.sparkSession, path, laid, self.doc_ids,
            self._corpus_stats, self.positional,
        )
        laid.unpersist()
        return self

    @classmethod
    def load(cls, spark, path: str) -> "SearchIndex":
        """Open the persisted index with no Spark job: read the
        ``meta.json`` record, open every artifact with the schema it
        stores (a driver-side file listing, no inference), and validate
        its fingerprint against the postings listing. Corpus stats
        (n_docs, sum_dl) come from the record as driver-side literals.
        save() recorded the stats from the FULL corpus (zero-token docs
        included), so loaded-index scores are bit-identical to the
        in-memory build.

        When the fingerprint differs or there is no record — a crash
        before the record's publish, or a record written before records
        carried schemas — the sidecars and the record are rebuilt from
        the postings once (schema inference). Only this REPAIR path,
        which has nothing but posting rows to read, falls back to
        postings-only stats (on a corpus with empty docs n_docs reads
        slightly smaller until the next save — empty docs never match,
        so only idf norms shift).

        Raises FileNotFoundError when ``path`` holds no postings yet, and
        ValueError when the postings listing has a ``bucket=K`` dir with
        K ≥ :data:`N_TERM_BUCKETS`: a layout written with more term
        buckets would lose postings to the probes' bucket pruning, so it
        must be rebuilt. The check is exact for 64 buckets, the count
        before 16: 16 divides 64, so a 64-bucket layout whose buckets are
        all below 16 maps every term to the bucket it was written to."""
        meta = _read_index_meta(spark, path)
        postings = _read_present_artifact(
            spark, path, "postings", meta["schemas"] if meta else {}
        )
        # (with a record's schema an empty dir reads fine: an overwrite
        # that crashed before its postings commit)
        files = postings.inputFiles() if postings is not None else []
        if not files:
            raise FileNotFoundError(f"no search index under {path}")
        top = max(int(f.rsplit("/bucket=", 1)[1].split("/", 1)[0]) for f in files)
        if top >= N_TERM_BUCKETS:
            raise ValueError(
                f"search index under {path} has term bucket {top}: it was "
                f"written with more than {N_TERM_BUCKETS} term buckets; "
                "rebuild it with SearchIndex.build(...).save(path)"
            )
        fingerprint = _layout_fingerprint(files, "postings")
        if meta is None or meta["fingerprint"] != fingerprint:
            # derived sidecars rebuild from postings; the positional
            # artifact is NOT derivable, and after a crash we can't know
            # it matches the postings — disable it (pos_fingerprint=None)
            # rather than risk silently inconsistent phrase results; a
            # positional save() re-enables it.
            meta = _write_index_sidecars(spark, path, postings, _doc_id_set(postings))
        return cls._committed(spark, path, postings, meta)

    @classmethod
    def _committed(cls, spark, path: str, postings: DataFrame,
                   meta: dict) -> "SearchIndex":
        """The handle over a committed layout: ``postings`` is the frame
        whose file listing gave ``meta["fingerprint"]``; the sidecars
        open with the record's schemas (no Spark job). The positional
        artifact joins the handle only when the record names one and its
        listing still matches; one that is gone leaves the handle without
        a phrase door, and any other read error propagates."""
        schemas = meta["schemas"]
        positional = None
        if meta["pos_fingerprint"]:
            pos = _read_present_artifact(spark, path, "positions", schemas)
            if pos is not None and (
                _layout_fingerprint(pos.inputFiles(), "positions")
                == meta["pos_fingerprint"]
            ):
                positional = pos
        return cls(
            postings,
            _read_artifact(spark, path, "vocab", schemas),
            _read_artifact(spark, path, "doc_ids", schemas),
            corpus_stats=(int(meta["n_docs"]), int(meta["sum_dl"])),
            positional=positional,
        )

    def search(self, query: str, k: int = 10,
               after: tuple | None = None) -> DataFrame:
        """BM25 top-k probe through :func:`bm25_from_postings` — one SQL
        statement over the bucket-pruned postings with :attr:`corpus_stats`
        as literals; the same rows from a loaded layout and an in-memory
        build of the same corpus. ``after`` = the ES search_after keyset
        cursor (score, doc_id) of the previous page's last hit — deep
        pagination without the from/size prefix re-rank
        (:func:`_bm25_score_agg_sql`)."""
        n_docs, sum_dl = self.corpus_stats
        return bm25_from_postings(
            self.postings, n_docs, sum_dl, query, k=k, after=after,
        )

    def more_like_this(
        self,
        src_doc_id,
        k: int = 10,
        max_query_terms: int = 8,
        min_term_freq: int = 1,
        min_doc_freq: int = 1,
    ) -> DataFrame:
        """Related-docs probe from the index — ES more_like_this against
        the postings (see :func:`more_like_this_from_postings`), scored by
        :func:`bm25_from_postings` with :attr:`corpus_stats`; output
        identical to the corpus-scan form."""
        return more_like_this_from_postings(
            self.postings, self.corpus_stats, src_doc_id, k=k,
            max_query_terms=max_query_terms,
            min_term_freq=min_term_freq, min_doc_freq=min_doc_freq,
        )

    def fuzzy_search(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 50,
        prefix_length: int = 0,
    ) -> DataFrame:
        """Misspelling-tolerant probe — ES `match` with fuzziness=AUTO
        against the postings (see :func:`fuzzy_match_from_postings`),
        scored by :func:`bm25_from_postings` with :attr:`corpus_stats`;
        output identical to the corpus-scan :func:`fuzzy_match_search`."""
        return fuzzy_match_from_postings(
            self.postings, self.corpus_stats, query, k=k,
            max_expansions=max_expansions, prefix_length=prefix_length,
            vocab=self.vocab,
        )

    def prefix_search(self, query: str, k: int = 10,
                      max_expansions: int = 50) -> DataFrame:
        """Search-as-you-type probe — ES `match_bool_prefix` against the
        postings with the last token expanded against the terms dictionary
        (see :func:`prefix_search_from_postings`), scored by
        :func:`bm25_from_postings` with :attr:`corpus_stats`; output
        identical to the corpus-scan :func:`prefix_search`."""
        return prefix_search_from_postings(
            self.postings, self.corpus_stats, query, k=k,
            max_expansions=max_expansions, vocab=self.vocab,
        )

    def suggest(self, term: str, max_edits: int = 2, prefix_length: int = 1,
                k: int = 5) -> DataFrame:
        """"Did you mean" probe — ES term suggester against the terms
        dictionary (see :func:`term_suggest_from_vocab`): tlen-pruned
        dictionary slivers only, never a postings or corpus scan. Output
        identical to the corpus-scan :func:`term_suggest`."""
        return term_suggest_from_vocab(
            self.vocab, term, max_edits=max_edits, prefix_length=prefix_length, k=k
        )

    def bool_search(self, **kwargs) -> DataFrame:
        """Composed ES ``bool`` query probed from the index artifacts
        alone (operators.boolquery.bool_search_from_index): match/fuzzy
        clauses from the bucket-pruned postings + the terms-dictionary
        sidecar, phrase clauses from the positional tier, membership
        clauses as postings doc-id sets. Identical output to the
        corpus-scan operators.boolquery.bool_search."""
        from pandemic_knowledge_spark.operators.boolquery import (
            bool_search_from_index,
        )

        return bool_search_from_index(self, **kwargs)

    def phrase_search(self, phrase: str, k: int = 10) -> DataFrame:
        """Exact consecutive-phrase probe from the positional posting
        table (see :func:`phrase_search_from_postings`) — requires a
        positional build/layout; raises otherwise rather than falling
        back to a corpus scan the caller didn't ask to pay for."""
        if self.positional is None:
            raise ValueError(
                "phrase_search needs a positional index: build with "
                "positional=True (and save() to persist); a loaded layout "
                "whose positions were stale/mid-write is deliberately "
                "disabled — rebuild via a positional save()."
            )
        return phrase_search_from_postings(self.positional, phrase, k=k)

    @classmethod
    def append_save(cls, spark, path: str, docs: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text") -> "SearchIndex":
        """Persisted incremental ingest — the one door a stream of document
        batches writes through. When ``path`` holds no postings yet (never
        written, or the first write crashed before its postings commit),
        the batch becomes the index through :meth:`save`. Otherwise only
        ``docs`` is tokenized and the write runs in three steps, each
        waiting for the one before:

        1. The batch, less its already-indexed doc ids (an anti-join
           against the tiny ``doc_ids`` sidecar, never a full-postings
           distinct), is checkpointed once; everything below reads it.
        2. Its postings — one file per term bucket — are APPENDED to the
           layout, side by side with the terms-dictionary merge: the old
           ``vocab`` plus one (term, 1) row per distinct term of each
           batch doc, summed inside one :func:`_tlen_laid` exchange and
           checkpointed (dictionary-sized, not postings-sized).
        3. Once the postings have committed, the batch's per-doc rows,
           zero-token docs included, are appended to ``doc_ids``, side by
           side with the ``vocab`` overwrite from the laid checkpoint (no
           further exchange).

        Then the ``meta.json`` record is published, LAST: its stats add
        the batch's exact integer sums, its schemas carry over. Side-by-side
        actions run in the caller's job group (:func:`_run_side_by_side`).
        Returns the updated index handle, built from the committed record
        and the postings frame the new fingerprint was listed from (no
        second :meth:`load`); probes over it equal a from-scratch rebuild
        of old ∪ new.

        Already-indexed doc ids in ``docs`` are DROPPED (first-accepted
        wins — the same policy as the incremental dedup ingest): without
        this, a re-crawled doc would hold two posting rows per term,
        inflating df and double-counting its scores.

        CRASH-IDEMPOTENT under at-least-once retries (e.g. foreachBatch):
        the load() at entry validates the sidecar fingerprint and repairs
        a half-finished predecessor, and the doc-id guard turns a replayed
        batch into a no-op. Nothing a probe or the repair trusts changes
        before the postings commit (a parquet append becomes visible at job
        commit; step 2's dictionary merge only checkpoints), so a failure
        up to it leaves the layout as it was; after it, the record still
        names the old postings listing, and the next open repairs the
        sidecars from the postings. A layout written with more than
        :data:`N_TERM_BUCKETS` term buckets fails that load() with a
        ValueError before anything is written."""
        try:
            prev = cls.load(spark, path)  # validates/repairs sidecars
        except FileNotFoundError:
            cls.build(docs, id_col, text_col, cache=False).save(path)
            return cls.load(spark, path)
        if prev.positional is not None:
            raise ValueError(
                "append_save does not maintain positional layouts: a crash "
                "between the postings and positions appends could leave "
                "phrase results silently inconsistent with BM25 results "
                "(positions are not derivable from postings, so the "
                "fingerprint repair cannot heal them). Positional indexes "
                "are full-refresh artifacts — rebuild with "
                "SearchIndex.build(..., positional=True).save(path), the "
                "same lifecycle the reference's ES bulk loaders use."
            )
        indexed = prev.doc_ids.select(F.col("doc_id").alias(id_col))
        # materialize the filtered batch BEFORE any write: the anti-join
        # reads {path}/doc_ids, which step 3 appends to
        docs = docs.join(indexed, id_col, "left_anti").localCheckpoint(eager=True)
        new_p, new_docs = build_postings(docs, id_col, text_col)
        _, merged_vocab = _run_side_by_side(
            spark,
            lambda: (
                _bucket_laid(new_p).write.mode("append")
                .partitionBy("bucket").parquet(f"{path}/postings")
            ),
            # materialized before step 3 overwrites the directory it reads
            lambda: _merged_vocab(prev.vocab, docs, text_col).localCheckpoint(
                eager=True
            ),
        )
        # the batch's stats ride the doc_ids append as observed metrics: no
        # second pass over the batch
        batch = Observation()
        _run_side_by_side(
            spark,
            lambda: (
                new_docs.observe(batch, *_doc_stat_cols())
                .write.mode("append").parquet(f"{path}/doc_ids")
            ),
            lambda: _write_vocab(merged_vocab, path),
        )
        n_docs, sum_dl = prev.corpus_stats
        schemas = {
            name: _file_schema(frame)
            for name, frame in (
                ("postings", prev.postings), ("vocab", prev.vocab),
                ("doc_ids", prev.doc_ids),
            )
        }
        postings = _read_artifact(spark, path, "postings", schemas)
        meta = _write_index_meta(
            spark, path, n_docs + batch.get["n_docs"],
            sum_dl + (batch.get["sum_dl"] or 0),
            schemas, _postings_fingerprint(postings),
        )
        return cls._committed(spark, path, postings, meta)


def tfidf_keywords(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 3,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the top-k terms of each doc
    by tf · ln(N/df), ties broken alphabetically — the classic corpus
    summarization / tagging pass (ES's significant-terms cousin).

    Shape: one tokenize+explode → (doc, term) TF shuffle (map-side
    combined), a term-DF aggregate joined back on the SAME term key — a
    shuffle join, deliberately NOT a broadcast: the build side would be
    the whole corpus vocabulary (multi-GB at 100×, past the broadcast
    cap), while the shuffle join's df_t side reuses the groupBy("term")
    exchange. The one-row corpus count broadcasts in, then a per-doc
    top-k window; nothing here is more than linear. Tokens pinned (r13):
    the explode's inferred size > 0 filter re-ran the regexp per row
    through pushdown re-inlining; n_docs counts the raw docs directly (a
    pruned count scan, no tokenize at all — same value, one row per
    doc)."""
    from pandemic_knowledge_spark.functions.pinning import pin

    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tf = (
        pin(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
            toks=tokenize(text_col),
        )
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "rnk", "term", "score")
    )


def sql_tfidf_keywords(table: str, id_col: str, text_col: str, top_k: int = 3) -> str:
    """DuckDB SQL reproducing :func:`tfidf_keywords` exactly."""
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS toks
  FROM {table}
), stats AS (
  SELECT count(*) AS n_docs FROM base
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
  GROUP BY doc_id, term
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(stats.n_docs AS DOUBLE) / dft.df), 6) AS score
  FROM tf, dft, stats WHERE tf.term = dft.term
), ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, score FROM ranked WHERE rnk <= {top_k}
"""


def build_postings_fields(
    docs: DataFrame, id_col: str, field_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Multi-field postings in ONE corpus pass: (bucket, field, term, doc_id,
    tf, dl) + per-field corpus stats — ES's per-field inverted index. Same
    bucket partitioning as :func:`build_postings`, so a probe prunes to the
    query terms' buckets regardless of field count. Per-field token
    arrays pinned (r13): the field-struct explode's inferred non-empty
    filter re-ran every field's tokenizer regexp per row through pushdown
    re-inlining (functions.pinning)."""
    from pandemic_knowledge_spark.functions.pinning import pin

    base = pin(
        docs.select(F.col(id_col).alias("doc_id"), *field_cols),
        **{f"__toks_{i}": tokenize(c) for i, c in enumerate(field_cols)},
    )
    field_structs = F.array(
        *[
            F.struct(F.lit(c).alias("field"), F.col(f"__toks_{i}").alias("toks"))
            for i, c in enumerate(field_cols)
        ]
    )
    long = (
        base.select("doc_id", F.explode(field_structs).alias("fx"))
        .select("doc_id", F.col("fx.field").alias("field"), F.col("fx.toks").alias("toks"))
        .withColumn("dl", F.size("toks"))
    )
    stats = long.groupBy("field").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    postings = (
        long.select("field", "doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("field", "doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", _bucket_col())
    )
    return postings, stats


def bm25_fields_from_postings(
    postings: DataFrame,
    stats: DataFrame,
    query: str,
    k: int = 10,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """best_fields BM25 from the multi-field posting tables — identical
    output to :func:`bm25_search_fields`, no corpus tokenize at query time.
    Per-(field, term) df recomputes from the pruned postings (rows unique
    per (field, doc, term) → plain count)."""
    p = _term_rows(postings, query_terms(query))
    df_t = p.groupBy("field", "term").agg(F.count(F.lit(1)).alias("df"))
    field_scores = (
        p.join(F.broadcast(df_t), ["field", "term"])
        .join(F.broadcast(stats), "field")
        .withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs"))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("doc_id", "field")
        .agg(F.round(F.sum("term_score"), 4).alias("field_score"))
    )
    return (
        field_scores.groupBy("doc_id")
        .agg(
            F.max("field_score").alias("__best"),
            F.sum("field_score").alias("__total"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("__best") + F.lit(tie_breaker) * (F.col("__total") - F.col("__best")),
                4,
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Positional postings + phrase search (the ES match_phrase analogue —
# SURVEY.md §2.10; the reference's news UI issues multi_match which ES can
# escalate to phrase matching from the same positional index).
# ---------------------------------------------------------------------------

def build_positional_postings(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(bucket, term, doc_id, positions) — per-(term, doc) sorted token
    positions, the positional inverted index. Same crc32 term-bucket
    partitioning as :func:`build_postings`, so a phrase probe reads only
    its terms' buckets (partition pruning), never the corpus."""
    from pandemic_knowledge_spark.functions.pinning import pin

    # Tokens pinned (r13 wave 14): the posexplode's inferred size > 0
    # filter re-inlined the tokenizer regexp per row (same seam as
    # build_postings, fixed in wave 4; this builder was missed).
    base = pin(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        toks=tokenize(text_col),
    )
    return (
        base.select("doc_id", F.posexplode("toks").alias("pos", "term"))
        .groupBy("doc_id", "term")
        .agg(F.array_sort(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", _bucket_col())
    )


def phrase_search_from_postings(
    postings_pos: DataFrame, phrase: str, k: int = 10,
) -> DataFrame:
    """Top-k docs containing the exact consecutive-token phrase, counted
    from positional postings alone — no corpus scan.

    Each phrase offset j joins its term's posting row; positions shifted by
    −j; a doc matches where every offset is present AND the shifted arrays
    intersect (the intersection = the set of phrase start positions, its
    size = the phrase term frequency). Handles repeated phrase terms
    (every offset joins independently). The probe touches only the phrase
    terms' buckets → partition-pruned at scale."""
    return (
        phrase_counts_from_postings(postings_pos, phrase)
        .orderBy(F.desc("phrase_count"), "doc_id")
        .limit(k)
    )


def phrase_counts_from_postings(postings_pos: DataFrame, phrase: str) -> DataFrame:
    """The UNLIMITED (doc_id, phrase_count) frame behind
    :func:`phrase_search_from_postings` — exposed so combinators (the
    indexed bool door's phrase clauses) can score every matching doc
    instead of a pre-truncated page."""
    terms = query_terms(phrase)
    if not terms:
        raise ValueError("phrase has no tokenizable terms")
    m = len(terms)
    offsets = F.posexplode(F.array(*[F.lit(t) for t in terms])).alias("off", "term")
    phrase_df = F.broadcast(
        postings_pos.sparkSession.range(1).select(offsets)
    )
    probe = _term_rows(postings_pos, terms)
    joined = probe.join(phrase_df, "term").select(
        "doc_id",
        "off",
        F.transform("positions", lambda p: p - F.col("off")).alias("shifted"),
    )
    inter = F.aggregate(
        F.collect_list("shifted"),
        F.lit(None).cast("array<int>"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(F.array_intersect(acc, x)),
    )
    return (
        joined.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_off"), inter.alias("starts"))
        .where((F.col("n_off") == m) & (F.size("starts") > 0))
        .select("doc_id", F.size("starts").cast("long").alias("phrase_count"))
    )


def span_counts_from_postings(
    postings_pos: DataFrame, phrase: str, slop: int,
) -> DataFrame:
    """(doc_id, phrase_count) for a phrase WITH SLOP from the positional
    tier: the ordered span-start count of :func:`span_near_search` /
    the bool door's ``{"phrase": p, "slop": N}`` clauses, computed from
    per-term position lists instead of a corpus scan. Identical counts to
    the corpus-side counter (pinned in tests) — the indexed bool door
    stays row-identical to the corpus door for sloppy phrases too.

    Plan: bucket-pruned probe of the m query terms' positional rows, one
    groupBy assembling the m position arrays per doc (docs lacking any
    term drop via the n_off == m gate), then the same nested-EXISTS
    window search as HOFs over the (tiny, per-doc) arrays — no corpus
    scan, no shuffle beyond the per-doc assembly."""
    terms = query_terms(phrase)
    if not terms:
        raise ValueError("phrase has no tokenizable terms")
    if slop < 0:
        raise ValueError("slop must be ≥ 0")
    m = len(terms)
    W = slop + m
    offsets = F.posexplode(F.array(*[F.lit(t) for t in terms])).alias("off", "term")
    phrase_df = F.broadcast(
        postings_pos.sparkSession.range(1).select(offsets)
    )
    probe = _term_rows(postings_pos, terms)
    per_doc = (
        probe.join(phrase_df, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_off"),
            F.array_sort(
                F.collect_list(F.struct("off", "positions"))
            ).alias("ps"),
        )
        .where(F.col("n_off") == m)
    )

    # anchors are term-0 positions; each subsequent term needs a position
    # strictly after the previous one and within the anchor's window
    def starts_expr(ps):
        pos0 = ps[0]["positions"]

        def rec(j, prev, wend):
            return F.exists(
                ps[j]["positions"],
                lambda q: (q > prev)
                & (q <= wend)
                & (rec(j + 1, q, wend) if j + 1 < m else F.lit(True)),
            )

        return F.filter(
            pos0,
            lambda p: rec(1, p, p + F.lit(W - 1)) if m > 1 else F.lit(True),
        )

    return per_doc.select(
        "doc_id",
        F.size(starts_expr(F.col("ps"))).cast("long").alias("phrase_count"),
    ).where(F.col("phrase_count") > 0)


def phrase_search(
    docs: DataFrame, id_col: str, text_col: str, phrase: str, k: int = 10
) -> DataFrame:
    """Direct-scan phrase search — identical output to
    :func:`phrase_search_from_postings` (asserted in tests); the form a
    one-shot query uses when no index is materialized. Counts phrase
    starts scan-side over the token array (codegen, no shuffle until the
    top-k)."""
    terms = query_terms(phrase)
    if not terms:
        raise ValueError("phrase has no tokenizable terms")
    m = len(terms)
    # Materialize the token array in its own projection (the HOF lambda
    # references it per position — an inline tokenize would re-run the
    # regex at every reference), and take the top-k BEFORE dropping the
    # zero-count rows: a where() below the sort pushes down through the
    # projection and re-inlines the whole counter into a second
    # evaluation per row (measured ~6× this query). Zero-count rows sort
    # after every positive count, so the page is identical.
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    starts = F.filter(
        F.sequence(F.lit(0), F.size(toks) - m),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(True),
            lambda acc, j: acc
            & (F.element_at(toks, (i + j + 1).cast("int"))
               == F.element_at(F.array(*[F.lit(t) for t in terms]), (j + 1).cast("int"))),
        ),
    )
    c = F.when(F.size(toks) >= m, F.size(starts)).otherwise(F.lit(0))
    return (
        base.select("doc_id", c.cast("long").alias("phrase_count"))
        .orderBy(F.desc("phrase_count"), "doc_id")
        .limit(k)
        .where(F.col("phrase_count") > 0)
    )


def match_phrase_prefix(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrase: str,
    k: int = 10,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_phrase_prefix`` — the last multi_match type left: the
    query is a PHRASE whose final token is an unfinished PREFIX ("hash
    jo…" matches docs where 'hash' is immediately followed by any of the
    first ``max_expansions`` vocabulary terms starting with 'jo', in
    index (alphabetical) order — exactly ES's expansion rule, which is
    why ES documents that a rare completion can be missed when the cap
    truncates). Output (doc_id, phrase_count) ranked like the other
    phrase forms.

    Plan: the expansion list is a one-row collected array (vocabulary
    terms with the prefix, alphabetical, capped — a grouped aggregate of
    the distinct-term explode, never the corpus), broadcast into the same
    scan-side HOF phrase counter :func:`phrase_search` uses: first m−1
    positions match exactly, the m-th via array_contains. One corpus
    scan, one scalar broadcast, top-k heaps — no shuffle of the docs."""
    toks_all = query_terms(phrase)
    if not toks_all:
        raise ValueError("phrase has no tokenizable terms")
    *exact, prefix = toks_all
    m = len(toks_all)
    vocab_exp = (
        docs.select(F.explode(F.array_distinct(tokenize(text_col))).alias("term"))
        .filter(F.col("term").startswith(prefix))
        .distinct()
        .orderBy("term")
        .limit(max_expansions)
        .agg(F.sort_array(F.collect_list("term")).alias("__exp"))
    )
    # Same two rules as phrase_search: tokenize ONCE into its own
    # projection (the HOF references it per position) and top-k before
    # the zero-count drop (a below-sort where() re-inlines the counter
    # into a second per-row evaluation via filter pushdown).
    base = docs.crossJoin(F.broadcast(vocab_exp)).select(
        F.col(id_col).alias("doc_id"),
        tokenize(text_col).alias("__toks"),
        "__exp",
    )
    toks = F.col("__toks")
    exact_arr = F.array(*[F.lit(t) for t in exact]) if exact else None
    starts = F.filter(
        F.sequence(F.lit(0), F.size(toks) - m),
        lambda i: (
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 2)),
                F.lit(True),
                lambda acc, j: acc
                & (
                    F.element_at(toks, (i + j + 1).cast("int"))
                    == F.element_at(exact_arr, (j + 1).cast("int"))
                ),
            )
            if exact
            else F.lit(True)
        )
        & F.array_contains(F.col("__exp"), F.element_at(toks, (i + m).cast("int"))),
    )
    c = F.when(F.size(toks) >= m, F.size(starts)).otherwise(F.lit(0))
    return (
        base.select("doc_id", c.cast("long").alias("phrase_count"))
        .orderBy(F.desc("phrase_count"), "doc_id")
        .limit(k)
        .where(F.col("phrase_count") > 0)
    )


def sql_match_phrase_prefix(
    table: str,
    id_col: str,
    text_col: str,
    phrase: str,
    k: int = 10,
    max_expansions: int = 50,
) -> str:
    """DuckDB SQL reproducing :func:`match_phrase_prefix` exactly — same
    tokenizer, same alphabetical expansion cap, same positional count."""
    toks_all = query_terms(phrase)
    if not toks_all:
        raise ValueError("phrase has no tokenizable terms")
    *exact, prefix = toks_all
    m = len(toks_all)
    pre_lit = prefix.replace("'", "''")
    conds = " AND ".join(
        [f"t[i + {j}] = '{t}'" for j, t in enumerate(exact)]
        + [f"list_contains(el, t[i + {m - 1}])"]
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
vocab AS (
  SELECT DISTINCT unnest(t) AS term FROM toks
),
exp AS (
  SELECT list(term ORDER BY term) AS el FROM (
    SELECT term FROM vocab WHERE term LIKE '{pre_lit}%'
    ORDER BY term LIMIT {max_expansions}
  )
),
hits AS (
  SELECT doc_id,
         len(list_filter(range(1, len(t) - {m} + 2), i -> {conds})) AS c
  FROM toks, exp WHERE len(t) >= {m}
)
SELECT doc_id, CAST(c AS BIGINT) AS phrase_count
FROM hits WHERE c > 0
ORDER BY phrase_count DESC, doc_id LIMIT {k}
"""


def sql_phrase_search(
    table: str, id_col: str, text_col: str, phrase: str, k: int = 10
) -> str:
    """DuckDB oracle for both phrase-search forms: token-level consecutive
    match over the same tokenizer — no regex lookarounds (RE2 has none),
    the token array IS the semantics."""
    terms = query_terms(phrase)
    if not terms:
        raise ValueError("phrase has no tokenizable terms")
    m = len(terms)
    conds = " AND ".join(
        f"t[i + {j}] = '{t}'" for j, t in enumerate(terms)
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
hits AS (
  SELECT doc_id,
         len(list_filter(range(1, len(t) - {m} + 2), i -> {conds})) AS c
  FROM toks WHERE len(t) >= {m}
)
SELECT doc_id, CAST(c AS BIGINT) AS phrase_count
FROM hits WHERE c > 0
ORDER BY phrase_count DESC, doc_id LIMIT {k}
"""


# ------------------------------------------------------------- span_near


def _span_start_pred(toks, terms: list[str], slop: int):
    """Predicate over a candidate 1-based start position ``i``: the token
    at ``i`` is terms[0] and the remaining terms occur IN ORDER at
    strictly increasing positions, all within the window ``[i, i + slop +
    m - 1]`` — i.e. an ordered occurrence with total slack ≤ slop
    (``p_m − p_1 − (m−1) ≤ slop``, Lucene's in-order SpanNear match
    condition). Built as nested EXISTS higher-order functions (depth m−1,
    each over a ≤ slop+m−1-long window slice) — exact existence search,
    not a greedy scan, entirely scan-side codegen."""
    m = len(terms)
    n = F.size(toks)

    def chain(j, prev, wend):
        def body(q):
            hit = F.element_at(toks, q.cast("int")) == F.lit(terms[j])
            if j + 1 < m:
                return hit & chain(j + 1, q, wend)
            return hit

        # sequence() would descend when the window is exhausted — guard
        return F.when(
            prev < wend, F.exists(F.sequence(prev + F.lit(1), wend), body)
        ).otherwise(F.lit(False))

    def pred(i):
        wend = F.least(i + F.lit(slop + m - 1), n)
        return (
            F.element_at(toks, i.cast("int")) == F.lit(terms[0])
        ) & chain(1, i, wend)

    return pred


def _span_start_pred_unordered(toks, terms: list[str], slop: int):
    """Unordered variant (Lucene SpanNear ``in_order: false``): position
    ``i`` anchors a match when it holds ANY query term and the window
    ``[i, i + slop + m - 1]`` contains EVERY query term (terms are
    distinct — validated by the caller — so one token per term needs no
    multiset accounting). forall-over-exists, same window bound as the
    ordered form."""
    m = len(terms)
    n = F.size(toks)
    term_arr = F.array(*[F.lit(t) for t in terms])

    def pred(i):
        wend = F.least(i + F.lit(slop + m - 1), n)
        here = F.element_at(toks, i.cast("int"))
        return F.array_contains(term_arr, here) & F.forall(
            term_arr,
            lambda t: F.exists(
                F.sequence(i, wend),
                lambda q: F.element_at(toks, q.cast("int")) == t,
            ),
        )

    return pred


def span_near_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    slop: int = 0,
    k: int = 10,
    in_order: bool = True,
) -> DataFrame:
    """ES ``span_near`` / ``match_phrase`` with ``slop``: docs where the
    analyzed query terms occur within a window of at most ``slop``
    positions of total slack — the proximity query the exact-phrase door
    can't express ("spark … stream" within 3 words). ``in_order=True``
    (default) requires the terms at strictly increasing positions —
    ``slop=0`` then degenerates to the exact consecutive phrase (pinned
    against :func:`phrase_search` in tests); ``in_order=False`` is
    Lucene's unordered SpanNear — any arrangement within the window
    (terms must be distinct there; ordered mode allows repeats). Output
    (doc_id, span_count) ranked (count DESC, doc_id) like the phrase
    family, where span_count = the deterministic anchor count both
    engines reproduce bit-identically: positions holding the first term
    (ordered) / any query term (unordered) whose window completes a
    qualifying occurrence.

    Plan: one corpus scan; the match test is nested EXISTS higher-order
    functions over the token array — per anchor the search explores only
    a ≤ slop+m−1-token window, so cost is O(tf_anchor ·
    window^(m−1)) per doc (ordered; unordered is window·m) with m and
    slop query constants. No shuffle before the top-k heaps; no Python.
    (The positional-postings tier, :class:`SearchIndex`
    ``positional=True``, covers the indexed form of exact phrases;
    span_near is the direct-scan proximity door.)"""
    terms = query_terms(query)
    if len(terms) < 2:
        raise ValueError("span_near needs ≥ 2 tokenizable terms")
    if slop < 0:
        raise ValueError("slop must be ≥ 0")
    if not in_order and len(set(terms)) != len(terms):
        raise ValueError("unordered span_near needs distinct terms")
    m = len(terms)
    # Materialize the token array in its OWN projection first: the nested
    # lambdas reference it O(positions × depth) times, and an inline
    # tokenize(text) expression would re-run the regex tokenizer at every
    # reference (HOF lambda bodies sit outside common-subexpression
    # elimination — measured 20× slower). CollapseProject keeps the
    # two-step projection because inlining would duplicate a non-cheap
    # expression.
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("__toks")
    )
    toks = F.col("__toks")
    pred = (
        _span_start_pred(toks, terms, slop)
        if in_order
        else _span_start_pred_unordered(toks, terms, slop)
    )
    starts = F.when(
        F.size(toks) >= m,
        F.filter(F.sequence(F.lit(1), F.size(toks) - m + 1), pred),
    ).otherwise(F.array().cast("array<int>"))
    # Top-k FIRST, then drop the zero-count rows ABOVE the limit: a
    # where() below the sort would push down through the projection,
    # re-inlining the whole spans expression (tokenize included) into a
    # Filter that evaluates it a second time per row (measured ~2× the
    # query). Every c>0 row outranks every c=0 row under (c DESC, doc_id),
    # so top-k-then-filter returns exactly the same page.
    return (
        base.select(
            "doc_id", F.size(starts).cast("long").alias("span_count")
        )
        .orderBy(F.desc("span_count"), "doc_id")
        .limit(k)
        .where(F.col("span_count") > 0)
    )


def sql_span_conds(terms: list[str], slop: int, arr: str = "t",
                   in_order: bool = True) -> str:
    """DuckDB predicate over anchor position ``i``: a span of ``terms``
    within the slop window starting at ``i``, over the token list column
    ``arr`` — the SQL twin of :func:`_span_start_pred` (ordered) /
    :func:`_span_start_pred_unordered`. Shared by the span_near oracle
    and the bool door's phrase-with-slop clause emitters so the window
    arithmetic can't drift between them."""
    m = len(terms)
    wend = f"least(i + {slop + m - 1}, len({arr}))"

    def nested(j: int, prev: str) -> str:
        body = f"{arr}[q{j}] = '{terms[j]}'"
        if j + 1 < m:
            body += f" AND {nested(j + 1, f'q{j}')}"
        return (
            f"len(list_filter(range({prev} + 1, {wend} + 1),"
            f" q{j} -> {body})) > 0"
        )

    if in_order:
        return f"{arr}[i] = '{terms[0]}' AND {nested(1, 'i')}"
    anchor_lits = ", ".join(f"'{t}'" for t in terms)
    per_term = " AND ".join(
        f"len(list_filter(range(i, {wend} + 1), q{j} -> {arr}[q{j}] = '{t}')) > 0"
        for j, t in enumerate(terms)
    )
    return f"{arr}[i] IN ({anchor_lits}) AND {per_term}"


def sql_span_near_search(
    table: str,
    id_col: str,
    text_col: str,
    query: str,
    slop: int = 0,
    k: int = 10,
    in_order: bool = True,
) -> str:
    """DuckDB SQL reproducing :func:`span_near_search` exactly — the same
    nested-EXISTS window search as nested ``list_filter`` lambdas (DuckDB
    ``range(a, b)`` is empty when a ≥ b, so the window-exhausted guard is
    implicit); the unordered form is the same forall-over-exists
    conjunction of per-term window scans."""
    terms = query_terms(query)
    if len(terms) < 2:
        raise ValueError("span_near needs ≥ 2 tokenizable terms")
    if slop < 0:
        raise ValueError("slop must be ≥ 0")
    if not in_order and len(set(terms)) != len(terms):
        raise ValueError("unordered span_near needs distinct terms")
    m = len(terms)
    conds = sql_span_conds(terms, slop, arr="t", in_order=in_order)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
hits AS (
  SELECT doc_id,
         len(list_filter(range(1, len(t) - {m} + 2), i -> {conds})) AS c
  FROM toks WHERE len(t) >= {m}
)
SELECT doc_id, CAST(c AS BIGINT) AS span_count
FROM hits WHERE c > 0
ORDER BY span_count DESC, doc_id LIMIT {k}
"""


# ------------------------------------------------------------- percolate


def percolate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    registered: list[tuple[str, str]],
) -> DataFrame:
    """ES ``percolate`` — the REVERSE search (alerting/classification):
    queries are stored, documents are the probe; each incoming doc
    reports which registered queries it satisfies. The reference's
    news/tweets feeds are exactly the alerting shape this serves
    (/root/reference/flow/scripts/insert_news.py — a percolator would tag
    each crawled article with the standing searches it matches).

    ``registered`` is [(query_id, query_text)]; a query matches a doc
    when ALL its analyzed terms appear in the doc's token set (ES match
    query with ``operator: and`` — the conjunctive form alerting uses).
    Queries whose text analyzes to nothing are rejected. Output one row
    per (query_id, doc_id) match.

    Plan: the registered set compiles to a literal (query_id, term,
    n_terms) frame BROADCAST into a single equi-join against the per-doc
    distinct-token explode; a (query_id, doc_id) count equal to n_terms
    is a full conjunctive match. One corpus scan, one map-side join, one
    grouped count — at 100 TB the doc side streams and never shuffles
    toward the (dictionary-sized) query side; a million standing alerts
    is still a broadcast-sized table."""
    if not registered:
        raise ValueError("percolate needs at least one registered query")
    ids = [str(qid) for qid, _ in registered]
    if len(ids) != len(set(ids)):
        # duplicate ids would merge their term rows into one conjunctive
        # count whose n_terms no doc can reach — a silent never-matches
        raise ValueError("percolate query_ids must be unique")
    rows = []
    for qid, qtext in registered:
        terms = sorted(set(query_terms(qtext)))
        if not terms:
            raise ValueError(f"registered query {qid!r} has no tokenizable terms")
        rows.extend((str(qid), t, len(terms)) for t in terms)
    spark = docs.sparkSession
    qt = spark.createDataFrame(rows, "query_id string, term string, n_terms int")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("term"),
    )
    return (
        d.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id", "n_terms")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .where(F.col("__hits") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )


def percolate_mark(
    docs: DataFrame,
    text_col: str,
    registered: list[tuple[str, str]],
    out_col: str = "matched_queries",
) -> DataFrame:
    """Percolate-at-ingest — the STREAMING form of :func:`percolate` (the
    alerting pipeline ES's percolator exists for: tag each arriving doc
    with the standing searches it satisfies). Adds an ``array<string>``
    column of matched query ids, in registration order.

    Stateless and shuffle-free: the registered set compiles to one
    per-query scan-side condition (all analyzed terms present — the same
    conjunctive semantics as :func:`percolate`; exploding ``out_col``
    equals percolate()'s rows, pinned in tests), so the transform works
    identically on a batch frame and a streaming micro-batch frame in
    APPEND mode — no join, no aggregation, no state, no watermark.
    Suited to dashboard-scale standing sets (cost is |queries| literal
    membership tests per doc); the broadcast-join form (:func:`percolate`)
    is the tier for very large registered sets.

    The token array materializes in its own projection and every query
    condition references that column — the multi-reference keeps
    CollapseProject from re-inlining the tokenizer into the per-term
    lambdas (the r10 per-position pathology; see the plan audit's
    ``tokenize_per_position`` flag)."""
    if not registered:
        raise ValueError("percolate needs at least one registered query")
    ids = [str(qid) for qid, _ in registered]
    if len(ids) != len(set(ids)):
        raise ValueError("percolate query_ids must be unique")
    qterms = []
    for qid, qtext in registered:
        terms = sorted(set(query_terms(qtext)))
        if not terms:
            raise ValueError(f"registered query {qid!r} has no tokenizable terms")
        qterms.append((str(qid), terms))
    base = docs.withColumn("__toks", tokenize(text_col))
    toks = F.col("__toks")
    per_q = [
        F.when(
            F.forall(
                F.array(*[F.lit(t) for t in terms]),
                lambda t: F.array_contains(toks, t),
            ),
            F.lit(qid),
        )
        for qid, terms in qterms
    ]
    # The isNotNull guard doubles as a second column reference so a
    # single-query registration can't be collapse-inlined either.
    matched = F.when(
        toks.isNotNull(), F.filter(F.array(*per_q), lambda x: x.isNotNull())
    )
    return base.withColumn(out_col, matched).drop("__toks")


def sql_percolate(
    table: str,
    id_col: str,
    text_col: str,
    registered: list[tuple[str, str]],
) -> str:
    """DuckDB SQL reproducing :func:`percolate` exactly — the registered
    set as a VALUES CTE, the same distinct-token conjunctive-count join."""
    if not registered:
        raise ValueError("percolate needs at least one registered query")
    ids = [str(qid) for qid, _ in registered]
    if len(ids) != len(set(ids)):
        raise ValueError("percolate query_ids must be unique")

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = []
    for qid, qtext in registered:
        terms = sorted(set(query_terms(qtext)))
        if not terms:
            raise ValueError(f"registered query {qid!r} has no tokenizable terms")
        vals.extend(f"({lit(str(qid))}, {lit(t)}, {len(terms)})" for t in terms)
    return f"""
WITH qt(query_id, term, n_terms) AS (
  VALUES {', '.join(vals)}
),
d AS (
  SELECT doc_id, unnest(list_distinct(t)) AS term
  FROM (SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table})
)
SELECT qt.query_id, d.doc_id
FROM d JOIN qt ON d.term = qt.term
GROUP BY qt.query_id, d.doc_id, qt.n_terms
HAVING count(*) = qt.n_terms
"""
