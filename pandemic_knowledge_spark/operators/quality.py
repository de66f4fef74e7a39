"""Hashed linear quality classifier: fasttext-shaped doc scoring, scan-side.

The standard web-corpus quality gate (CCNet, GPT-3, LLaMA pipelines) is a
linear classifier over hashed token n-gram features: each unigram/bigram
hashes into one of ``dim`` weight buckets, the document's score is the mean
bucket weight, and a threshold decides keep/discard. The reference has no
quality model at all (its relevance story is Elasticsearch-side); a
training-data engine needs the scoring op first-class — it sits directly in
front of dedup in every curation pipeline.

Scale shape: ZERO shuffle, ZERO Python, no join. The weight vector rides
into the plan as a codegen literal array (the moral equivalent of a
broadcast variable, chosen because real quality models are small — fasttext
quality heads are O(100k) buckets; beyond in-plan literal size, swap the
literal for an explode → broadcast-hash-join against a weights table, same
semantics, one map-side-combined shuffle). Scoring 100 TB is then a pure
map over the scan.

Determinism: weights are INTEGERS (milli-units) and the score is an integer
sum folded in array order — bit-identical across engines, partitionings and
cluster sizes; the mean is a single rounded division at the end. The bucket
hash is the engine-portable md5_int, so DuckDB reproduces the features
exactly.

The ``hash_weights`` fixture generates a deterministic pseudo-model (Knuth
multiplicative scramble of the bucket index) so tests and the driver oracle
have a fixed model without shipping trained artifacts — the engine op takes
ANY integer weight vector.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandemic_knowledge_spark.functions.text import (
    md5_int,
    md5_int_expr,
    sql_tokenize,
    tokenize,
)

QUALITY_DIM = 512
WEIGHT_SPAN = 2001  # weights in [-1000, 1000] milli-units
_KNUTH = 2654435761


def hash_weights(dim: int = QUALITY_DIM, seed: int = 1) -> list[int]:
    """Deterministic fixture weight vector (stand-in for a trained model)."""
    return [((i + seed) * _KNUTH) % WEIGHT_SPAN - 1000 for i in range(dim)]


def _feats_from_tokens(toks: Column) -> Column:
    """Unigrams + consecutive-bigram features of a token array. ``toks``
    is referenced several times (size/slice/concat) — pass a bound lambda
    variable or a materialized (pinned) column, never a raw tokenize()
    expression, or the regex re-runs per reference."""
    n = F.size(toks)
    n_pairs = F.greatest(n - 1, F.lit(0))  # slice length >= 0 (n = 0 docs)
    grams = F.zip_with(
        F.slice(toks, 1, n_pairs),
        F.slice(toks, 2, n_pairs),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    return F.concat(toks, grams)


def _feats_expr(text_col: str) -> Column:
    """Unigrams + consecutive-bigram features of a text column.

    The token array is bound ONCE per evaluation via a lambda variable:
    inlining tokenize() into every slice/concat/size consumer re-runs
    the regex per consumer outside codegen CSE (the measured 2x on the
    curation pipeline) — the single-element transform makes `toks` a
    bound variable every downstream term references."""
    return F.flatten(
        F.transform(F.array(tokenize(text_col)), lambda t: _feats_from_tokens(t))
    )


def _score_expr(
    feats: Column, weights: list[int], bias_milli: int, salt: str
) -> Column:
    """Integer score fold over an already-materialized features column."""
    dim = len(weights)
    arr = F.array(*[F.lit(int(w)) for w in weights])

    def bucket_weight(t: Column) -> Column:
        h = md5_int(F.concat(F.lit(salt + ":"), t))
        return F.element_at(arr, (h % dim + 1).cast("int")).cast("long")

    return F.aggregate(
        feats, F.lit(bias_milli).cast("long"), lambda acc, t: acc + bucket_weight(t)
    )


def quality_feature_cols(
    text_col: str,
    weights: list[int],
    bias_milli: int = 0,
    salt: str = "qclf",
) -> tuple[Column, Column]:
    """(n_features, score_milli) as scan-side Columns — the composable form
    (pipelines filter on ``score >= 0`` without a join or a second frame).

    NOTE: the two returned Columns each inline the full feature-assembly
    chain; referencing both in one projection evaluates it twice per row.
    Prefer :func:`quality_scores` (pins the features) or
    :func:`quality_keep` (binds them once inside the predicate) — this
    form exists for single-column consumers."""
    feats = _feats_expr(text_col)
    return F.size(feats), _score_expr(feats, weights, bias_milli, salt)


def quality_keep(
    text_col: str,
    weights: list[int],
    bias_milli: int = 0,
    salt: str = "qclf",
) -> Column:
    """Boolean keep gate (score >= 0 over >= 1 feature), scan-side.

    NOTE: the verdict references the feature chain twice (size gate +
    score fold), so a Filter on this Column evaluates the regexp + bigram
    assembly twice per row. Prefer :func:`quality_keep_gate` (pins the
    features behind a Generate barrier — one evaluation) when gating a
    DataFrame; this Column form exists for composed predicates. (An
    attempt to bind the chain once INSIDE the predicate via a
    single-element transform measured consistently slower — nested
    interpreted-HOF binding costs more than the second chain eval; r13
    micro-bench.)"""
    n_feats, score = quality_feature_cols(text_col, weights, bias_milli, salt)
    return (n_feats > 0) & (score >= 0)


def quality_keep_gate(
    docs: DataFrame,
    text_col: str,
    weights: list[int],
    bias_milli: int = 0,
    salt: str = "qclf",
    keep_tokens: str | None = None,
) -> DataFrame:
    """``docs`` filtered to quality keepers — the DataFrame form of
    :func:`quality_keep`. The features array is pinned
    (functions.pinning), so the regexp + bigram chain runs ONCE per row
    where the Column form's pushed Filter evaluates it twice (r13 census:
    corpus_training_prep before plan). Apply base predicates to ``docs``
    before this call — the pin barrier blocks pushdown past it.

    ``keep_tokens``: name under which to ALSO return the materialized
    token array — the fusion handle for downstream token consumers
    (chunking, stats) so the corpus is tokenized once per pipeline, not
    once per op (r13). In this form the TOKENS are pinned and features
    build from the pinned attribute; the keep predicate references the
    feature chain once (score only — the non-empty gate reads
    size(tokens)), so no second barrier is needed. Identical keep set:
    size(feats) > 0 <=> size(toks) > 0 (feats = toks ++ bigrams)."""
    from pandemic_knowledge_spark.functions.pinning import pin

    if keep_tokens is None:
        gen = pin(docs, __feats=_feats_expr(text_col))
        return gen.filter(
            (F.size("__feats") > 0)
            & (_score_expr(F.col("__feats"), weights, bias_milli, salt) >= 0)
        ).drop("__feats")
    gen = pin(docs, **{keep_tokens: tokenize(text_col)})
    return gen.filter(
        (F.size(keep_tokens) > 0)
        & (
            _score_expr(
                _feats_from_tokens(F.col(keep_tokens)), weights, bias_milli, salt
            )
            >= 0
        )
    )


def quality_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[int],
    bias_milli: int = 0,
    salt: str = "qclf",
) -> DataFrame:
    """(doc_id, n_features, score_milli, quality_score, keep) per doc with
    >= 1 token. Features are unigrams + consecutive bigrams; score_milli is
    the exact integer sum of bucket weights + bias; quality_score its mean
    in weight units (6 dp); keep = score_milli >= 0.

    The features array is pinned (functions.pinning): written inline, the
    n_features > 0 filter pushed below the projection and re-ran the full
    regexp + bigram chain per row in the Filter, and n_features / score
    each inlined it again — 3 evaluations per row in the unpinned
    physical plan; pinned it runs once."""
    from pandemic_knowledge_spark.functions.pinning import pin

    base = pin(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        __feats=_feats_expr(text_col),
    )
    return (
        base.select(
            "doc_id",
            F.size("__feats").alias("n_features"),
            _score_expr(F.col("__feats"), weights, bias_milli, salt).alias(
                "score_milli"
            ),
        )
        .filter(F.col("n_features") > 0)
        .select(
            "doc_id",
            F.col("n_features").cast("long").alias("n_features"),
            "score_milli",
            F.round(
                F.col("score_milli").cast("double") / (1000.0 * F.col("n_features")),
                6,
            ).alias("quality_score"),
            (F.col("score_milli") >= 0).alias("keep"),
        )
    )


def sql_quality_scores(
    table: str,
    id_col: str,
    text_col: str,
    weights: list[int],
    bias_milli: int = 0,
    salt: str = "qclf",
) -> str:
    """DuckDB SQL reproducing :func:`quality_scores` exactly (same weight
    literal, same hash, same fold)."""
    dim = len(weights)
    arr = "[" + ", ".join(str(int(w)) for w in weights) + "]"
    h = md5_int_expr(f"concat('{salt}:', f)")
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS toks
  FROM {table}
), f AS (
  SELECT doc_id,
         toks || CASE WHEN len(toks) >= 2
                      THEN list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i+1])
                      ELSE [] END AS feats
  FROM t
), s AS (
  SELECT doc_id, len(feats) AS n_features,
         {bias_milli} + list_sum(list_transform(feats,
            f -> ({arr})[CAST({h} % {dim} AS INT) + 1])) AS score_milli
  FROM f
  WHERE len(feats) > 0
)
SELECT doc_id,
       CAST(n_features AS BIGINT) AS n_features,
       CAST(score_milli AS BIGINT) AS score_milli,
       round(CAST(score_milli AS DOUBLE) / (1000.0 * n_features), 6)
         AS quality_score,
       score_milli >= 0 AS keep
FROM s
"""
