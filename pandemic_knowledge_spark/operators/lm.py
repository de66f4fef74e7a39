"""Statistical n-gram language-model scoring — the CCNet-style quality
filter (Wenzek et al. 2020 filter CommonCrawl by LM perplexity; the
model-free Spark analogue trains the LM from a reference corpus in-query).

Bigram model with add-one smoothing: P(b|a) = (C(a,b)+1) / (H(a)+V), where
C is the bigram count, H(a) = Σ_b C(a,b) the history count, V the vocabulary
size. A document's score is its per-bigram cross-entropy in nats — high
means "unlike the reference corpus" (gibberish, boilerplate, wrong
language), the signal CCNet buckets into head/middle/tail.

Determinism contract: per-pair log-probabilities are quantized to integer
MICRO-NATS before summing — int64 sums are order-invariant, so the score
is bit-identical across partitionings and engines (a raw double sum over
~100 bigrams/doc would depend on partial-aggregation order). ln() is
transcendental (1-ulp engine differences) but a flip needs the micro-nat
rounding to land within that ulp — ~1e-10 per pair.

Plan shape: one (a,b) groupBy trains the model from the corpus; scoring
joins each doc bigram to its count — the join keys are the model table's
keys, so the model side shuffles once at model size (≪ corpus); history
counts and V broadcast. The corpus is scanned twice (train, score) —
at 100 TB you train on a reference SAMPLE and only the scoring scan is
corpus-sized, exactly CCNet's shape (Wikipedia-trained LM, crawl-scored).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandemic_knowledge_spark.functions.text import sql_tokenize, tokenize

MICRO = 1_000_000  # micro-nat quantization for order-invariant summing


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # Materialize the token array into a named column FIRST: element_at on
    # the raw tokenize() EXPRESSION would re-run the regex per element —
    # O(tokens²) regex work per doc (the round-1 lang_id blowup class).
    # Behind a pin barrier (r13): with a plain alias the size >= 2 filter
    # pushes below the projection and runs the regexp a second time per
    # row in the Filter (functions.pinning module docs).
    from pandemic_knowledge_spark.functions.pinning import pin

    base = pin(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        toks=tokenize(text_col),
    ).where(F.size("toks") >= 2)
    pairs = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return base.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )


def lm_score(
    train_docs: DataFrame,
    score_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, xent_nats) for every score_doc with ≥ 2 tokens.

    ``xent_nats`` (4 dp) = −mean micro-nat log-prob of the doc's bigrams
    under the add-one-smoothed bigram model trained on ``train_docs``.
    Unseen bigrams/histories fall back to the smoothing floor."""
    # SELF-SCORED double derivation is deliberate (r13+r14 negative
    # results, guide §2.3 over §1.2): when train is score, the two bigram
    # subtrees can never share one exchange — the scoring join consumes
    # RAW (doc_id, a, b) rows while the model side's clone is
    # column-pruned (doc_id dropped) and gains the build-side isnotnull
    # filters, so the exchanges are not canonically equal and AQE stage
    # reuse cannot fire (the executed plan shows two bigram exchanges).
    # Every sharing form costs more than the scan it saves: a
    # localCheckpoint stores a corpus-sized copy (r13, measured worse); a
    # (doc_id, a, b) pre-aggregate shares the scan but routes every
    # corpus bigram through a NEW corpus-sized exchange — trading an
    # embarrassingly-parallel tokenize re-scan for shuffle bytes, the
    # wrong direction at 100 TB, where the real shape is a sample-trained
    # model and ONE corpus-sized scoring scan anyway (module docstring).
    train_pairs = _doc_bigrams(train_docs, id_col, text_col)
    big = train_pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    pairs = _doc_bigrams(score_docs, id_col, text_col)
    hist = big.groupBy("a").agg(F.sum("c_ab").alias("h_a"))
    vocab = (
        train_docs.select(F.explode(tokenize(text_col)).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    scored = (
        pairs.join(big, ["a", "b"], "left")
        .join(F.broadcast(hist), "a", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
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
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(-F.col("s") / F.col("n_bigrams") / MICRO, 4).alias("xent_nats"),
        )
    )


def sql_lm_score(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for the self-scored form (train == score == table):
    same smoothing, same micro-nat quantization, same 4 dp rounding."""
    return f"""
WITH toks AS MATERIALIZED (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
pairs AS MATERIALIZED (
  SELECT doc_id, t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
big AS MATERIALIZED (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
hist AS (SELECT a, sum(c_ab) AS h_a FROM big GROUP BY a),
vocab AS (SELECT count(DISTINCT u.tok) AS v
          FROM (SELECT unnest(t) AS tok FROM toks) u),
scored AS (
  SELECT p.doc_id,
         CAST(round(ln(CAST(coalesce(g.c_ab, 0) + 1 AS DOUBLE)
                       / (coalesce(h.h_a, 0) + vocab.v)) * {MICRO}) AS BIGINT)
           AS lp_micro
  FROM pairs p
  LEFT JOIN big g ON p.a = g.a AND p.b = g.b
  LEFT JOIN hist h ON p.a = h.a
  CROSS JOIN vocab
)
SELECT doc_id, count(*) AS n_bigrams,
       round(-CAST(sum(lp_micro) AS DOUBLE) / count(*) / {MICRO}, 4) AS xent_nats
FROM scored GROUP BY doc_id
"""


PMI_MIN_COUNT = 5


def collocations_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = PMI_MIN_COUNT,
) -> DataFrame:
    """Collocation extraction: top-k token bigrams by pointwise mutual
    information, PMI = ln(N·C(a,b) / (C₁(a)·C₁(b))) with N the total
    bigram count and C₁ the unigram-occurrence counts — the
    significant-phrases feature (ES significant-terms' bigram cousin).
    min_count suppresses the low-frequency PMI pathology (hapax pairs
    always score highest). 4 dp rounding; ties break lexicographically."""
    pairs = _doc_bigrams(docs, id_col, text_col)
    big = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        docs.select(F.explode(tokenize(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    # N = Σ c_ab over the AGGREGATED frame, not count(*) over a second
    # bigram derivation: identical value, and the two consumers of `big`
    # now share one scan+explode+partial-aggregate subtree via
    # ReuseExchange — the r13 before plan paid a full third corpus pass
    # just to count bigrams (guide §2.4 duplicated-subtree removal).
    n_tot = big.agg(F.sum("c_ab").alias("n"))
    scored = (
        big.where(F.col("c_ab") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("t", "a").withColumnRenamed("c_t", "c_a")), "a")
        .join(F.broadcast(uni.withColumnRenamed("t", "b").withColumnRenamed("c_t", "c_b")), "b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(
                    F.col("n").cast("double") * F.col("c_ab")
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "a", "b").limit(top_k)


def sql_collocations_pmi(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = PMI_MIN_COUNT,
) -> str:
    """DuckDB oracle for :func:`collocations_pmi`."""
    return f"""
WITH toks AS MATERIALIZED (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
pairs AS MATERIALIZED (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
big AS (SELECT a, b, count(*) AS c_ab FROM pairs GROUP BY a, b),
uni AS (SELECT u.tok AS t, count(*) AS c_t
        FROM (SELECT unnest(t) AS tok FROM toks) u GROUP BY u.tok),
tot AS (SELECT count(*) AS n FROM pairs)
SELECT g.a, g.b, g.c_ab,
       round(ln(CAST(tot.n AS DOUBLE) * g.c_ab
                / (CAST(ua.c_t AS DOUBLE) * ub.c_t)), 4) AS pmi
FROM big g
JOIN uni ua ON g.a = ua.t
JOIN uni ub ON g.b = ub.t
CROSS JOIN tot
WHERE g.c_ab >= {min_count}
ORDER BY pmi DESC, g.a, g.b LIMIT {top_k}
"""
