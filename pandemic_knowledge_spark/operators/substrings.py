"""Exact duplicated-substring detection over a document corpus.

The training-data dedup described in "Deduplicating Training Data Makes
Language Models Better" (Lee et al., 2022): find every token run of length
>= L that occurs more than once ACROSS THE WHOLE CORPUS (including twice in
the same document), and keep only the first occurrence. The paper builds a
suffix array; a suffix array is a single-machine data structure, so the
Spark-first re-expression is gram hashing:

1. one scan tokenizes and emits every L-token gram as
   ``(gram_hash, doc_id, start)`` — |tokens| rows of 24 bytes, the same
   order of magnitude as the corpus itself;
2. every occurrence after the first (ordered by (doc_id, start)) is a
   duplicated gram — found by a rank window below the size gate (one
   shuffle, fastest small) or by a map-side-combined min-struct aggregate
   + repeat-subset join above it (hot-gram-proof; see
   :func:`_dup_positions_combine`), auto-dispatched like the MinHash
   scale path;
3. ONE shuffle on ``doc_id`` merges overlapping/adjacent duplicated gram
   positions into maximal spans (gaps-and-islands: spans ``[s, s+L)`` merge
   while ``start <= prev_start + L``), which is exactly the set of maximal
   duplicated substrings of length >= L minus their first occurrence.

Both shuffles carry fixed-width integer rows, partition by high-cardinality
uniform keys (an MD5-derived 60-bit hash; doc ids), and are map-side
combinable — the plan survives a 1000-executor 100 TB corpus where the
suffix-array construction would not. Accuracy difference vs the suffix
array: hash collisions (2^-60 per pair, negligible) and span boundaries
quantized to gram starts — a duplicated run of exactly ``m >= L`` tokens is
recovered exactly (its ``m - L + 1`` grams all repeat and merge back into
one ``[s, s+m)`` span when the repeats are aligned).

Scale note — the dominant cost is shuffling one row per corpus token into
the gram aggregate; that shuffle is hash-balanced and map-side combined.
The grams side of the dup join is the same corpus-sized stream re-derived
from the scan; the build side (repeated grams only) is small enough to
broadcast in typical corpora, so the join adds no second wide shuffle.

Cross-engine determinism: gram hash = md5 of the space-joined gram tokens
(``md5_int``), occurrence rank ordered by the unique key ``(doc_id,
start)`` — bit-identical in Spark and the DuckDB oracle, no floats anywhere
until the final rounded ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandemic_knowledge_spark.functions.text import (
    md5_int,
    md5_int_expr,
    sql_tokenize,
    tokenize,
)

GRAM_LEN = 8  # tokens per gram: duplicated runs of >= 8 tokens are flagged


def _grams(docs: DataFrame, id_col: str, text_col: str, gram_len: int) -> DataFrame:
    """(doc_id, n_tokens, start, gram_hash) — one row per L-token gram.

    The gram hashes are built scan-side from the tokens array
    (sequence → transform → posexplode), all whole-stage-codegen
    expressions; nothing leaves the JVM.
    """
    from pandemic_knowledge_spark.functions.pinning import pin

    # Tokens behind a pin barrier: with a plain alias the n_tokens >= L
    # filter pushes below the projection and re-runs the tokenizer regexp
    # per row next to the Project's own evaluation (the r13 before plan
    # showed regexp_extract_all in BOTH the Filter and the Project of this
    # scan — functions.pinning module docs).
    docs = pin(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        toks=tokenize(text_col),
    ).withColumn("n_tokens", F.size("toks"))
    grams = F.transform(
        F.sequence(F.lit(0), F.col("n_tokens") - gram_len),
        lambda i: md5_int(F.concat_ws(" ", F.slice("toks", i + 1, gram_len))),
    )
    return (
        docs.where(F.col("n_tokens") >= gram_len)
        .select("doc_id", "n_tokens", F.posexplode(grams).alias("start", "gram_hash"))
    )


SKEW_THRESHOLD_BYTES = 1 << 30  # same 1 GiB frontier as the minhash gate


def _dup_positions_window(grams: DataFrame) -> DataFrame:
    """Rank-window form: ONE shuffle, single gram derivation — fastest
    while no gram hash is hot enough to straggle a task (small/medium
    corpora, page-cache scale)."""
    occ = Window.partitionBy("gram_hash").orderBy("doc_id", "start")
    return (
        grams.withColumn("occ", F.row_number().over(occ))
        .where(F.col("occ") > 1)
        .select("doc_id", "start")
    )


def _dup_positions_combine(grams: DataFrame) -> DataFrame:
    """Skew-safe form: the rank window puts ALL occurrences of one hash in
    one task — a hot boilerplate gram (billions of repeats at corpus
    scale) becomes a single-partition straggler. The min-struct aggregate
    finds the same first occurrence with MAP-SIDE COMBINE (hot keys
    collapse per input partition before the shuffle); the join's build
    side holds only grams that repeat at all — rare, usually
    broadcastable — and AQE skew-split handles the probe. Costs a second
    gram derivation (mitigated by the caller's cache), which is why it is
    the above-threshold path, not the default."""
    per_gram = grams.groupBy("gram_hash").agg(
        F.min(F.struct("doc_id", "start")).alias("first"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        grams.join(per_gram.where(F.col("cnt") > 1), "gram_hash")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("start") != F.col("first.start"))
        )
        .select("doc_id", "start")
    )


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = GRAM_LEN,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Maximal duplicated-substring spans, first occurrence exempt.

    Returns (doc_id, span_start, span_end) in TOKEN offsets: every maximal
    run of tokens ``[span_start, span_end)`` that repeats somewhere earlier
    in the corpus ("earlier" = smaller ``(doc_id, start)``). Lee et al. §4's
    output shape: the spans a cleaning pass would cut.

    ``skew_safe`` picks the first-occurrence strategy: False = rank window
    (one shuffle, fastest small), True = combine+join (hot-gram-proof, the
    100 TB form), None = auto on the Catalyst size estimate vs
    :data:`SKEW_THRESHOLD_BYTES` (1 GiB) — the same gate shape as the
    MinHash dispatcher.

    Auto-mode caveat: the size estimate is the optimized plan's
    ``sizeInBytes``, which is Long.MaxValue for LocalRelation inputs
    (``createDataFrame`` frames), so in-memory corpora always take the
    skew-safe path — pass parquet-backed input (or an explicit
    ``skew_safe=``) when the dispatch choice matters.
    """
    if skew_safe is None:
        from pandemic_knowledge_spark.operators.dispatch import size_gated

        skew_safe = size_gated(docs, SKEW_THRESHOLD_BYTES)
    grams = _grams(docs, id_col, text_col, gram_len)
    if skew_safe:
        # cache: the combine form derives grams twice (aggregate + probe);
        # MEMORY_AND_DISK blocks are evictable, so at corpus scale this
        # degrades to the recompute it replaces rather than OOMing. The
        # eager localCheckpoint of the (duplicated-positions-only, ≪ gram
        # count) result scopes the cache to this call — without it the
        # lazily-returned spans frame would outlive the cache decision and
        # the gram blocks would pin evictable storage for the session.
        grams = grams.cache()
        try:
            dup = _dup_positions_combine(grams).localCheckpoint(eager=True)
        finally:
            grams.unpersist()
    else:
        dup = _dup_positions_window(grams)
    prev = Window.partitionBy("doc_id").orderBy("start")
    spans = (
        dup.withColumn(
            "brk",
            F.when(
                F.lag("start").over(prev).isNull()
                | (F.col("start") > F.lag("start").over(prev) + gram_len),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(prev))
        .groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + gram_len).alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )
    return spans


def _grams_with_sentinels(
    docs: DataFrame, id_col: str, text_col: str, gram_len: int
) -> DataFrame:
    """(doc_id, n_tokens, start, gram_hash): every L-token gram PLUS one
    SENTINEL row per document (start = −1, hash = −md5(doc_id) − 1 —
    negative, so it can never collide with a real 60-bit gram hash). The
    sentinel rides the same explode as the grams, so ONE scan carries
    both the gram stream and the all-docs row the report's left side used
    to re-tokenize the corpus for (r14, r13 verdict item 6; guide §1.2).
    Docs shorter than ``gram_len`` emit only their sentinel."""
    from pandemic_knowledge_spark.functions.pinning import pin

    base = pin(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        toks=tokenize(text_col),
    ).withColumn("n_tokens", F.size("toks"))
    grams = F.when(
        F.col("n_tokens") >= gram_len,
        F.transform(
            F.sequence(F.lit(0), F.col("n_tokens") - gram_len),
            lambda i: F.struct(
                i.alias("start"),
                md5_int(
                    F.concat_ws(" ", F.slice("toks", i + 1, gram_len))
                ).alias("gram_hash"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<start:int,gram_hash:bigint>>")
    )
    sent = F.array(
        F.struct(
            F.lit(-1).alias("start"),
            (-md5_int(F.col("doc_id").cast("string")) - 1).alias("gram_hash"),
        )
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.explode(F.concat(sent, grams)).alias("g"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("g.start").alias("start"),
        F.col("g.gram_hash").alias("gram_hash"),
    )


def duplication_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = GRAM_LEN,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Per-document duplication audit over the whole corpus.

    (doc_id, n_tokens, dup_spans, dup_tokens, dup_frac): how much of each
    document is a repeat of text seen earlier in the corpus. ``dup_frac``
    rounded to 6 dp; documents with nothing duplicated report zeros.

    SINGLE-SCAN shape (r14, r13 verdict item 6): the pre-r14 form called
    :func:`duplicated_spans` and then re-tokenized the whole corpus a
    second time just to attach ``n_tokens`` to every doc (plus a
    corpus-rows join). Now one sentinel row per doc
    (:func:`_grams_with_sentinels`) flows THROUGH the first-occurrence
    machinery and the span merge — sentinels are singleton hash groups
    (rank 1 / count 1, never a false duplicate), are kept past the
    dup filter by their ``start = −1`` mark, always break their own
    island, and contribute ``n_tokens`` but no span to the per-doc
    aggregate. One tokenize pass instead of two and no report join; all
    output values bit-identical (same rank semantics for real grams, same
    long sums, same 6-dp division).

    ``skew_safe`` dispatches the first-occurrence strategy exactly like
    :func:`duplicated_spans` (rank window below the size gate, map-side
    min-struct combine + repeats join above it)."""
    if skew_safe is None:
        from pandemic_knowledge_spark.operators.dispatch import size_gated

        skew_safe = size_gated(docs, SKEW_THRESHOLD_BYTES)
    g = _grams_with_sentinels(docs, id_col, text_col, gram_len)
    if skew_safe:
        # same double-derivation cache discipline as duplicated_spans
        g = g.cache()
        try:
            per_gram = g.groupBy("gram_hash").agg(
                F.min(F.struct("doc_id", "start")).alias("first"),
                F.count(F.lit(1)).alias("cnt"),
            )
            marked = (
                g.join(
                    per_gram.where(F.col("cnt") > 1).select("gram_hash", "first"),
                    "gram_hash",
                    "left",
                )
                .where(
                    (F.col("start") == -1)
                    | (
                        F.col("first").isNotNull()
                        & (
                            (F.col("doc_id") != F.col("first.doc_id"))
                            | (F.col("start") != F.col("first.start"))
                        )
                    )
                )
                .select("doc_id", "n_tokens", "start")
                .localCheckpoint(eager=True)
            )
        finally:
            g.unpersist()
    else:
        occ = Window.partitionBy("gram_hash").orderBy("doc_id", "start")
        marked = (
            g.withColumn("occ", F.row_number().over(occ))
            .where((F.col("occ") > 1) | (F.col("start") == -1))
            .select("doc_id", "n_tokens", "start")
        )
    prev = Window.partitionBy("doc_id").orderBy("start")
    lag = F.lag("start").over(prev)
    return (
        marked.withColumn(
            "brk",
            F.when(
                lag.isNull()
                # a sentinel (start −1, always first) is its own island
                # and never seeds a span a real dup at start < L−1 could
                # merge into
                | (lag == -1)
                | (F.col("start") > lag + gram_len),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(prev))
        .groupBy("doc_id", "island")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.min("start").alias("span_start"),
            (F.max("start") + gram_len).alias("span_end"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("span_start") >= 0, 1).otherwise(0)
            ).cast("long").alias("dup_spans"),
            F.sum(
                F.when(
                    F.col("span_start") >= 0,
                    F.col("span_end") - F.col("span_start"),
                ).otherwise(0)
            ).cast("long").alias("dup_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dup_spans",
            "dup_tokens",
            F.round(
                F.col("dup_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = GRAM_LEN,
) -> DataFrame:
    """Rebuild each document's text with duplicated spans cut out
    (first occurrence kept) — the cleaning pass itself.

    Token-space surgery: re-tokenize, drop tokens inside any span, rejoin
    with single spaces. Punctuation/casing inside cut regions is not
    preserved (the tokens ARE the training corpus representation here).
    """
    spans = duplicated_spans(docs, id_col, text_col, gram_len)
    doc_spans = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    base = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks"))
    joined = base.join(doc_spans, "doc_id", "left")
    kept = F.filter(
        F.transform(F.col("toks"), lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            F.coalesce("spans", F.array()),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] < sp["span_end"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle emitters — generated from the SAME constants/code paths as
# the Spark plan so engine and oracle cannot drift.
# ---------------------------------------------------------------------------

def _sql_span_ctes(
    table: str, id_col: str, text_col: str, gram_len: int
) -> str:
    """Shared CTE body: toks → grams → first-occurrence dedup → merged
    spans. Used by both the report and the cleaning oracle."""
    gram = f"array_to_string(t[i + 1 : i + {gram_len}], ' ')"
    return f"""toks AS (
  SELECT {id_col} AS doc_id, {sql_tokenize(text_col)} AS t FROM {table}
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS start, {md5_int_expr(gram)} AS gram_hash
  FROM toks, UNNEST(range(len(t) - {gram_len} + 1)) AS u(i)
  WHERE len(t) >= {gram_len}
),
dup AS (
  SELECT doc_id, start FROM (
    SELECT doc_id, start,
           row_number() OVER (PARTITION BY gram_hash ORDER BY doc_id, start) AS occ
    FROM grams
  ) WHERE occ > 1
),
isl AS (
  SELECT doc_id, start,
         CASE WHEN lag(start) OVER w IS NULL
                   OR start > lag(start) OVER w + {gram_len} THEN 1 ELSE 0 END AS brk
  FROM dup
  WINDOW w AS (PARTITION BY doc_id ORDER BY start)
),
spans AS (
  SELECT doc_id, min(start) AS span_start, max(start) + {gram_len} AS span_end
  FROM (SELECT doc_id, start,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start) AS island
        FROM isl)
  GROUP BY doc_id, island
)"""


def sql_duplication_report(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = GRAM_LEN,
) -> str:
    """DuckDB SQL replaying :func:`duplication_report` rule-for-rule."""
    return f"""
WITH {_sql_span_ctes(table, id_col, text_col, gram_len)},
per_doc AS (
  SELECT doc_id, count(*) AS dup_spans,
         sum(span_end - span_start) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.dup_spans, 0) AS BIGINT) AS dup_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE)
             / greatest(len(b.t), 1), 6) AS dup_frac
FROM toks b LEFT JOIN per_doc p USING (doc_id)
"""


def sql_remove_duplicated_spans(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = GRAM_LEN,
) -> str:
    """DuckDB SQL replaying :func:`remove_duplicated_spans`: rebuild each
    doc from the tokens outside every duplicated span, space-joined."""
    return f"""
WITH {_sql_span_ctes(table, id_col, text_col, gram_len)},
pos AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, t[u.i + 1] AS tok
  FROM toks, UNNEST(range(len(t))) AS u(i)
),
kept AS (
  SELECT p.doc_id, p.i, p.tok
  FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = p.doc_id
                      AND p.i >= s.span_start AND p.i < s.span_end)
)
SELECT b.doc_id,
       coalesce((SELECT string_agg(k.tok, ' ' ORDER BY k.i)
                 FROM kept k WHERE k.doc_id = b.doc_id), '') AS clean_text
FROM toks b
"""
