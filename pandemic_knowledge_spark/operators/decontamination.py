"""Train/eval decontamination: flag training documents that overlap the
evaluation set's n-grams.

The canonical corpus-hygiene step before training: any training document
sharing a large n-gram footprint with the held-out split leaks evaluation
data (the overlap methodology popularized by the GPT-3 appendix). The
reference has no notion of it; a training-data engine needs it first-class.

Shape at scale: the eval side collapses to a DISTINCT n-gram hash set —
orders of magnitude smaller than the corpus — and the train side probes it
with one equi-join on the 8-byte hash (broadcast when the eval set is small,
shuffle hash join otherwise; either way linear, never pairwise). Overlap is
counted over each doc's DISTINCT shingles, so the fraction is a true Jaccard
containment: |doc ∩ eval| / |doc|.

Hashes are the same md5-derived 61-bit values as the dedup operators, so
the DuckDB oracle reproduces every count bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandemic_knowledge_spark.functions.text import HASH_MOD, md5_int, tokenize
from pandemic_knowledge_spark.operators.dedup import shingles


def _distinct_shingle_hash_rows(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc_id, h): one row per DISTINCT k-shingle of each doc."""
    # Tokens as a NAMED column first: inlined, the k+1 references inside
    # shingles() would paste the tokenizer regexp into the Generate that
    # many times per row (same fix as dedup._shingle_rows_sql; see
    # functions.pinning module docs).
    toks = F.col("__toks")
    return docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("__toks")
    ).select(
        "doc_id", F.explode(shingles(toks, k)).alias("s")
    ).select("doc_id", (md5_int(F.col("s")) % HASH_MOD).alias("h"))


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """(doc_id, n_shingles, n_hits, overlap_frac, contaminated) for every
    signable training doc: the fraction of its distinct k-shingles that
    appear ANYWHERE in the eval set, flagged at >= threshold. Docs too
    short to shingle produce no row (nothing to leak)."""
    ev = (
        _distinct_shingle_hash_rows(eval_df, id_col, text_col, k)
        .select("h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    tr = _distinct_shingle_hash_rows(train, id_col, text_col, k)
    # ev's h is distinct, so the left join never duplicates a train row:
    # one pass over the train shingles counts totals AND hits together
    # (count(*) vs count of the marker) — one scan, one join, one agg.
    return (
        tr.join(ev, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(F.col("n_hits").cast("double") / F.col("n_shingles"), 6).alias(
                "overlap_frac"
            ),
        )
        .withColumn("contaminated", F.col("overlap_frac") >= threshold)
    )
