"""Incremental corpus ingest with near-dup rejection
(streaming/jobs.py::corpus_stream_ingest_dedup): first-accepted wins across
micro-batches via the persisted signature store; within a batch, clusters
collapse to their min-id representative; unsignable (too-short) docs pass
through. The second run resumes from the same checkpoint and must process
only the new drop."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pandemic_knowledge_spark.streaming.jobs import corpus_stream_ingest_dedup

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
NEAR = "alpha beta gamma delta epsilon zeta eta theta iota lambda"  # ~0.8 jac
OTHER = "one two three four five six seven eight nine ten"
OTHER_NEAR = "one two three four five six seven eight nine eleven"


def _run(spark, landing, tmp_path):
    q = corpus_stream_ingest_dedup(
        spark,
        landing,
        SCHEMA,
        out_path=str(tmp_path / "corpus"),
        sig_store=str(tmp_path / "sigs"),
        checkpoint=str(tmp_path / "cp"),
        threshold=0.5,
    )
    q.awaitTermination(120)


# A 2-shingle chain: each text is 16 tokens, the next one shifted by 3, so
# neighbours share 10 of 15 shingles (Jaccard 0.67) and the ends share 7 of
# 21 (0.43, below the 0.5 threshold). The LSH bands catch both neighbour pairs.
_CHAIN_WORDS = [
    "abcdefghijklmnopqrstuvwxyz"[(1 + i) % 26]
    + "abcdefghijklmnopqrstuvwxyz"[(7 * i + 1) % 26] + "x"
    for i in range(22)
]
CHAIN_A, CHAIN_B, CHAIN_C = (" ".join(_CHAIN_WORDS[s:s + 16]) for s in (0, 3, 6))


def _drops(spark):
    """Drop 1: doc 1 (BASE), doc 2 (OTHER) — both fresh, both accepted.

    Drop 2: doc 10 near-dups history doc 1 → rejected. Docs 20/21 are
    fresh but near-dup EACH OTHER → the within-batch cluster collapses to
    min id 20. Docs 100~300~200 are a transitive chain (100≁200) → one
    cluster, only 100 survives; a pairwise rule would keep 200, whose only
    near-dup 300 has the larger id. Doc 30 is fresh and unique → accepted.
    Doc 40 is too short to shingle → accepted as-is."""
    twin = "red orange yellow green blue indigo violet pink brown black"
    return (
        spark.createDataFrame([(1, BASE), (2, OTHER)], SCHEMA),
        spark.createDataFrame(
            [(10, NEAR), (20, twin), (21, twin),
             (100, CHAIN_A), (300, CHAIN_B), (200, CHAIN_C),
             (30, "completely different words entirely novel content here now"),
             (40, "tiny")],
            SCHEMA,
        ),
    )


def _land(drop, landing):
    drop.coalesce(1).write.mode("append").parquet(landing)


def test_incremental_ingest_rejects_history_and_batch_dups(spark, tmp_path):
    from pandemic_knowledge_spark.operators.dedup import minhash_base, pairs_from_base

    chain = spark.createDataFrame(
        [(100, CHAIN_A), (300, CHAIN_B), (200, CHAIN_C)], SCHEMA
    )
    pairs = pairs_from_base(minhash_base(chain, "doc_id", "text"), 0.5)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == {(100, 300), (200, 300)}

    landing = str(tmp_path / "landing")
    drop1, drop2 = _drops(spark)
    _land(drop1, landing)
    _run(spark, landing, tmp_path)
    first = {r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert first == {1, 2}

    _land(drop2, landing)
    _run(spark, landing, tmp_path)
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    got = {r.doc_id for r in corpus.collect()}
    assert got == {1, 2, 20, 30, 40, 100}

    # Signature store holds exactly the accepted SIGNED docs (40 unsigned).
    sigs = {r.doc_id for r in spark.read.parquet(str(tmp_path / "sigs")).collect()}
    assert sigs == {1, 2, 20, 30, 100}

    # Re-running with no new files must be a no-op (checkpoint replay safety).
    _run(spark, landing, tmp_path)
    assert corpus.count() == spark.read.parquet(str(tmp_path / "corpus")).count()


def _ingest_drops(spark, tmp_path):
    landing = str(tmp_path / "landing")
    for drop in _drops(spark):
        _land(drop, landing)
        _run(spark, landing, tmp_path)
    corpus = sorted(spark.read.parquet(str(tmp_path / "corpus")).collect())
    store = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "sigs"))
        .select("doc_id", F.array_sort("hs").alias("hs"),
                *[f"mh{i}" for i in range(16)]).collect()
    )
    return corpus, store


def test_connected_components_arm_matches_driver_arm(spark, tmp_path, monkeypatch):
    """With the driver-clustering gate at 0 pairs, a batch with any pair
    takes the connected_components arm; it must write the same corpus and
    signature store as the union-find arm."""
    import pandemic_knowledge_spark.operators.dedup as dedup
    from pandemic_knowledge_spark.streaming import jobs

    calls = []
    cc = dedup.connected_components
    monkeypatch.setattr(
        dedup, "connected_components", lambda *a, **k: calls.append(1) or cc(*a, **k)
    )
    driver_arm = _ingest_drops(spark, tmp_path / "uf")
    assert not calls
    monkeypatch.setattr(jobs, "BATCH_CLUSTER_MAX_PAIRS", 0)
    cc_arm = _ingest_drops(spark, tmp_path / "cc")
    assert calls
    assert cc_arm == driver_arm
