"""Incremental corpus ingest with near-dup rejection
(streaming/jobs.py::corpus_stream_ingest_dedup): first-accepted wins across
micro-batches via the persisted signature store; within a batch, clusters
collapse to their min-id representative; unsignable (too-short) docs pass
through. The second run resumes from the same checkpoint and must process
only the new drop."""

from __future__ import annotations

import pytest
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


# The same chain with every "x" spelled "z" (no shingle shared with the
# first), and a history text that near-dups its middle link only (Jaccard
# 0.68 to ZCHAIN_B, 0.37 to its ends).
ZCHAIN_A, ZCHAIN_B, ZCHAIN_C = (t.replace("x", "z") for t in (CHAIN_A, CHAIN_B, CHAIN_C))
ZHIST = ZCHAIN_B + " one two three four five six seven"


@pytest.mark.parametrize("gate", [None, 0], ids=["driver", "connected_components"])
def test_history_hit_spares_its_within_batch_partner(spark, tmp_path, monkeypatch, gate):
    """History holds 100 (CHAIN_A). The next drop brings 200 (CHAIN_B) and
    300 (CHAIN_C): 200 near-dups history doc 100 and is rejected; 300
    near-dups only 200, so with 200 gone it is fresh and accepted. Clusters
    form among history survivors only: clustering the batch first (rep 200)
    and then subtracting history would drop 300 with its rep.

    The mirrored case puts the hit on the larger-id side of its pairs:
    history 101 near-dups only 700 (ZCHAIN_B), whose batch partners 500
    and 600 are not near-dups of each other, so both are accepted; leaving
    700 in the clustering would join them and drop 600.

    Runs in both cluster arms (gate 0 sends any batch with a pair to
    connected_components)."""
    from pandemic_knowledge_spark.operators.dedup import minhash_base, minhash_probe_pairs
    from pandemic_knowledge_spark.streaming import jobs

    if gate is not None:
        monkeypatch.setattr(jobs, "BATCH_CLUSTER_MAX_PAIRS", gate)
    history = spark.createDataFrame([(100, CHAIN_A), (101, ZHIST)], SCHEMA)
    drop = spark.createDataFrame(
        [(200, CHAIN_B), (300, CHAIN_C), (500, ZCHAIN_A), (700, ZCHAIN_B), (600, ZCHAIN_C)],
        SCHEMA,
    )
    pairs = minhash_probe_pairs(
        minhash_base(drop, "doc_id", "text"), minhash_base(history, "doc_id", "text"), 0.5
    )
    assert {tuple(r) for r in pairs.collect()} == {
        (200, 100, True), (200, 300, False),
        (700, 101, True), (500, 700, False), (600, 700, False),
    }

    landing = str(tmp_path / "landing")
    _land(history, landing)
    _run(spark, landing, tmp_path)
    _land(drop, landing)
    _run(spark, landing, tmp_path)
    corpus = {r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert corpus == {100, 101, 300, 500, 600}
    sigs = {r.doc_id for r in spark.read.parquet(str(tmp_path / "sigs")).collect()}
    assert sigs == corpus


def test_dedup_micro_batch_job_budget(spark, tmp_path):
    """One append micro-batch (the second drop of ``_drops``: history hits,
    a within-batch cluster, an unsigned doc) resolves with one probe pass
    and one collect. Counted: emptiness check 1, docs and signature
    checkpoints 3, the probe's bounded collect 3, corpus and store appends
    2 — 9 jobs on local[4]. Two separate pair pipelines with a survivors
    checkpoint and join-based appends started 21."""
    landing = str(tmp_path / "landing")
    drop1, drop2 = _drops(spark)
    _land(drop1, landing)
    _run(spark, landing, tmp_path)
    _land(drop2, landing)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    _run(spark, landing, tmp_path)
    assert scheduler.nextJobId() - before <= 12
    got = {r.doc_id for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert got == {1, 2, 20, 30, 40, 100}


def test_dedup_micro_batch_plans_build_in_few_py4j_calls(
    spark, tmp_path, count_py4j_calls
):
    """Building — not running — one append micro-batch's two plans, its
    signatures (``minhash_base``) and the probe of them against a stored
    signature frame (``minhash_probe_pairs``), sends 19 py4j commands from
    the calling thread: each plan is one SQL statement. Built from Column
    calls the two sent about 3,700, about 1 s of driver time per batch."""
    from pandemic_knowledge_spark.operators.dedup import (
        minhash_base,
        minhash_probe_pairs,
    )

    drop1, drop2 = _drops(spark)
    store_path = str(tmp_path / "sigs")
    minhash_base(drop1, "doc_id", "text").write.parquet(store_path)
    docs = drop2.localCheckpoint(eager=True)
    base = minhash_base(docs, "doc_id", "text").localCheckpoint(eager=True)
    store = spark.read.schema(base.schema).parquet(store_path)

    def build():
        return (
            minhash_base(docs, "doc_id", "text"),
            minhash_probe_pairs(base, store, 0.5),
        )

    build()  # first use loads classes on both sides of the gateway
    (sigs, pairs), n = count_py4j_calls(build)
    assert n <= 32
    assert sigs.count() == base.count()
    assert {r.doc_a for r in pairs.collect() if r.hist} == {10}
