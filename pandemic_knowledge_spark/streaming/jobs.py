"""End-to-end streaming jobs: the reference's scheduled flows recomposed as
Structured Streaming pipelines (SURVEY.md §3.1-3.2 lifecycle, Spark form).

Where the reference wires Prefect tasks (mapping → parse → bulk-index,
/root/reference/flow/scripts/insert_owid.py:285-290) on a 24h clock, each
job here is ONE declarative pipeline: landing-dir file stream → the exact
same conform expressions the batch path uses → checkpointed sink. The 24h
cadence is a trigger knob, not an orchestration system.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pandemic_knowledge_spark.sources.crawlers import NEWS_SCHEMA
from pandemic_knowledge_spark.sources.pipelines import OWID_COLUMNS, conform_owid
from pandemic_knowledge_spark.streaming.sinks import append_parquet_sink
from pandemic_knowledge_spark.streaming.transforms import dedup_within_watermark

# Streaming sources need an explicit schema (no sniff/infer): the union of
# candidate headers, all strings — conform casts downstream, exactly like
# the reference's all-string CSV rows.
OWID_LANDING_SCHEMA = StructType(
    [StructField(h, StringType()) for cands in OWID_COLUMNS.values() for h in cands]
)

BATCH_CLUSTER_MAX_PAIRS = 1000
"""Within-batch near-dup pair count up to which corpus_stream_ingest_dedup
clusters on the driver (union-find over the collected pairs) instead of
running connected_components, and hence the most ids its IN filter drops.
connected_components costs tens of Spark jobs whatever the graph size
(about 6 s for an 18-doc batch on 4 local cores); the driver arm costs
about 0.4 ms of py4j per dropped id in the IN filter, which at 1000 ids
matches the fixed cost of an anti-join against a local frame. Larger
batches (an availableNow backlog drain) take connected_components."""


def owid_stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    lookup_dim: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """W1 — continuous form of the flagship OWID flow.

    Every CSV dropped into ``landing_dir`` is conformed by the SAME
    ``conform_owid`` expressions as the batch pipeline and appended to the
    conformed parquet table with checkpointed exactly-once file commits.
    ``processing_time="24 hours"`` reproduces the reference's cadence
    (insert_owid.py:282-284); ``available_now`` drains the backlog once.
    """
    reader = (
        spark.readStream.schema(OWID_LANDING_SCHEMA)
        .option("header", "true")
        # CSV user-schemas map by POSITION; enforceSchema=false makes Spark
        # validate the file header against the schema's field names and
        # fail loudly on a reordered/foreign file instead of silently
        # reading iso_code values into the date column.
        .option("enforceSchema", "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.csv(landing_dir).withColumn("_source_file", F.input_file_name())
    # Stream-static joins reject batch-only expressions anywhere in the
    # static side's lineage (build_location_dim's monotonically_increasing_id
    # ordering). localCheckpoint materializes the 4k-row dim once and cuts
    # the lineage, which is also the right cost model: the dim is computed
    # once per job, not once per micro-batch.
    conformed = conform_owid(raw, lookup_dim.localCheckpoint(eager=True))
    writer = (
        conformed.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def news_stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """W2 — continuous news feed with the re-crawl duplicate bug fixed.

    Crawler drops land as parquet in ``landing_dir`` (the adapter's output
    shape, sources.crawlers.NEWS_SCHEMA); the stream dedups on source.url
    within a 2-day watermark — overlapping 24h lookback crawls
    (crawl_tweets.py:60) insert each story exactly once.
    """
    raw = spark.readStream.schema(NEWS_SCHEMA).parquet(landing_dir)
    keyed = raw.withColumn("url", F.col("source.url"))
    deduped = dedup_within_watermark(keyed, ["url"], ts_col="date", watermark="2 days")
    writer = (
        deduped.drop("url")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def corpus_stream_ingest_dedup(
    spark: SparkSession,
    landing_dir: str,
    doc_schema: StructType,
    out_path: str,
    sig_store: str,
    checkpoint: str,
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Incremental corpus ingest with near-dup REJECTION — the daily shape
    of a training-corpus pipeline: new documents land continuously, and a
    document is accepted only if it is not a near-duplicate of anything
    already accepted.

    Per micro-batch (foreachBatch):
      1. cross-history: the batch's MinHash signatures LSH-probe the
         persisted signature store (operators.dedup.minhash_pairs_between)
         — new docs matching an accepted doc at >= threshold are rejected.
         The store keeps the ``minhash_base`` schema, so probing re-pairs
         nothing: candidates come from band-bucket equi-joins only. At
         scale, lay the store out partitioned by (band, bkey) so the probe
         prunes to matching buckets instead of scanning all signatures.
         The survivors are materialized right here, once: the pairing,
         the corpus semi-join and the store append all read that copy,
         so the probe runs once per micro-batch.
      2. within-batch: surviving docs pair among themselves
         (pairs_from_base over that one copy) and collapse to clusters;
         only each cluster's min-id representative survives. One bounded
         collect reads at most ``BATCH_CLUSTER_MAX_PAIRS`` + 1 pairs. If
         that is all of them, the driver clusters them
         (dedup.union_find_reps) and the dropped ids leave through an IN
         filter. A batch with more pairs (an availableNow backlog drain)
         runs connected_components on the same pair frame and drops its
         non-reps with an anti-join. Both arms label a cluster by its min
         id, so they accept the same docs.
      3. survivors append to the corpus table AND their signatures to the
         store — the store is the job's only state, readable by any other
         job (it IS the batch dedup structure, shared, not an opaque
         streaming-state blob).

    Acceptance is order-dependent by design (first-accepted wins), exactly
    like the reference's daily re-crawl should have been — its uuid4 doc
    ids made every 24h re-crawl a duplicate storm
    (/root/reference/flow/scripts/crawl_tweets.py:52).

    Retry caveat: appends in foreachBatch are at-least-once on task retry;
    production hardening is batch-id-named output files (idempotent
    overwrite per batch id), same protocol as sinks.append_parquet_sink.
    """
    from pandemic_knowledge_spark.operators.dedup import (
        connected_components,
        minhash_base,
        minhash_pairs_between,
        pairs_from_base,
        union_find_reps,
    )

    reader = spark.readStream.schema(doc_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(landing_dir)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = batch_df.localCheckpoint(eager=True)
        # Signatures computed ONCE per batch; every later step (history
        # probe, within-batch pairing, survivor selection) reuses them.
        base = minhash_base(docs, "doc_id", "text").localCheckpoint(eager=True)
        # Docs too short to shingle have no signature: nothing can verify
        # as their near-dup, so they are accepted as-is (never stored).
        unsigned = docs.join(base.select("doc_id"), "doc_id", "left_anti")
        # Missing store == first batch ever: that exact condition is checked
        # explicitly. Any OTHER read failure (permissions, partial write from
        # a crash, schema drift) must re-raise — swallowing it would silently
        # disable cross-history dedup and admit duplicates into the corpus.
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(sig_store)
        fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jvm_path):
            old = spark.read.parquet(sig_store)
            hit = minhash_pairs_between(base, old, threshold).select("doc_a").distinct()
            # Materialized here, so the pairing, the corpus semi-join and the
            # store append below read blocks and the probe runs once.
            base = base.join(
                hit, base["doc_id"] == hit["doc_a"], "left_anti"
            ).localCheckpoint(eager=True)
        pairs = pairs_from_base(base, threshold).select("doc_a", "doc_b")
        head = pairs.limit(BATCH_CLUSTER_MAX_PAIRS + 1).collect()
        if len(head) <= BATCH_CLUSTER_MAX_PAIRS:
            reps = union_find_reps((r.doc_a, r.doc_b) for r in head)
            dropped = [n for n, rep in reps.items() if n != rep]
            if dropped:
                base = base.filter(~F.col("doc_id").isin(dropped))
        else:
            # Re-derives the pairs from the materialized base: one band
            # join, small beside its label-propagation rounds.
            cc = connected_components(pairs)
            dropped = cc.filter(F.col("node") != F.col("rep"))
            base = base.join(
                dropped, base["doc_id"] == dropped["node"], "left_anti"
            ).localCheckpoint(eager=True)
        accepted = docs.join(base.select("doc_id"), "doc_id", "left_semi")
        accepted.unionByName(unsigned).write.mode("append").parquet(out_path)
        base.write.mode("append").parquet(sig_store)

    writer = stream.writeStream.foreachBatch(_ingest).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def corpus_stream_index(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming search-index maintenance: every micro-batch of newly landed
    documents goes through the index's one write door,
    operators.search.SearchIndex.append_save — the first batch creates the
    persisted index, every later one tokenizes only its own documents and
    appends their postings. The streaming form of the reference's daily
    re-bulk-load into ES (insert_owid.py:282-290), except incremental: old
    documents are never re-tokenized, and a probe over the index equals a
    from-scratch rebuild at every point in time. foreachBatch is
    at-least-once; the sink is crash-idempotent anyway (append_save repairs
    a half-written predecessor from its postings, drops already-indexed doc
    ids, and publishes its one-line ``meta.json`` commit record last, by an
    atomic rename), so a retried micro-batch is a no-op."""
    from pyspark.sql.types import LongType

    from pandemic_knowledge_spark.operators.search import SearchIndex

    schema = StructType(
        [StructField(id_col, LongType()), StructField(text_col, StringType())]
    )
    raw = spark.readStream.schema(schema).parquet(landing_dir)

    def _index(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            SearchIndex.append_save(
                batch_df.sparkSession, index_dir, batch_df, id_col, text_col
            )

    return (
        raw.writeStream.foreachBatch(_index)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sketch_stream_rollup(
    spark: SparkSession,
    landing_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
):
    """Streaming maintenance of the mergeable HLL distinct rollup
    (operators.sketches): every micro-batch of newly landed events appends
    its per-day sketch rows; range queries union-merge ALL rows for the
    covered days, so the rollup needs no read-modify-rewrite of history and
    a probe equals a from-scratch batch rollup at every point in time
    (merge-exactness of the sketch state).

    Retry caveat: foreachBatch appends are at-least-once, and a replayed
    batch would append a DUPLICATE sketch row — but the HLL union is
    register-wise max, so merging the same sketch twice is a no-op for the
    distinct ESTIMATE (the product this table serves); only the advisory
    n_rows column would double-count. Same stance as the posting-index
    sink: the answer the probe returns is crash-stable.
    """
    from pyspark.sql.types import LongType, TimestampType

    from pandemic_knowledge_spark.operators.sketches import daily_sketch_rollup

    schema = StructType(
        [StructField(key_col, LongType()), StructField(ts_col, TimestampType())]
    )
    raw = spark.readStream.schema(schema).parquet(landing_dir)

    def _roll(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        daily_sketch_rollup(batch_df, key_col, ts_col).write.mode(
            "append"
        ).parquet(rollup_dir)

    return (
        raw.writeStream.foreachBatch(_roll)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _write_quantile_batch(
    batch_rollup: DataFrame, batch_id: int, rollup_dir: str
) -> None:
    """Idempotent batch append: the rollup rows land in a batch_id
    partition via DYNAMIC partition overwrite, so a replayed micro-batch
    REPLACES its own partition instead of appending a duplicate. The HLL
    rollup can shrug off replays (register-max union is idempotent on the
    estimate); this sketch's counts ADD, so replay safety must come from
    the write protocol, not the algebra."""
    (
        batch_rollup.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(rollup_dir)
    )


def quantile_stream_rollup(
    spark: SparkSession,
    landing_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    ts_col: str = "ts",
):
    """Streaming maintenance of the decimal-DDSketch quantile rollup
    (operators.sketches.daily_quantile_rollup): each micro-batch of landed
    events appends its (day, bucket, cnt) rows into its own batch_id
    partition; a probe (quantiles_over) group-sums across all rows for the
    covered days, so the streamed rollup answers exactly like a
    from-scratch batch rollup at every point in time."""
    from pyspark.sql.types import DoubleType, LongType, TimestampType

    from pandemic_knowledge_spark.operators.sketches import daily_quantile_rollup

    schema = StructType(
        [StructField(value_col, DoubleType()), StructField(ts_col, TimestampType())]
    )
    raw = spark.readStream.schema(schema).parquet(landing_dir)

    def _roll(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _write_quantile_batch(
            daily_quantile_rollup(batch_df, value_col, ts_col), batch_id, rollup_dir
        )

    return (
        raw.writeStream.foreachBatch(_roll)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incidence_stream_rollup(
    spark: SparkSession,
    landing_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
):
    """Streaming epidemic surveillance feed: each micro-batch of landed
    events appends its per-(day, key) case counts — the live-maintained
    incidence table behind operators.epidemic (R_t, outbreak z-scores).
    Counts are additive, so replay safety uses the same batch_id dynamic
    partition overwrite as the quantile rollup; a probe sums counts per
    (day, key) across batches and then runs the same window analytics a
    batch rebuild would, with identical results at every point in time."""
    from pyspark.sql.types import LongType, StringType, TimestampType

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField(ts_col, TimestampType()),
            StructField(key_col, StringType()),
        ]
    )
    raw = spark.readStream.schema(schema).parquet(landing_dir)

    def _roll(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        day = F.date_trunc("day", F.col(ts_col)).cast("date")
        counts = batch_df.groupBy(
            day.alias("day"), F.col(key_col).alias("key")
        ).agg(F.count(F.lit(1)).alias("cases"))
        _write_quantile_batch(counts, batch_id, rollup_dir)

    return (
        raw.writeStream.foreachBatch(_roll)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
