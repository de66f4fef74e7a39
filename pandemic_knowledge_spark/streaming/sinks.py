"""Streaming sinks: atomic versioned overwrite + append (SURVEY.md §2.10 W3).

The reference's refresh is delete-index-then-reload, and its own README
flags the non-atomicity — dashboards read an empty index mid-refresh
(/root/reference/flow/scripts/insert_owid.py:239-241,
/root/reference/README.md:226-227). The fix here is the standard
versioned-directory swap: each refresh writes a brand-new
version directory under the table root, then atomically repoints a
one-line ``_CURRENT`` manifest. Readers resolve ``_CURRENT`` first, so
they always see a complete version — never a partial or empty table.

All manifest/list/GC I/O goes through the HADOOP FILESYSTEM API (the same
dispatch `sources.csv_sniff.read_prefix` and `io.compact_partitions`
already use), so the table root can be ANY scheme Spark can write —
``file:``, ``hdfs:``, ``viewfs:``, ``s3a:`` (the reference's own storage
is a MinIO bucket, insert_owid.py:203-214). The pointer swap picks the
mechanism that is actually atomic per store: FileContext rename with
OVERWRITE on real filesystems (HDFS/local/viewfs), and a direct
overwrite-create of the one-object manifest on object-store schemes —
there the PUT replaces the object atomically while Hadoop's "rename" is
delete-then-copy and would expose a missing-manifest window. Readers see
the old pointer or the new one, never a torn or absent file. The search
index commits its ``meta.json`` record through the same :func:`publish_file`.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

_UNSUPPORTED_FS_CLASS = "org.apache.hadoop.fs.UnsupportedFileSystemException"


def _is_unsupported_fs(e: Exception) -> bool:
    """True iff ``e`` wraps a Java UnsupportedFileSystemException anywhere
    in its cause chain — classified by walking getClass().getName(), not by
    substring-matching the rendered message (a rephrased or merely-
    mentioning error must NOT be treated as 'no AbstractFileSystem bound',
    because the fallback it unlocks is weaker than the rename path)."""
    je = getattr(e, "java_exception", None)
    depth = 0
    while je is not None and depth < 16:
        try:
            if je.getClass().getName() == _UNSUPPORTED_FS_CLASS:
                return True
            je = je.getCause()
        except Exception:
            return False
        depth += 1
    return False


# Stores where a single-object overwrite PUT is atomic but rename is NOT
# (delete-dst-then-copy under the hood, leaving a missing-file window a
# concurrent reader would see): publish by direct create-overwrite there,
# never by rename.
OBJECT_STORE_SCHEMES = frozenset(
    {"s3a", "s3", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos"}
)


def _hadoop_path(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def publish_file(
    spark: SparkSession, path: str, content: str, put: bool | None = None
) -> None:
    """Atomically replace the small file at ``path`` with ``content``
    (AtomicTable's ``_CURRENT``, the search index's ``meta.json``) through
    the Hadoop FileSystem of the path's scheme, with no Spark job.

    ``put`` (default: the scheme is in :data:`OBJECT_STORE_SCHEMES`):
    direct overwrite-create — atomic at object stores, whose "rename" is
    delete-then-copy. Otherwise: tmp write + FileContext rename with
    OVERWRITE — the POSIX/HDFS atomic swap.
    Unknown schemes try the rename and fall back to a FileSystem-level
    delete+rename swap only when no AbstractFileSystem is bound
    (UnsupportedFileSystemException, classified by java class walk, not
    message text); any other rename failure propagates — downgrading a
    transient HDFS error to touching the LIVE file would be the
    non-atomicity this exists to prevent. Readers see the old content or
    the new, never a torn file."""
    jvm = spark._jvm
    dst, fs = _hadoop_path(spark, path)
    if put is None:
        put = (dst.toUri().getScheme() or "file").lower() in OBJECT_STORE_SCHEMES
    if put:
        _write_file(fs, dst, content)
        return
    tmp = jvm.org.apache.hadoop.fs.Path(
        dst.getParent(), f"{dst.getName()}.tmp-{uuid.uuid4().hex[:8]}"
    )
    _write_file(fs, tmp, content)
    try:
        rename_enum = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(rename_enum, 1)
        opts[0] = rename_enum.OVERWRITE
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dst.toUri(), spark._jsc.hadoopConfiguration()
        )
        fc.rename(tmp, dst, opts)
    except Exception as e:
        if not _is_unsupported_fs(e):
            fs.delete(tmp, False)
            raise
        # No AbstractFileSystem bound for this scheme: FileSystem-level
        # swap. delete+rename leaves at worst a brief missing-file window
        # (a reader sees the old content, or retries past "absent"),
        # NEVER a torn file — overwrite-creating the live dst would
        # truncate-then-write in place, exposing an empty/partial file
        # mid-write. A failed rename then propagates loudly (whatever the
        # file points at is intact; re-publishing repairs).
        fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise RuntimeError(
                f"publish failed: rename({tmp}, {dst}) returned false; "
                "re-publish to repair"
            )


def read_published_file(spark: SparkSession, path: str) -> str | None:
    """Content of a file committed by :func:`publish_file`, or None when
    it does not exist (nothing published yet). No Spark job."""
    p, fs = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    ins = fs.open(p)
    try:
        return bytes(ins.readAllBytes()).decode("utf-8")
    finally:
        ins.close()


def _write_file(fs, path, content: str) -> None:
    out = fs.create(path, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


class AtomicTable:
    """A parquet table addressed through a ``_CURRENT`` version manifest.

    Layout::

        root/
          _CURRENT          <- contains "v-000042-<uuid>"
          v-000041-.../     <- previous version (kept for in-flight readers)
          v-000042-.../     <- current version

    ``overwrite`` is the W3 atomic full-refresh; ``read`` resolves the
    manifest then scans only that version directory.
    """

    def __init__(
        self, root: str, keep_versions: int = 2, spark: SparkSession | None = None
    ) -> None:
        # All manifest I/O runs through the Hadoop FileSystem of the root's
        # scheme, so any Spark-writable store works (file/hdfs/viewfs/s3a).
        # ``spark`` pins the session the FS is resolved from; default is
        # the active one (constructors run on the driver).
        self.root = root.rstrip("/") or root
        self.keep_versions = keep_versions
        self._spark = spark
        rootp, fs = _hadoop_path(self._session(), self.root)
        fs.mkdirs(rootp)

    # -- Hadoop FS plumbing -------------------------------------------------

    def _session(self) -> SparkSession:
        s = self._spark or SparkSession.getActiveSession()
        if s is None:
            raise RuntimeError(
                "AtomicTable manifest I/O needs a SparkSession (pass spark= "
                "or create the session first)"
            )
        return s

    def current_version(self) -> str | None:
        path = f"{self.root}/_CURRENT"
        return (read_published_file(self._session(), path) or "").strip() or None

    @staticmethod
    def _seq_of(name: str) -> int:
        try:
            return int(name.split("-")[1])
        except (IndexError, ValueError):
            return -1

    def _versions(self) -> list[str]:
        """Version directories ordered by publish recency (modification
        time, then sequence number as tie-break), oldest first.
        Lexicographic name order is NOT publish order once sequences
        collide — the uuid suffix would shuffle same-seq versions
        arbitrarily."""
        rootp, fs = _hadoop_path(self._session(), self.root)
        entries = []
        for st in fs.listStatus(rootp):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("v-"):
                entries.append((st.getModificationTime(), self._seq_of(name), name))
        return [name for _, _, name in sorted(entries)]

    def overwrite(self, df: DataFrame) -> str:
        """Write df as a new version, then atomically repoint _CURRENT."""
        seq = max((self._seq_of(v) for v in self._versions()), default=-1) + 1
        version = f"v-{seq:06d}-{uuid.uuid4().hex[:8]}"
        df.write.mode("errorifexists").parquet(f"{self.root}/{version}")
        rootp, _ = _hadoop_path(self._session(), self.root)
        scheme = (rootp.toUri().getScheme() or "file").lower()
        publish_file(
            self._session(), f"{self.root}/_CURRENT", version,
            put=self._publish_mechanism(scheme) == "put",
        )
        self._gc(keep=version)
        return version

    # per-table copy of the module set: an instance may override it
    OBJECT_STORE_SCHEMES = OBJECT_STORE_SCHEMES

    def _publish_mechanism(self, scheme: str) -> str:
        """'put' (single-object overwrite-create — atomic at object
        stores, where rename is delete-then-copy) or 'rename' (tmp +
        FileContext rename-with-OVERWRITE — atomic on real filesystems).
        Split out so tests pin the dispatch per scheme without needing a
        live object-store connection."""
        return "put" if scheme in self.OBJECT_STORE_SCHEMES else "rename"

    def _gc(self, keep: str) -> None:
        """Drop all but the newest ``keep_versions`` directories by publish
        recency (never the one just published). With the default
        keep_versions=2 the immediately-previous version always survives
        for in-flight readers that resolved _CURRENT just before the swap."""
        rootp, fs = _hadoop_path(self._session(), self.root)
        versions = [v for v in self._versions() if v != keep]
        for stale in versions[: max(0, len(versions) - (self.keep_versions - 1))]:
            fs.delete(self._session()._jvm.org.apache.hadoop.fs.Path(rootp, stale), True)

    def read(self, spark: SparkSession) -> DataFrame:
        version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"no published version under {self.root}")
        return spark.read.parquet(f"{self.root}/{version}")


def atomic_overwrite_sink(
    stream_df: DataFrame,
    table: AtomicTable,
    checkpoint: str,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """W3 — full-refresh-per-micro-batch through the atomic swap.

    ``foreachBatch`` gives exactly-once-per-batch semantics for the publish:
    a failed batch leaves _CURRENT untouched, a retried batch publishes a
    fresh version. This is the streaming form of the reference's
    delete+reload (K3) with the race removed. ``processing_time`` is the
    reference's 24h IntervalSchedule knob
    (/root/reference/flow/scripts/insert_owid.py:282-284).
    """

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        table.overwrite(batch_df)

    writer = (
        stream_df.writeStream.foreachBatch(_publish)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def append_parquet_sink(
    stream_df: DataFrame, path: str, checkpoint: str, **start_kwargs
):
    """K1 streaming form — append micro-batches to a parquet table with
    checkpointed exactly-once file commits (Spark's file-sink log replaces
    the reference's hand-rolled 1,000-row flush buffer,
    /root/reference/flow/scripts/insert_owid.py:148-156)."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start(**start_kwargs)
    )


def upsert_sink(
    stream_df: DataFrame,
    table: AtomicTable,
    keys: list[str],
    order_col: str,
    checkpoint: str,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """Keyed SCD1 merge per micro-batch through the atomic swap — the
    middle ground the reference lacks between append (K1) and full
    delete+reload (K3): arriving rows REPLACE current rows with the same
    key, unmatched current rows survive, and each batch publishes a fresh
    version so readers see the pre-merge or post-merge table, never a mix.

    Within a batch the winner per key is the max ``order_col`` row
    (row_number over a per-key desc sort) — give it a total order
    (event timestamp + sequence) for full determinism.

    The merge itself is current LEFT ANTI batch-keys ∪ batch: one shuffle
    of the (small) batch side against the current table. Rewriting the
    whole table per batch is the simple correct form; the scale path keeps
    the same merge but lays the table out bucketed by key hash and rewrites
    only buckets containing touched keys (log-structured merge with
    compaction is the step after that). Retry safety: a failed batch never
    repoints _CURRENT; a retried batch republishes from the same inputs.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        try:
            cur = table.read(batch_df.sparkSession)
        except FileNotFoundError:
            cur = None
        merged = (
            batch
            if cur is None
            else cur.join(batch.select(*keys), keys, "left_anti").unionByName(batch)
        )
        table.overwrite(merged)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def scd2_sink(
    stream_df: DataFrame,
    table: AtomicTable,
    key_cols: list[str],
    attr_cols: list[str],
    ts_col: str,
    checkpoint: str,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """Streaming SCD2 maintenance: each micro-batch of changes folds into
    the history table via operators.history.scd2_merge, published through
    the atomic swap.

    Invariant (the batch operator's contract, driver-checked there): after
    any batch, the table equals a full build_scd2 over every change seen so
    far — late rows splice intervals, re-statements compress away, and only
    keys present in the batch are re-windowed (untouched history passes
    through). First batch bootstraps the history with build_scd2.

    Retry safety mirrors upsert_sink: a failed batch never repoints
    _CURRENT, and a replayed batch is idempotent — merging the same changes
    twice re-compresses to the identical history (re-stated attribute runs
    collapse), so at-least-once foreachBatch delivery yields exactly-once
    table states.
    """
    from pandemic_knowledge_spark.operators.history import build_scd2, scd2_merge

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.select(*key_cols, *attr_cols, ts_col).localCheckpoint(
            eager=True
        )
        try:
            cur = table.read(batch_df.sparkSession)
        except FileNotFoundError:
            cur = None
        if cur is None:
            hist = build_scd2(batch, key_cols, attr_cols, ts_col)
        else:
            hist = scd2_merge(cur, batch, key_cols, attr_cols, ts_col)
        table.overwrite(hist)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
