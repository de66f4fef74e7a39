"""SparkSession builder tuned for both local testing and cluster scale.

The reference has no engine configuration at all (single-threaded CPython,
/root/reference/flow/scripts/insert_owid.py:177); everything here is the
Spark-native replacement: AQE for runtime re-planning, explicit broadcast
threshold for dimension joins, UTC session time zone so timestamp semantics
are deterministic and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def default_driver_memory() -> str:
    """Driver heap default: half the host's physical RAM, floored at 1g.
    A fixed default larger than the host lets the local-mode JVM grow past
    physical memory and get killed instead of spilling; half leaves room
    for the Python workers and the OS page cache. ``PK_DRIVER_MEMORY``
    overrides it per deployment."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, phys // 2 // (1 << 30))}g"


def get_spark(
    app_name: str = "pandemic-knowledge-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-aware defaults.

    Local master defaults to ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
    the caller passes its own master / lets spark-submit decide. All settings
    below are cluster-safe: AQE handles skew + partition coalescing at any
    scale, and the broadcast threshold covers every dimension table this
    engine joins (the reference's largest dim is 4,194 rows —
    /root/reference/flow/scripts/UID_ISO_FIPS_LookUp_Table.csv).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode the driver JVM IS the executor; Spark's 1g default
        # heap can't even build a medium broadcast table. Size it for the
        # host (only effective at JVM launch — a no-op on an existing
        # session; on a real cluster spark-submit owns this).
        .config(
            "spark.driver.memory",
            os.environ.get("PK_DRIVER_MEMORY") or default_driver_memory(),
        )
        # Whole-stage codegen emits a lot of JIT'd classes; the JVM's default
        # ~240 MB code cache fills after a handful of distinct query shapes,
        # at which point HotSpot silently disables compilation and everything
        # runs interpreted (measured 10×: an 18 s query returns to 2 s with
        # headroom). Size it so a long-lived session never hits the cliff.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
        # Companion to the code-cache sizing: Spark's compiled-class cache
        # holds 100 generated classes; a catalog of 60+ queries × ~10 codegen
        # stages each thrashes it, forcing Janino recompilation (driver-side,
        # ~100 ms a stage) on every re-run. One knob, zero risk.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # dynamic broadcast conversion — essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or os.environ.get("PK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Dim tables (nation/region/supplier/lookup CSVs) are tiny; make sure
        # they broadcast rather than shuffle the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamp semantics, matching the DuckDB oracle
        # (naive timestamps) and avoiding host-TZ drift in date_trunc/window.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / mapInPandas / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: vectorized reader on, sane split sizes for local[32];
        # on a real cluster these come from the site config.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # The testdata's events.ts is TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read as long nanos and convert in tables.load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Managed tables (io.write_bucketed_table) land outside the repo;
        # on a real cluster the site config points this at durable storage.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("PK_WAREHOUSE_DIR", "/tmp/pk-warehouse"),
        )
    )
    if os.environ.get("PK_S3_ENDPOINT"):
        builder = _with_s3a_conf(builder)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _with_s3a_conf(builder):
    """Wire the s3a connector for an S3-compatible object store (the
    reference's flagship flow lists a MinIO bucket,
    /root/reference/flow/scripts/insert_owid.py:203-214).

    Driven entirely by standard environment variables so no credential ever
    lands in code or logs:

    - ``PK_S3_ENDPOINT``    — endpoint URL (e.g. a MinIO host); enables the block
    - ``AWS_ACCESS_KEY_ID`` / ``AWS_SECRET_ACCESS_KEY`` — picked up by the
      default hadoop-aws credential chain; only passed through here if set
    - ``PK_S3_PATH_STYLE``  — "true" for path-style addressing (MinIO default)

    The hadoop-aws + aws-sdk jars ship with Spark distributions built with
    the hadoop-cloud profile; on clusters they come from the site classpath.
    All reads then accept ``s3a://bucket/key`` URIs in every source
    (sources.resolve handles the scheme dispatch).
    """
    endpoint = os.environ["PK_S3_ENDPOINT"]
    builder = (
        builder.config("spark.hadoop.fs.s3a.endpoint", endpoint)
        .config(
            "spark.hadoop.fs.s3a.path.style.access",
            os.environ.get("PK_S3_PATH_STYLE", "true"),
        )
        .config("spark.hadoop.fs.s3a.connection.maximum", "64")
        # Fail fast locally instead of the 7×/20 s default retry ladder.
        .config("spark.hadoop.fs.s3a.attempts.maximum", "3")
    )
    key, secret = os.environ.get("AWS_ACCESS_KEY_ID"), os.environ.get("AWS_SECRET_ACCESS_KEY")
    if key and secret:
        builder = builder.config("spark.hadoop.fs.s3a.access.key", key).config(
            "spark.hadoop.fs.s3a.secret.key", secret
        )
    return builder
