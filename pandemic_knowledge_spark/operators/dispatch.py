"""Shared size-gate for exact-vs-scale-tier auto-dispatch.

Three operator families (MinHash LSH, exact substring dedup, Pearson pair
correlation) pick between an exact small-corpus form and a pruned/
skew-safe scale form. The gate is the optimized plan's ``sizeInBytes`` —
file-size metadata, no job, no scan (a sizing count() measured ~0.2 s per
call on the bench, pure overhead for small corpora).

Caveat: the estimate is Long.MaxValue for LocalRelation inputs
(``createDataFrame`` frames) — see :data:`UNKNOWN_SIZE`. Memory-safety
gates (MinHash, substring dedup) treat unknown as huge, so in-memory
frames take the scale path there; the recall-lossy correlation gate
instead treats unknown as small (driver-materialized frames ARE small,
and losing true pairs silently is the worse failure). Pass parquet-backed
input (or the operator's explicit ``scale=``/``skew_safe=`` override)
when the dispatch choice matters. Thresholds are module constants of
each operator, read at call time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# sizeInBytes when Catalyst has no estimate (LocalRelation & friends):
# Long.MaxValue. Callers that can afford it (recall-lossy tiers) should
# treat this as "driver-materialized, necessarily small", not "huge".
UNKNOWN_SIZE = (1 << 63) - 1


def size_estimate(df: DataFrame) -> int:
    """The optimized plan's raw sizeInBytes (no job, no scan)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def size_gated(df: DataFrame, threshold_bytes: int) -> bool:
    """True when ``df``'s Catalyst size estimate reaches ``threshold_bytes``
    — i.e. the caller should take its scale tier."""
    return size_estimate(df) >= threshold_bytes
