"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pandemic_knowledge_spark.plans import BENCH_QUERY_NAMES, REGISTRY
from pandemic_knowledge_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Contention guard (r13 verdict item 1b): both r12 and r13 driver
    # samples launched onto an already-loaded box (loadavg 5.3 / 2.2) and
    # read 1.2-2x slower uniformly, which PERF then mis-attributed to code.
    # Before starting Spark, wait (bounded) for the box to go quiet; if it
    # never does, run anyway but flag the sample so comparisons can
    # discount it. Additions only: JSON line, env contract, and the timing
    # methodology below are byte-compatible with every prior round.
    quiet_threshold = float(os.environ.get("PK_BENCH_QUIET_LOADAVG", "1.0"))
    wait_cap_sec = float(os.environ.get("PK_BENCH_QUIET_WAIT_SEC", "240"))
    waited = 0.0
    while os.getloadavg()[0] >= quiet_threshold and waited < wait_cap_sec:
        time.sleep(5.0)
        waited += 5.0

    # Idle gate witness (r5/r6 verdict protocol): the START loadavg is the
    # honest one — by the end, this process's own 32 threads dominate it.
    loadavg_start = round(os.getloadavg()[0], 2)

    spark = get_spark(app_name="pk-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Steady-state protocol, two phases:
    #   1. Warm the WHOLE suite twice. Loading a new query's generated
    #      classes megamorphizes call sites shared by every compiled stage
    #      (HotSpot deoptimizes, then recompiles at full polymorphism) —
    #      measured 10× swings on whichever query ran right after a class
    #      load. Loading everything first, then re-running, lets the JIT
    #      settle ONCE for the final class population.
    #   2. Time three cache-cleared executions per query (every timed run
    #      pays the complete data path from parquet) and report the median.
    # One-time Janino compilation + JIT warmup are excluded by design:
    # sustained throughput is the comparison target, not cold start.
    spark.range(1000).selectExpr("sum(id)").collect()
    for _ in range(2):
        for name in BENCH_QUERY_NAMES:
            spark.catalog.clearCache()
            REGISTRY[name].fn(spark, sf_dir).collect()

    # Timed passes run ROUND-ROBIN (whole suite per pass, median per query
    # across passes) rather than back-to-back per query: on a shared box a
    # multi-second contention burst then lands on at most one run of each
    # query instead of swallowing all three runs of whichever query was up.
    runs: dict[str, list[float]] = {name: [] for name in BENCH_QUERY_NAMES}
    for _ in range(3):
        for name in BENCH_QUERY_NAMES:
            fn = REGISTRY[name].fn
            spark.catalog.clearCache()  # timed run pays all data-path work
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            runs[name].append(time.perf_counter() - t0)
            assert rows is not None
    timings = {name: round(sorted(ts)[1], 3) for name, ts in runs.items()}

    total = round(sum(timings.values()), 3)

    # Interactive-search latency: the ES-analogue split (SURVEY §4.2) —
    # index ONCE per ingest (untimed build+save below, reported separately),
    # then every query is a partition-pruned probe of the parquet posting
    # tables. Reported outside `queries` so the headline total stays
    # comparable across rounds.
    import shutil
    import tempfile

    from pandemic_knowledge_spark.operators.search import SearchIndex
    from pandemic_knowledge_spark.tables import load

    idx_dir = tempfile.mkdtemp(prefix="pk_search_idx_")
    try:
        t0 = time.perf_counter()
        SearchIndex.build(
            load(spark, sf_dir, "documents"), "doc_id", "text", cache=False
        ).save(idx_dir)
        build_sec = time.perf_counter() - t0
        idx = SearchIndex.load(spark, idx_dir)
        probe_queries = [
            "virus outbreak",
            "vaccine trial results",
            "global case counts",
            "hospital data stream",
            "travel restrictions update",
        ]
        idx.search(probe_queries[0], k=8).collect()  # warm probe path once
        probe_times = []
        for pq in probe_queries:
            spark.catalog.clearCache()  # every probe pays the parquet read
            t0 = time.perf_counter()
            idx.search(pq, k=8).collect()
            probe_times.append(time.perf_counter() - t0)
        search_index = {
            "build_save_sec": round(build_sec, 3),
            "probe_median_sec": round(sorted(probe_times)[len(probe_times) // 2], 3),
            "n_probe_queries": len(probe_queries),
        }
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    payload = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "search_index": search_index,
            "protocol": "steady_state_median_of_3_cache_cleared",
            # Contention witness: this box is shared with the round driver,
            # and overlapping runs measure 1.2-2x slower uniformly
            # (BASELINE.md variance notes). loadavg >> this process's own
            # footprint at read time means the numbers carry that tax.
            "loadavg_1m_at_start": loadavg_start,
            "loadavg_1m_at_end": round(os.getloadavg()[0], 2),
            # True when the box never went quiet inside the wait budget:
            # treat this sample's absolute numbers as contaminated.
            "contended": loadavg_start >= quiet_threshold,
            "waited_for_quiet_sec": round(waited, 1),
        }
    )
    # Durable marker FIRST: the round driver parses the last stdout line,
    # and round 3's record was lost to executor shutdown log spam landing
    # AFTER the JSON line (BENCH_r03.json: rc=0, parsed=null). So (a) write
    # the payload to a file the driver/judge can always read, (b) silence
    # the JVM before stopping, (c) print the JSON line as the absolute last
    # stdout action — after spark.stop() has already flushed its noise.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
        "w",
    ) as f:
        f.write(payload + "\n")
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    print(payload, flush=True)


if __name__ == "__main__":
    main()
