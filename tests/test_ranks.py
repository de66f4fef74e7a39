"""operators.ranks — distributed exact ntile: bit-equivalence against the
single-task window, edge totality, and the plan shape that makes it the
100 TB form (partitioned row_number, no global-window funnel of the
input)."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pandemic_knowledge_spark.operators.ranks import decimal_bucket, partitioned_ntile


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


@pytest.mark.parametrize("buckets", [1, 3, 5])
@pytest.mark.parametrize("ascending", [True, False])
def test_matches_global_ntile_exactly(spark, buckets, ascending):
    """Same labels as ntile() OVER (ORDER BY v [DESC], k) on data with
    heavy exact ties (300 rows share one value) and the default decimal
    coarse bucket (so multi-value buckets are exercised too)."""
    random.seed(11)
    rows = [(i, random.randint(0, 400)) for i in range(3000)]
    rows += [(10_000 + i, 42) for i in range(300)]  # mega-tie
    df = _frame(spark, rows)
    order = [F.col("v").asc() if ascending else F.col("v").desc(), F.col("k").asc()]
    expected = df.select("k", F.ntile(buckets).over(Window.orderBy(*order)).alias("t"))
    got = partitioned_ntile(df, buckets, "v", "k", "t", ascending=ascending).select(
        "k", "t"
    )
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0


def test_identity_bucket_and_negatives(spark):
    """Identity coarse buckets and negative values (decimal_bucket's sign
    arm) both preserve the exact global order."""
    rows = [(i, v) for i, v in enumerate([-500, -50, -5, 0, 5, 50, 500, -50, 5])]
    df = _frame(spark, rows)
    expected = df.select(
        "k", F.ntile(4).over(Window.orderBy("v", "k")).alias("t")
    )
    for bucket in (None, F.col("v")):
        got = partitioned_ntile(df, 4, "v", "k", "t", bucket=bucket).select("k", "t")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expected.collect())
        )


def test_total_on_empty_and_tiny(spark):
    assert partitioned_ntile(_frame(spark, []), 5, "v", "k", "t").collect() == []
    rows = sorted(
        (r.k, r.t)
        for r in partitioned_ntile(
            _frame(spark, [(1, 10), (2, 20)]), 5, "v", "k", "t"
        ).collect()
    )
    assert rows == [(1, 1), (2, 2)]  # n < buckets: one row per leading tile
    with pytest.raises(ValueError):
        partitioned_ntile(_frame(spark, [(1, 1)]), 0, "v", "k", "t")


def test_decimal_bucket_monotone(spark):
    vals = [-12345, -999, -100, -1, 0, 1, 99, 100, 12345, 10**12]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = [
        r.b
        for r in df.select(decimal_bucket(F.col("v")).alias("b"), "v")
        .orderBy("v")
        .collect()
    ]
    assert out == sorted(out)


def _ranked_plan(spark, tmp_path):
    """Plan of a partitioned_ntile over a PARQUET-backed frame (LocalRelation
    plans elide exchanges)."""
    p = str(tmp_path / "ranks_plan")
    spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).write.mode("overwrite").parquet(p)
    df = partitioned_ntile(spark.read.parquet(p), 5, "v", "k", "t")
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_has_no_global_ntile_window(spark, tmp_path):
    """The 100 TB gate: no ntile() anywhere, and the row_number window over
    the INPUT is partitioned (its exchange is hashpartitioning on the
    bucket key, never a SinglePartition funnel of the ranked rows). The
    only single-partition stage allowed is the sketch-sized bucket-count
    cumulative walk."""
    plan = _ranked_plan(spark, tmp_path)
    assert "ntile" not in plan
    # every row_number window node must carry a partition spec on the
    # coarse bucket key
    for m in re.finditer(r"Window \[row_number\(\).*", plan):
        assert "__pk_nt_b" in m.group(0), m.group(0)
    # the ranked side shuffles by bucket hash, not into one partition
    assert "hashpartitioning(__pk_nt_b" in plan


def test_rfm_and_ccnet_plans_have_no_global_ntile(spark, sf_dir):
    """The two verdict-named catalog queries must never regress to the
    single-task ntile window (their localCheckpoint truncates lineage, so
    this inspects the final visible stage — the one that would carry the
    ntile if it came back)."""
    from pandemic_knowledge_spark.plans.catalog import REGISTRY

    for name in ("retail_rfm_segments", "lm_ccnet_buckets"):
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ntile" not in plan, name
        for m in re.finditer(r"Window \[row_number\(\).*", plan):
            assert "__pk_nt_b" in m.group(0), (name, m.group(0))


def test_grouped_matches_grouped_ntile_exactly(spark):
    """group_cols variant vs ntile() OVER (PARTITION BY g ORDER BY v, k),
    uneven group sizes and cross-group value collisions included."""
    random.seed(13)
    rows = [
        (i, random.choice(["a", "b", "c"]), random.randint(0, 80))
        for i in range(2500)
    ]
    df = spark.createDataFrame(rows, "k long, g string, v long")
    expected = df.select(
        "k",
        "g",
        F.ntile(4).over(Window.partitionBy("g").orderBy("v", "k")).alias("t"),
    )
    got = partitioned_ntile(
        df, 4, "v", "k", "t", group_cols=("g",)
    ).select("k", "g", "t")
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0


def test_null_values_and_null_groups_rank_like_ntile(spark):
    """NULL metric values and NULL group keys must not drop (review
    finding): Spark's ntile puts NULLs first ascending / last descending
    (NULL = smallest both ways) and a NULL group is a real partition."""
    rows = [(1, "a", 10), (2, "a", None), (3, "a", 30), (4, "a", 20),
            (5, "a", None), (6, None, 7), (7, None, None)]
    df = spark.createDataFrame(rows, "k long, g string, v long")
    for asc in (True, False):
        vorder = F.col("v").asc() if asc else F.col("v").desc()
        expected = df.select(
            "k", F.ntile(2).over(Window.orderBy(vorder, "k")).alias("t")
        )
        got = partitioned_ntile(df, 2, "v", "k", "t", ascending=asc).select("k", "t")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expected.collect())
        ), f"ascending={asc}"
    expected_g = df.select(
        "k",
        F.ntile(2).over(Window.partitionBy("g").orderBy("v", "k")).alias("t"),
    )
    got_g = partitioned_ntile(df, 2, "v", "k", "t", group_cols=("g",)).select(
        "k", "t"
    )
    assert sorted(map(tuple, got_g.collect())) == sorted(
        map(tuple, expected_g.collect())
    )


def test_grouped_percentiles_match_builtin(spark):
    """grouped_percentiles_exact vs the builtin percentile() aggregate —
    bit-identical doubles on fractional values with heavy ties, including
    a NULL group key, NULL values (excluded), a single-row group, and an
    all-NULL group (NULL percentiles)."""
    from pandemic_knowledge_spark.operators.ranks import grouped_percentiles_exact

    random.seed(23)
    rows = [(i, "g%d" % (i % 3), random.randint(0, 80) / 4.0) for i in range(2000)]
    rows += [(9000 + i, "g0", 7.25) for i in range(150)]       # mega-tie
    rows += [(9900, None, 3.5), (9901, None, 4.5), (9902, None, None)]
    rows += [(9950, "solo", 13.75)]
    rows += [(9960, "allnull", None), (9961, "allnull", None)]
    df = spark.createDataFrame(rows, "k long, g string, v double")
    ps = [0.25, 0.5, 0.75, 0.99]
    got = grouped_percentiles_exact(df, ["g"], "v", ps)
    exp = df.groupBy("g").agg(
        *[F.expr(f"percentile(v, {p})").alias(f"p{int(p * 100)}") for p in ps]
    )
    g = {tuple(r)[:1]: tuple(r)[1:] for r in got.collect()}
    e = {tuple(r)[:1]: tuple(r)[1:] for r in exp.collect()}
    assert g == e  # exact doubles, no rounding


def test_grouped_percentiles_auto_dispatch(spark, sf_dir, monkeypatch):
    """Auto tier: parquet-backed input below the 1 GiB default gate takes
    the builtin aggregate; forcing the gate to 0 flips to the rank form;
    identical values either way (latency-only dispatch)."""
    from pandemic_knowledge_spark.operators import ranks
    from pandemic_knowledge_spark.operators.ranks import grouped_percentiles_auto
    from pandemic_knowledge_spark.tables import load

    li = load(spark, sf_dir, "lineitem")
    ps = [0.25, 0.5]
    small = grouped_percentiles_auto(li, ["l_returnflag"], "l_quantity", ps)
    assert "percentile(" in small._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(ranks, "PCT_THRESHOLD_BYTES", 0)
    big = grouped_percentiles_auto(li, ["l_returnflag"], "l_quantity", ps)
    assert "percentile(" not in big._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))


def test_grouped_percentiles_plan_shape(spark, sf_dir):
    """The 100 TB shape: no builtin percentile aggregate (single-buffer
    value map per group), ranked row_number windows partitioned on the
    coarse bucket, and the fact-side joins broadcast (needed-bucket list
    and hit set are sketch-sized)."""
    from pandemic_knowledge_spark.plans.catalog import REGISTRY

    df = REGISTRY["agg_percentile_quantity"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan
    for m in re.finditer(r"Window \[row_number\(\).*", plan):
        assert "__pk_pc_b" in m.group(0), m.group(0)
    assert "hashpartitioning(l_returnflag" in plan and "__pk_pc_b" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
