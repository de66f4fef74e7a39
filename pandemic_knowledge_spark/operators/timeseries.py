"""Time-series completion: dense spine generation, zero-fill, forward-fill.

The reference's Kibana date_histogram silently draws empty buckets for
missing hours; an engine that hands the series to a consumer (alerting,
forecasting, a chart API) must materialize them — a count of zero and a
carried-forward level are data, not rendering. This is the classic
gap-fill + LOCF (last observation carried forward) pair.

Scale shape: the spine is (distinct keys) × (hour grid) — the key side is a
grouped aggregate and the grid is one `sequence()` row exploded, so the
spine build is a broadcast-sized cross join (keys × hours, never touching
the fact table). The fact side contributes one keyed aggregate; the
forward-fill is one window over the spine (partitioned by key, ordered by
hour) — O(spine) rows total, which is grid-bounded and typically orders of
magnitude smaller than the event table it summarizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rolling_active_keys(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Rolling N-day distinct-active count per report day (the DAU/WAU/MAU
    family): for each day d in the observed range, how many distinct keys
    had any event in (d-N+1 .. d].

    Distinct-over-a-sliding-window can't ride a RANGE window frame (frames
    aggregate rows, not distinct keys), and a per-day self-join over the
    range is N scans. Instead each distinct (key, day) row is exploded to
    the N report days it contributes to — a constant ×N map-side fan-out of
    the already-deduplicated user-day table — followed by ONE
    distinct-count shuffle on report day. Linear at any scale; N is a
    constant, never a join multiplicity."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    ud = events.select(F.col(key_col).alias("key"), day.alias("d")).distinct()
    bounds = ud.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    contrib = ud.select(
        "key",
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("o"),
        "d",
    ).select("key", F.date_add(F.col("d"), F.col("o")).alias("report_day"))
    counts = (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("report_day").between(F.col("lo"), F.col("hi")))
        .groupBy("report_day")
        .agg(F.count_distinct("key").alias("cnt"))
    )
    # dense report-day spine: a stretch with NO activity anywhere must
    # report 0 rows-with-zero, not missing rows — the drop-alert case the
    # series exists for (zero counts are data, per the module thesis).
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(
            "report_day"
        )
    )
    return spine.join(counts, "report_day", "left").select(
        "report_day",
        F.coalesce("cnt", F.lit(0)).cast("long").alias(f"active_{window_days}d"),
    )


def _daily_counts(events: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    return events.groupBy(F.col(key_col).alias("key"), day.alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _corr_topk_from_sxy(
    daily: DataFrame,
    sxy: DataFrame,
    k: int,
    stats: DataFrame | None = None,
    n_days: DataFrame | None = None,
) -> DataFrame:
    """Assemble exact Pearson r for the (key_a, key_b, sxy) pairs and take
    the top-k — the shared tail of the exact and candidate-pruned tiers, so
    the r formula (exact int64 sums, fixed assembly, bit-identical doubles)
    cannot fork between them. ``stats``/``n_days`` accept the frames a
    caller already derived for its candidate stage (the pruned tier needs
    both for its sketches) instead of re-aggregating ``daily``."""
    # n = the DENSE calendar span (the zero-filled series length the
    # docstring promises), not the count of days with any event — a
    # corpus-wide quiet day is a real 0 in every series.
    if n_days is None:
        n_days = daily.select(
            (F.datediff(F.max("d"), F.min("d")) + 1).cast("long").alias("nd")
        )
    if stats is None:
        stats = daily.groupBy("key").agg(
            F.sum("n").alias("sx"), F.sum(F.col("n") * F.col("n")).alias("sxx")
        )
    sa = stats.select(
        F.col("key").alias("key_a"), F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa")
    )
    sb = stats.select(
        F.col("key").alias("key_b"), F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb")
    )
    nd = F.col("nd")
    num = nd * F.col("sxy") - F.col("sxa") * F.col("sxb")
    var_a = nd * F.col("sxxa") - F.col("sxa") * F.col("sxa")
    var_b = nd * F.col("sxxb") - F.col("sxb") * F.col("sxb")
    return (
        sxy.join(F.broadcast(sa), "key_a")
        .join(F.broadcast(sb), "key_b")
        .crossJoin(F.broadcast(n_days))
        .filter((var_a > 0) & (var_b > 0))
        .select(
            "key_a",
            "key_b",
            (num.cast("double") / F.sqrt(var_a.cast("double") * var_b.cast("double")))
            .alias("r"),
        )
        .orderBy(F.desc("r"), "key_a", "key_b")
        .limit(k)
    )


def correlation_pairs_topk(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k most-correlated pairs of keys by their DAILY activity series
    (Pearson r over the dense day grid), computed exactly from sparse data.

    The dense-series trick: with x, y the zero-filled daily count vectors
    over the table's n-day grid, every Pearson term is a plain sum in which
    zero days vanish — Σx, Σx² come from each key's observed days alone and
    Σxy only from days BOTH keys were active (an equi-self-join on day). So
    the quadratic-looking "correlate all pairs over all days" collapses to
    one day-keyed join whose fan-out is Σ_d c_d² (c_d = active keys that
    day) — the same bounded block-join shape as the n-gram Jaccard index,
    with no dense matrix ever materialized. r is assembled from exact int64
    sums with a FIXED formula (n·Σxy − ΣxΣy over the sqrt product), so the
    resulting doubles are bit-identical in any engine and under any
    partitioning — F.corr's merge-order-dependent streaming algorithm is
    deliberately avoided.

    This is the EXACT tier: every co-active pair is scored, so the Σ_d c_d²
    fan-out grows quadratically in keys-active-per-day. Above the size gate
    :func:`correlation_pairs_topk_auto` dispatches to the sign-sketch
    candidate-pruned tier instead (the same relationship the dedup family
    has between exact Jaccard and MinHash LSH).

    Returns (key_a, key_b, r) for the k highest-r pairs (ties broken by
    key order); constant series (zero variance) are excluded.
    """
    daily = _daily_counts(events, key_col, ts_col)
    a, b = daily.alias("a"), daily.alias("b")
    sxy = (
        a.join(b, (F.col("a.d") == F.col("b.d")) & (F.col("a.key") < F.col("b.key")))
        .groupBy(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("sxy"))
    )
    return _corr_topk_from_sxy(daily, sxy, k)


# The exact tier's Σ_d c_d² pair fan-out is quadratic in keys-active-per-
# day, so its frontier sits FAR below the MinHash dispatcher's 1 GiB —
# but not at 1 MiB: with the r5 adaptive band width the sketch tier's
# fixed cost (keys × n_proj signature pass) makes exact the better AND
# lossless choice through sf0.1-class data (measured 9.3 s exact vs
# 10.9 s pruned at 2.2 MB / 1.5k keys), while the sketch tier wins 10×+
# once keys multiply (14–18 s vs minutes at 22 MB / 15k keys). 4 MiB
# keeps oracle- and bench-scale runs exact and routes real corpora to
# the sketch tier.
CORR_THRESHOLD_BYTES = 1 << 22
CORR_N_BANDS = 16
# Band width (bits) adapts to the key count: b = ⌈log₂ n⌉ + 1, so the
# per-band bucket space is ~2× the key count and EXPECTED candidates stay
# O(bands · n) — a fixed width is quadratic in keys once n outgrows 2^b
# (the r4 default of 4 bits/band measured 63M candidate pairs for 15k
# keys at sf1: every band degenerated to ~n/16-sized buckets; it looked
# accurate at sf0.1 only because near-all-pairs were being re-checked).
CORR_MIN_BITS = 4
CORR_MAX_BITS = 20
# A band bucket holding more keys than this is degenerate — dominated by
# (near-)identical series that agree on every projection sign (mass-
# duplicated metrics, bot cohorts). Emitting its C(c,2) pairs is
# quadratic while adding no top-k information (all pairs tie near r=1);
# oversized buckets chain-link instead (see the pruned docstring).
CORR_BUCKET_CAP = 512


def correlation_pairs_topk_pruned(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    k: int = 10,
    n_proj: int | None = None,
    n_bands: int = CORR_N_BANDS,
    bucket_cap: int = CORR_BUCKET_CAP,
) -> DataFrame:
    """The 100 TB tier: random-hyperplane sign sketches prune the pair
    space BEFORE the exact Pearson re-check — the verdict-named fix for the
    exact tier's Σ_d c_d² all-pairs fan-out (the same banding play
    operators.dedup makes for text).

    Sketch: for projection p, a deterministic ±1 day coefficient c(d,p)
    (md5 of day|p — reproducible at any cluster size); the CENTERED series
    projection is recovered from sparse sums without densifying:
    ⟨x − x̄, c_p⟩ · nd = nd·Σ_d n_d·c(d,p) − Σx·S_p, where S_p = Σ_grid
    c(d,p) comes from the (days × n_proj)-sized coefficient table — exact
    int64 throughout. Goemans–Williamson: P[sign match] = 1 − θ/π, and
    Pearson r = cos θ of the centered series, so highly-correlated pairs
    agree on almost every sign bit; banding n_proj bits into n_bands
    buckets makes them collide with probability → 1 while uncorrelated
    pairs almost never do. Candidates then re-check through the SAME exact
    formula as the exact tier (shared assembly), so every emitted r is
    exact — only recall of weakly-correlated tail pairs is traded, exactly
    like MinHash vs exact Jaccard.

    Cost: one (keys × n_proj)-row signature shuffle + candidate emission
    bounded by Σ min(C(c,2), c) per bucket — never keys-quadratic. The
    per-day coefficient table is grid-sized (days × n_proj) and
    broadcasts. Two structural guards keep that true at any key count:

    - ADAPTIVE BAND WIDTH (``n_proj=None``): bits per band =
      ⌈log₂ n_keys⌉ + 1 (clamped to [4, 20]), read off one count over
      the already-materialized daily rollup. The per-band bucket space
      then tracks ~2n, so expected random collisions stay O(n_bands·n);
      any FIXED width goes quadratic once keys outgrow its bucket space.
    - DEGENERATE-BUCKET CHAIN LINKING: a bucket above ``bucket_cap`` is
      mass-duplication (near-identical series match every sign bit — no
      width fixes that), and its C(c,2) pairs all tie near r=1; such
      buckets emit only consecutive-by-key chain pairs within crc32
      salt sub-buckets (window stays parallel, c−#subs pairs), which
      still surfaces representative max-r pairs for the top-k while
      bounding the fan-out linearly. Recall trade: non-adjacent pairs
      INSIDE a degenerate bucket are not re-checked — they are
      interchangeable with the emitted ones at the top of the ranking.

    Sub-cap buckets emit exact C(c,2) ordered pairs grouped (sorted
    collect per bucket + nested array transform — the winnow shape), so
    candidate rows never pass through a posting self-join.

    Side effects at construction: the adaptive width (``n_proj=None``)
    runs a key count, and the signature frame is checkpointed EAGERLY, so
    building this frame (plan capture, ``explain``) runs the daily rollup
    and the whole signature pass before anything is collected.
    """
    from pandemic_knowledge_spark.functions.text import md5_int

    # both phases (signatures, exact re-check) consume the daily rollup —
    # materialize it once instead of re-aggregating events per consumer
    daily = _daily_counts(events, key_col, ts_col).localCheckpoint(eager=False)
    # one moment pass serves the adaptive-width key count, the sketches
    # (sx) and the final exact assembly (sx, sxx): the count() below
    # materializes this keys-sized checkpoint AND the daily one — the
    # pre-r14 separate daily.distinct().count() job is gone (guide §1.2)
    stats = daily.groupBy("key").agg(
        F.sum("n").alias("sx"), F.sum(F.col("n") * F.col("n")).alias("sxx")
    ).localCheckpoint(eager=False)
    if n_proj is None:
        import math

        n_keys = stats.count()
        r_bits = min(
            CORR_MAX_BITS,
            max(CORR_MIN_BITS, math.ceil(math.log2(max(n_keys, 2))) + 1),
        )
        n_proj = r_bits * n_bands
    elif n_proj % n_bands:
        raise ValueError("n_proj must divide into n_bands equal bands")
    else:
        r_bits = n_proj // n_bands
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )

    # Per-day coefficients grouped to (d, band, sl[r_bits]) slice rows —
    # same md5(day|p) derivation as the r5 long form (bit-identical
    # coefficients), built FROM the tiny (d, p, c) long table so every
    # generated-code method holds ONE md5 call (an n_proj-wide md5
    # projection blew Janino's 64 KB method limit and fell back to
    # interpreted — measured as ~20 s of cold compile failures). r14
    # rewrite (guide §2.3/§2.4): the old plan joined the long-form table
    # onto daily — ×n_proj row fan-out (≈96M generated rows at sf1)
    # through a (key, p)-keyed aggregate, then a SECOND (key, band)
    # exchange to pack bits. Now a daily row fans out only ×n_bands with
    # its r_bits slice attached, ONE (key, band) aggregate sums the
    # r_bits projections as columns (≤ 20 agg columns — codegen holds),
    # and the band key packs scan-side.
    projs = daily.sparkSession.range(n_proj).select(F.col("id").alias("p"))
    c = F.when(
        md5_int(
            F.concat(
                F.date_format("d", "yyyy-MM-dd"), F.lit("|"), F.col("p").cast("string")
            )
        )
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    coeff = spine.crossJoin(projs).select("d", "p", c.alias("c"))
    coeff_bl = coeff.groupBy(
        "d", F.expr(f"p div {r_bits}").alias("band")
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.pmod("p", F.lit(r_bits)).cast("int").alias("j"),
                        F.col("c").alias("c"),
                    )
                )
            ),
            lambda st: st["c"],
        ).alias("sl")
    )
    # S_p = Σ_grid c(d, p), per band as r_bits columns
    s_pb = coeff_bl.groupBy("band").agg(
        *[F.sum(F.col("sl")[j]).alias(f"sp{j}") for j in range(r_bits)]
    )
    raw = (
        daily.join(F.broadcast(coeff_bl), "d")
        .groupBy("key", "band")
        .agg(
            *[
                F.sum(F.col("sl")[j] * F.col("n")).alias(f"pr{j}")
                for j in range(r_bits)
            ]
        )
    )
    nd_df = bounds.select(
        (F.datediff("hi", "lo") + 1).cast("long").alias("nd")
    )
    # bit_j = (nd·pr_j − sx·S_p ≥ 0); bkey = Σ_j bit_j·2^j — packed in the
    # same projection, no second (key, band) exchange
    bkey = None
    for j in range(r_bits):
        term = F.when(
            F.col("nd") * F.col(f"pr{j}") - F.col("sx") * F.col(f"sp{j}")
            >= 0,
            F.lit(1 << j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        bkey = term if bkey is None else bkey + term
    # EAGER checkpoint (r14): the banding tail references sig SIX times —
    # bsize aggregates it, and each of the two sigc clones (sub-cap
    # grouped pairs, over-cap chain pairs) re-joins it against bsize —
    # so an unmaterialized sig recomputed the whole signature pass 4–6×
    # per query (sf1 noop profile: sig 7.4 s once, full query 16+ s).
    # keys × n_bands rows of three ints — trivial to store; eager per
    # the wave-8 A/B rule (concurrent stages race a lazy checkpoint).
    sig = (
        raw.join(F.broadcast(s_pb), "band")
        .join(stats.select("key", "sx"), "key")
        .crossJoin(F.broadcast(nd_df))
        .select("key", "band", bkey.alias("bkey"))
        .localCheckpoint(eager=True)
    )
    bsize = sig.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("__bc"))
    sigc = sig.join(bsize, ["band", "bkey"])
    grouped = (
        sigc.filter(F.col("__bc") <= bucket_cap)
        .groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("key")).alias("__ks"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__ks"),
            lambda a_, i: F.transform(
                F.slice(F.col("__ks"), i + F.lit(2), F.size(F.col("__ks"))),
                lambda b_: F.struct(a_.alias("key_a"), b_.alias("key_b")),
            ),
        )
    )
    pairs_small = grouped.select(F.explode(pair_structs).alias("__pr")).select(
        "__pr.key_a", "__pr.key_b"
    )
    # ⌈c/cap⌉ salt sub-buckets of ~cap keys each: the chain window stays
    # parallel AND every sub-bucket holds enough keys to actually chain
    # (a fixed salt count would scatter a barely-over-cap bucket into
    # singleton partitions with no adjacent pairs at all).
    chain_w = Window.partitionBy("band", "bkey", "__sub").orderBy("key")
    pairs_chain = (
        sigc.filter(F.col("__bc") > bucket_cap)
        .withColumn(
            "__sub",
            F.pmod(
                F.crc32(F.col("key").cast("string")),
                F.ceil(F.col("__bc") / F.lit(bucket_cap)).cast("long"),
            ).cast("int"),
        )
        .withColumn("__nxt", F.lead("key").over(chain_w))
        .filter(F.col("__nxt").isNotNull())
        .select(F.col("key").alias("key_a"), F.col("__nxt").alias("key_b"))
    )
    cand = pairs_small.unionByName(pairs_chain).distinct()
    a, b = daily.alias("a"), daily.alias("b")
    sxy = (
        cand.join(a, F.col("key_a") == F.col("a.key"))
        .join(b, (F.col("key_b") == F.col("b.key")) & (F.col("a.d") == F.col("b.d")))
        .groupBy("key_a", "key_b")
        .agg(F.sum(F.col("a.n") * F.col("b.n")).alias("sxy"))
    )
    return _corr_topk_from_sxy(daily, sxy, k, stats=stats, n_days=nd_df)


def correlation_pairs_topk_auto(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    k: int = 10,
    scale: bool | None = None,
) -> DataFrame:
    """Exact-vs-pruned dispatch on the Catalyst size estimate — the same
    gate shape as operators.dedup.minhash_lsh_pairs_auto: below
    :data:`CORR_THRESHOLD_BYTES` (4 MiB — the measured exact-vs-pruned
    frontier, see the constant) every pair is scored exactly; above it
    the sign-sketch tier prunes candidates first.

    Unlike the dedup dispatchers (where "unknown size" must be treated as
    huge for memory safety), a size-UNKNOWN input (LocalRelation /
    createDataFrame — Catalyst reports Long.MaxValue) takes the EXACT
    tier here: such frames are driver-materialized and necessarily small,
    and the pruned tier is recall-lossy — silently dropping true
    weakly-correlated top-k pairs for an in-memory test frame would be
    wrong in the only direction the caller can't detect. The chosen tier
    is logged either way."""
    if scale is None:
        from pandemic_knowledge_spark.operators.dispatch import (
            UNKNOWN_SIZE,
            size_estimate,
        )

        est = size_estimate(events)
        scale = est != UNKNOWN_SIZE and est >= CORR_THRESHOLD_BYTES
    import logging

    logging.getLogger(__name__).info(
        "correlation_pairs_topk_auto tier=%s (recall-lossy sketch)" if scale
        else "correlation_pairs_topk_auto tier=%s",
        "pruned" if scale else "exact",
    )
    fn = correlation_pairs_topk_pruned if scale else correlation_pairs_topk
    return fn(events, key_col, ts_col, k=k)


def gapfill_hourly(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    aggs: dict[str, Column],
    fill_zero: list[str] = (),
    fill_forward: list[str] = (),
) -> DataFrame:
    """Hourly series per key over the table's full [min, max] hour range,
    with every (key, hour) cell present: ``fill_zero`` columns default to 0
    in empty cells; ``fill_forward`` columns carry the last observed value
    (NULL until a key's first observation).

    ``aggs`` maps output column name → aggregate expression evaluated per
    (key, hour) group."""
    hour = F.date_trunc("hour", F.col(ts_col))
    base = (
        events.groupBy(F.col(key_col).alias("key"), hour.alias("hour_start"))
        .agg(*[e.alias(n) for n, e in aggs.items()])
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    keys = events.select(F.col(key_col).alias("key")).distinct()
    spine = keys.crossJoin(grid)
    joined = spine.join(base, ["key", "hour_start"], "left")
    out_cols: list[Column] = [F.col("key").alias(key_col), F.col("hour_start")]
    w = (
        Window.partitionBy("key")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for n in aggs:
        c = F.col(n)
        if n in fill_zero:
            c = F.coalesce(c, F.lit(0))
        elif n in fill_forward:
            c = F.last(c, ignorenulls=True).over(w)
        out_cols.append(c.alias(n))
    return joined.select(*out_cols)


# ------------------------------------------------- exponential smoothing

SES_ALPHA_NUM = 3   # alpha = 0.3 as an integer rational
SES_ALPHA_DEN = 10
SES_SCALE = 1_000_000  # level lives in micro-units: exact int64 recursion


def ses_forecast(
    daily: DataFrame,
    key_cols: tuple[str, ...],
    order_col: str = "day",
    value_col: str = "cases",
    alpha_num: int = SES_ALPHA_NUM,
    alpha_den: int = SES_ALPHA_DEN,
) -> DataFrame:
    """Simple exponential smoothing per key, as FIXED-POINT integer
    recursion: s_t = (α·x_t·SCALE + (1−α)·s_{t−1}) with α = num/den and
    floor division — every step exact int64, so the final level (= the
    one-step-ahead forecast) is bit-identical across engines and
    partitionings, where a float recursion would drift in the last ulp.

    The recursion folds over each key's ORDERED value array
    (collect_list over a sort — series length = days, bounded; the corpus
    was already reduced to the daily rollup). s_0 = x_0·SCALE.
    Returns (*key_cols, n_days, level_micro, forecast) with forecast =
    level/SCALE rounded 6 dp.
    """
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(order_col)
    ordered = daily.withColumn("_rn", F.row_number().over(w))
    series = (
        ordered.groupBy(*key_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_rn", F.col(value_col).alias("x")))
            ).alias("s")
        )
        .select(
            *key_cols,
            F.transform("s", lambda e: e["x"].cast("long")).alias("xs"),
        )
    )
    b = alpha_den - alpha_num

    def step(acc, x):
        # integer floor division inside a lambda (Column `/` is double):
        # subtract the remainder first, then divide — exact while the
        # numerator stays under 2^53 (daily counts in micro-units: ample).
        num = x * SES_SCALE * alpha_num + acc * b
        return ((num - num % alpha_den) / alpha_den).cast("long")

    fold = F.aggregate(
        "xs",
        F.lit(None).cast("long"),
        lambda acc, x: F.when(acc.isNull(), x * SES_SCALE).otherwise(step(acc, x)),
    )
    return series.select(
        *key_cols,
        F.size("xs").cast("long").alias("n_days"),
        fold.alias("level_micro"),
    ).withColumn(
        "forecast", F.round(F.col("level_micro") / SES_SCALE, 6)
    )


def sql_ses_forecast(
    daily_sql: str,
    key_sql: str,
    alpha_num: int = SES_ALPHA_NUM,
    alpha_den: int = SES_ALPHA_DEN,
) -> str:
    """DuckDB oracle for :func:`ses_forecast`: the same fixed-point
    recursion as a recursive-CTE cursor walk over each key's ordered
    series (``daily_sql`` must yield (key, day, cases))."""
    b = alpha_den - alpha_num
    return f"""
WITH RECURSIVE daily AS MATERIALIZED ({daily_sql}),
series AS MATERIALIZED (
  SELECT {key_sql} AS key, list(CAST(cases AS BIGINT) ORDER BY day) AS xs
  FROM daily GROUP BY 1
),
walk(key, xs, pos, acc) AS (
  SELECT key, xs, 2, xs[1] * {SES_SCALE} FROM series
  UNION ALL
  SELECT key, xs, pos + 1,
         (xs[pos] * {SES_SCALE} * {alpha_num} + acc * {b}) // {alpha_den}
  FROM walk WHERE pos <= len(xs)
)
SELECT key, CAST(len(xs) AS BIGINT) AS n_days,
       acc AS level_micro,
       round(CAST(acc AS DOUBLE) / {SES_SCALE}, 6) AS forecast
FROM walk WHERE pos = len(xs) + 1
"""
