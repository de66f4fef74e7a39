"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond the reference (whose only dedup story is a *bug* — uuid4 doc ids make
re-crawls duplicate rows, /root/reference/flow/scripts/crawl_tweets.py:52) —
these are the training-data-pipeline operators a 100 TB corpus needs.

Scale design:
- Exact dedup = hash-groupBy on a content fingerprint: one shuffle on the
  fingerprint, perfectly parallel, no pairwise anything.
- MinHash+LSH = shingle → signature (per-row, codegen'd JVM expressions,
  no Python) → band-explode → equi-self-join on (band, band_hash). The
  *only* join is an equi-join on tiny band buckets, so candidate generation
  is O(near-dup pairs), never O(n²). Exact Jaccard verification runs only
  on candidates.
- SimHash = per-row 16-bit signature; equal-signature grouping gives
  hamming-0 buckets; wider hamming radii = band the bits (same LSH idea).
- n-gram Jaccard = exact pairwise, but *blocked* on a partition column so
  the quadratic term is bounded per block (the brute-force baseline the
  LSH paths approximate).

All hashes derive from md5 (identical bytes in every engine) reduced mod
HASH_MOD = 1_000_000_007 — a ~30-bit space, NOT 61-bit: the prime must be
small enough that the minhash update a*h + b stays inside int64 (a, b < P,
so a*h + b < P² ≈ 2^60). Birthday collisions among distinct shingles are
expected from ~30k distinct shingles onward, so at corpus scale shingle
collisions slightly INFLATE Jaccard/containment estimates — consistently on
both engines (the oracle applies the same reduction), so parity holds, and
LSH candidate verification bounds the damage to the estimate, not to
correctness of the equi-join. If tighter estimates matter, combine two
independent 30-bit reductions into a 60-bit effective key. See
functions.text.md5_int.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
from pyspark.sql.window import Window

from pandemic_knowledge_spark.functions.text import (
    HASH_MOD,
    md5_int,
    minhash_perm_params,
    spark_sql_md5_int,
    spark_sql_tokenize,
    sql_ident,
    sql_over,
    tokenize,
)

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
SIMHASH_BITS = 16

# The MinHash signature and the LSH banding, as Spark SQL text built once
# from the constants above. Every plan that signs or bands documents — the
# batch pair operators, the ingest probe, the stream form — takes its text
# from these fragments, so the definitions cannot fork. The plans are built
# from SQL text rather than Column objects because each Column call is a
# py4j round trip: the ingest micro-batch's signature and probe plans took
# about 3,700 of them per batch, against 16 for one spark.sql statement
# per step (the optimized plans are the same).
_PERM_HASH_SQL = tuple(
    f"({a} * h + {b}) % {HASH_MOD}" for a, b in minhash_perm_params(N_PERM)
)
"""Permutation i of a shingle hash ``h``: (a_i * h + b_i) mod P."""

_PERM_MINS_SQL = ", ".join(
    f"min({p}) AS mh{i}" for i, p in enumerate(_PERM_HASH_SQL)
)
"""The signature mh0..mh15 as aggregates over shingle-hash rows ``h``."""

_SET_PERM_MINS_SQL = ", ".join(
    f"array_min(transform(hs, h -> {p})) AS mh{i}"
    for i, p in enumerate(_PERM_HASH_SQL)
)
"""The same signature, row-local, over a shingle-hash array ``hs``."""

_BAND_KEYS_SQL = "array({})".format(", ".join(
    f"struct({b} AS band, md5(concat_ws('-', transform(slice(array("
    + ", ".join(f"mh{i}" for i in range(N_PERM))
    + f"), {b * ROWS_PER_BAND + 1}, {ROWS_PER_BAND}), v -> CAST(v AS STRING))))"
    " AS bkey)"
    for b in range(N_BANDS)
))
"""LSH banding of mh0..mh15: one (band, md5-of-band-rows) struct per band."""


def _double_sql(x: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal (a bare ``0.5`` is
    DECIMAL); repr round-trips the exact bits ``F.lit`` would carry."""
    return f"{float(x)!r}D"


def _kgram_concat(toks: Column, k: int) -> Column:
    """Space-joined k-grams via k shifted O(1) slices zipped element-wise —
    the ONE gram-assembly definition (shingles, kgram_hashes_ordered and,
    as SQL text, :func:`_kgram_sql` build from it). For k=2 this reduces to
    the original two-slice zip_with, so existing hashes are bit-identical;
    for any k it avoids the per-position F.slice-inside-a-lambda form that
    re-evaluates O(n) work per gram (O(n²) per doc, ~5× measured)."""
    n = F.size(toks)
    parts = [F.slice(toks, i + 1, n - k + 1) for i in range(k)]
    return reduce(
        lambda a, b: F.zip_with(a, b, lambda x, y: F.concat(x, F.lit(" "), y)),
        parts,
    )


def _kgram_sql(arr: str, k: int) -> str:
    """:func:`_kgram_concat` as Spark SQL text over the array column ``arr``
    (the same expression tree)."""
    n = f"size({arr}) - {k} + 1"
    parts = [f"slice({arr}, {i + 1}, {n})" for i in range(k)]
    return reduce(
        lambda a, b: f"zip_with({a}, {b}, (x, y) -> concat(x, ' ', y))", parts
    )


def shingles(toks: Column, k: int = 2) -> Column:
    """Distinct word k-shingles of a token array (empty if < k tokens).

    Assembly via the shared zip_with k-gram builder (_kgram_concat) —
    linear for ANY k; the old generic branch's per-position F.slice inside
    an interpreted HOF was O(n²) per doc (~5× measured)."""
    n = F.size(toks)
    sh = _kgram_concat(toks, k)
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def exact_dedup(df: DataFrame, fp: Column, id_col: str) -> DataFrame:
    """Exact dedup: group on content fingerprint, keep min id as canonical.

    Returns (fingerprint, keep_id, n_dups). One shuffle; the survivor choice
    (min id) is deterministic under any partitioning.
    """
    return df.select(fp.alias("fp"), F.col(id_col)).groupBy("fp").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def minhash_signature_agg(
    docs: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """MinHash signatures via explode → hash-aggregate (the scale path).

    Instead of evaluating 16 array-lambda transforms per row (md5 recomputed
    per permutation inside one giant expression), explode shingles to rows,
    compute the md5-derived hash ONCE per shingle as a named column, and take
    the 16 permutation minima as a groupBy aggregation. HashAggregateExec
    map-side-combines the minima, so the shuffle carries one 16-long row per
    doc — this is the shape that survives 100 TB, and it's ~10× faster than
    the nested-lambda version even locally. One SQL statement
    (:data:`_PERM_MINS_SQL` over :func:`_shingle_rows_sql`).
    """
    return sql_over(
        f"SELECT doc_id, {_PERM_MINS_SQL} "
        f"FROM ({_shingle_rows_sql(id_col, text_col, k)}) GROUP BY doc_id",
        docs=docs,
    )


def _shingle_rows_sql(
    id_col: str, text_col: str, k: int = 2, where: str = ""
) -> str:
    """SQL text of (doc_id, h) over the frame ``{docs}``: one row per
    shingle occurrence, hash as a NAMED COLUMN. ``where`` is an optional
    scan-side `` WHERE ...`` clause.

    Shingles are assembled array-side — k shifted copies of the token array
    (one O(1)-ish slice each) zipped element-wise with concat — then exploded
    so md5+conv runs as a top-level codegen'd projection. No window, no
    shuffle: the pipeline stays scan→project→explode, and the downstream
    groupBy gets map-side partial aggregation (the shuffle carries one
    16-long signature row per doc, not one row per shingle). The previous
    posexplode+lead(window) formulation shuffled every token row to sort it,
    which cost a full exchange of the corpus for nothing.

    Duplicate shingles are NOT removed here: the downstream consumers are
    min-aggregates and collect_set, both duplicate-insensitive, so skipping
    array_distinct saves work without changing any result.

    Tokens are a NAMED column at their own SELECT level: written inline,
    the k+1 references (size + k shifted slices) would be pasted verbatim
    into the Generate expression and the regexp would run that many times
    per row (measured 5 evaluations/row on this scan, r13 pass). As an
    attribute it evaluates once — CollapseProject declines to inline
    multi-use non-cheap aliases (see functions.pinning module docs).
    """
    return (
        f"SELECT doc_id, {spark_sql_md5_int('s')} % {HASH_MOD} AS h FROM ("
        f"SELECT doc_id, explode(CASE WHEN size(__toks) >= {k} THEN "
        f"{_kgram_sql('__toks', k)} END) AS s FROM ("
        f"SELECT {sql_ident(id_col)} AS doc_id, "
        f"{spark_sql_tokenize(sql_ident(text_col))} AS __toks "
        f"FROM {{docs}}{where}))"
    )


def _minhash_base_sql(
    id_col: str, text_col: str, k: int = 2, where: str = ""
) -> str:
    """SQL text of :func:`minhash_base` over the frame ``{docs}``."""
    return (
        f"SELECT doc_id, collect_set(h) AS hs, {_PERM_MINS_SQL} "
        f"FROM ({_shingle_rows_sql(id_col, text_col, k, where)}) GROUP BY doc_id"
    )


def minhash_base(
    docs: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """(doc_id, hs, mh0..mh15): distinct shingle-hash set + MinHash minima,
    ONE scan and ONE groupBy (collect_set and the 16 permutation minima
    aggregate together). This is both the in-flight shape of the pairwise
    operators and the persisted schema of an incremental signature store —
    plain columns, so it round-trips through parquet unchanged.

    One SQL statement (tokenize, the k-gram zip_with, the md5 hash, then
    collect_set and the 16 minima): the ingest stream builds it every
    micro-batch, and as Column calls it took about 1,440 py4j round trips
    (0.26-0.36 s) to build; as one statement it takes 8."""
    return sql_over(
        _minhash_base_sql(id_col, text_col, k), docs=docs
    )


def _band_rows_sql(src: str, carry: tuple = ()) -> str:
    """SQL text of one row per LSH band bucket of the signature frame
    ``src`` (a ``{frame}`` placeholder or a parenthesized subquery with
    doc_id, mh0..mh15 and ``carry``): (doc_id, *carry, band, bkey)."""
    c = "".join(f", {name}" for name in carry)
    return (
        f"SELECT doc_id{c}, bk.band, bk.bkey FROM ("
        f"SELECT doc_id{c}, explode({_BAND_KEYS_SQL}) AS bk FROM {src})"
    )


def _band_rows(base: DataFrame, *carry: str) -> DataFrame:
    """base → (doc_id, *carry, band, bkey): one row per LSH band bucket,
    each carrying its doc's ``carry`` columns."""
    return sql_over(_band_rows_sql("{base}", carry), base=base)


def band_rows_rowlocal(
    docs: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """(doc_id, band, bkey) via row-local HOFs only — no aggregation, so it
    runs unchanged on a STREAMING DataFrame (the dedup-at-ingest shape).

    bkeys are bit-identical to the agg form (`_band_rows` over
    `minhash_base`): the signature is per-permutation minima over the
    doc's shingle hashes (:data:`_SET_PERM_MINS_SQL`, the same permutation
    text as the aggregate), minima ignore hash multiplicity, and the band
    keys come from the one banding text (:func:`_band_rows_sql`) — pinned
    by tests/test_stream_neardup.py. Docs with no shingles (< k tokens)
    are dropped, matching `_shingle_rows_sql`'s explode; NULL-id docs are
    dropped scan-side — an id-less doc can't be registered in the bucket
    store, and a NaN id would poison the stateful kernel's int64 running
    min.

    Tokens sit behind a pin barrier (``explode(array(...))``,
    functions.pinning): the size(__toks) >= k predicate would otherwise
    push below the projection and re-run the tokenizer per row. The hash
    array and the 16 minima are each a SELECT level of their own, so each
    evaluates once per row."""
    ident = sql_ident(id_col)
    toks = (
        f"SELECT {ident} AS doc_id, "
        f"explode(array({spark_sql_tokenize(sql_ident(text_col))})) AS __toks "
        f"FROM {{docs}} WHERE {ident} IS NOT NULL"
    )
    hs = (
        f"SELECT doc_id, transform({_kgram_sql('__toks', k)}, "
        f"s -> {spark_sql_md5_int('s')} % {HASH_MOD}) AS hs "
        f"FROM ({toks}) WHERE size(__toks) >= {k}"
    )
    sig = f"(SELECT doc_id, {_SET_PERM_MINS_SQL} FROM ({hs}))"
    return sql_over(_band_rows_sql(sig), docs=docs)


def near_dup_mark(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 2
) -> DataFrame:
    """Per-doc near-dup verdict at LSH-candidate granularity: a doc is
    marked iff it shares ANY band bucket with a lower-id doc (the
    first-seen-wins dedup-at-ingest rule; id order is the arrival proxy,
    exactly as stream_dedup_first uses (ts, event_id)).

    Returns (doc_id, first_ref, is_dup): first_ref = min doc_id over all
    of this doc's band buckets (= itself when no earlier candidate), and
    is_dup = first_ref < doc_id. Candidate-level by design — the verified
    pairwise tier is `minhash_lsh_pairs_*`; this is its streaming-capable
    mark companion (`streaming.stateful.near_dup_mark_stateful` emits the
    same marks incrementally, state = one long per bucket).

    Shape: one groupBy to signatures (map-side combined), one window min
    over (band, bkey) — hash-partitioned, no global sort — and one doc
    rollup. Nothing is pairwise; hot buckets cost a min, not C(n,2).
    NULL-id docs are dropped (same contract as the streaming form: no id,
    no bucket registration)."""
    base = _minhash_base_sql(
        id_col, text_col, k, where=f" WHERE {sql_ident(id_col)} IS NOT NULL"
    )
    marked = sql_over(
        "SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bkey) AS band_ref "
        f"FROM ({_band_rows_sql(f'({base})')})",
        docs=docs,
    )
    return near_dup_verdicts(marked)


def near_dup_verdicts(marks: DataFrame) -> DataFrame:
    """Roll (doc_id, ..., band_ref) mark rows up to per-doc verdicts
    (doc_id, first_ref, is_dup). THE one rollup definition — the batch
    operator and the streaming mark consumer (streaming.stateful) both
    call it, so the pinned stream ≡ batch equivalence cannot drift.
    min() is idempotent over replayed marks (at-least-once sink safe)."""
    return (
        marks.groupBy("doc_id")
        .agg(F.min("band_ref").alias("first_ref"))
        .select(
            "doc_id",
            "first_ref",
            (F.col("first_ref") < F.col("doc_id")).alias("is_dup"),
        )
    )


def _jaccard_sql(hs_a: str, hs_b: str) -> str:
    """Exact Jaccard of two distinct shingle-hash sets, rounded to 6 places."""
    return (
        f"round(CAST(size(array_intersect({hs_a}, {hs_b})) AS DOUBLE) / "
        f"size(array_union({hs_a}, {hs_b})), 6)"
    )


def _cand_sql(sigs: str) -> str:
    """SQL text of the within-set candidate pairs (doc_a, doc_b), doc_a <
    doc_b, distinct: the band-bucket equi-self-join of the signature frame
    ``sigs`` (a ``{frame}`` placeholder or a parenthesized subquery)."""
    bands = _band_rows_sql(sigs)
    return (
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        f"FROM ({bands}) a JOIN ({bands}) b "
        "ON a.band = b.band AND a.bkey = b.bkey WHERE a.doc_id < b.doc_id"
    )


def _verify_sql(cand: str, sets: str, threshold: float) -> str:
    """SQL text of the exact-Jaccard verification of candidate (doc_a,
    doc_b) pairs ``cand`` against the (doc_id, hs) hash sets ``sets``:
    (doc_a, doc_b, jaccard) at or above ``threshold``."""
    return (
        "SELECT doc_a, doc_b, jaccard FROM ("
        f"SELECT *, {_jaccard_sql('hs_a', 'hs_b')} AS jaccard FROM {cand} "
        f"JOIN (SELECT doc_id AS doc_a, hs AS hs_a FROM {sets}) USING (doc_a) "
        f"JOIN (SELECT doc_id AS doc_b, hs AS hs_b FROM {sets}) USING (doc_b)) "
        f"WHERE jaccard >= {_double_sql(threshold)}"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Candidate pairs come from band-bucket equi-joins (never O(n²)); each
    candidate is verified with exact Jaccard over its distinct shingle-hash
    sets and kept iff >= threshold. Output: (doc_a, doc_b, jaccard),
    doc_a < doc_b.

    One tokenize+shingle+md5 pass feeds BOTH the signature aggregation and
    the verification join: shingles explode to rows so md5 stays codegen'd
    (HOF lambdas are interpreted — ~10× slower), then ONE groupBy computes
    the 16 permutation minima AND collect_set(h) together. Single scan,
    single shuffle (eagerly localCheckpoint'd for its three consumers);
    the verify join moves 8-byte hashes instead of shingle strings. Jaccard
    over distinct hash sets equals Jaccard over shingle sets (md5→61-bit
    reduction; collisions negligible and the DuckDB oracle applies the
    identical mapping).

    Scale note: at cluster scale the collect_set payload for ALL docs is
    the dominant shuffle; the variant that wins there computes hash sets
    only for CANDIDATE docs (signatures-only aggregate → band join →
    semi-join-pruned second pass, cf. minhash_probe_pairs probing a
    persisted store). Measured locally, the single-pass form is faster and
    more run-to-run stable — so :func:`minhash_lsh_pairs_auto` (the
    entry-point callers should use) picks THIS form below the
    :data:`PRUNED_THRESHOLD_BYTES` corpus size and the pruned form above
    it; the incremental path (streaming.jobs.corpus_stream_ingest_dedup)
    already IS the store-probing form.
    """
    # Eager localCheckpoint, not cache(): same winnow/substrings discipline —
    # the base (shingle scan + one groupBy) has three consumers (band rows +
    # both verify sides), and checkpoint blocks are context-cleaned when the
    # result frame is dropped instead of pinned in the session cache manager
    # (a slow leak in long-lived interactive sessions).
    # EAGER (r14, reverting the r13 lazy flip — r13 verdict item 3): the
    # first consuming job reads this frame through MULTIPLE CONCURRENT
    # stages (the band-bucket self-join's two sides + verify), and an
    # unmaterialized lazy checkpoint lets those stages race to compute
    # the same partitions — paired interleaved A/B (8 samples, sf0.1,
    # round log wave 8) read lazy ~14% slower on dedup_minhash_lsh with
    # flat controls. Eager materializes once, every stage reads blocks.
    base = minhash_base(docs, id_col, text_col, k).localCheckpoint(eager=True)
    return pairs_from_base(base, threshold)


def pairs_from_base(base: DataFrame, threshold: float) -> DataFrame:
    """Within-set near-dup pairs from a prepared signature BASE (sig +
    hash sets): band-bucket equi-self-join → verified Jaccard, one SQL
    statement. The ONE candidate-construction definition
    (:func:`_cand_sql`, :func:`_verify_sql`) — the batch forms share it,
    so a banding or verification change cannot fork them."""
    return sql_over(
        _verify_sql(f"({_cand_sql('{base}')})", "{base}", threshold), base=base
    )


def minhash_lsh_pairs_pruned(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, candidate-pruned two-pass form — the
    plan that wins at cluster scale (same output as minhash_lsh_pairs).

    Pass 1 aggregates SIGNATURES ONLY: the shuffle carries one 16-long row
    per doc — no collect_set of every doc's shingle-hash set, which in the
    single-pass form is the dominant shuffle at 100 TB (each doc ships its
    whole distinct-hash array even though only candidate docs ever need
    verification). Band buckets self-join to candidate pairs as usual.

    Pass 2 re-derives shingle-hash rows but SEMI-JOINS on the candidate doc
    ids BEFORE the collect_set aggregation, so the heavy hash-set shuffle
    moves only candidate docs — O(near-dup docs), not O(corpus). The re-scan
    is a sequential parquet read (cheap, pruned to id+text columns); trading
    it for the corpus-wide array shuffle is the right exchange on a cluster,
    where shuffle bytes, not input scans, are the constraint.

    Locally (5k docs, everything in page cache) the single-pass form
    measures faster; this form exists as the tested scale path and the
    default can flip per deployment.
    """
    # Both intermediates multi-consumed → EAGER localCheckpoint (r14:
    # same concurrent-stage race as the single-pass base — the band
    # self-join reads sigs through two stages of one job; the wave-8 A/B
    # on the single-pass form measured lazy losing, same shape here).
    sigs = minhash_signature_agg(docs, id_col, text_col, k).localCheckpoint(
        eager=True
    )
    # eager (r14): consumed by the candidate ids' two union legs and the
    # verify join — concurrent stages of one job (wave-8 A/B shape)
    cand = sql_over(_cand_sql("{sigs}"), sigs=sigs).localCheckpoint(eager=True)
    hs = (
        f"(SELECT doc_id, collect_set(h) AS hs FROM ("
        f"{_shingle_rows_sql(id_col, text_col, k)}) "
        "LEFT SEMI JOIN (SELECT DISTINCT doc_id FROM ("
        "SELECT doc_a AS doc_id FROM {cand} "
        "UNION ALL SELECT doc_b AS doc_id FROM {cand})) USING (doc_id) "
        "GROUP BY doc_id)"
    )
    return sql_over(_verify_sql("{cand}", hs, threshold), docs=docs, cand=cand)


PRUNED_THRESHOLD_BYTES = 1 << 30  # 1 GiB of corpus ≈ the page-cache frontier


def minhash_lsh_pairs_auto(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.5,
    scale: bool | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with the scale path size-gated.

    ``scale=True`` forces the candidate-pruned two-pass form
    (:func:`minhash_lsh_pairs_pruned` — signatures-only first shuffle),
    ``scale=False`` forces the single-pass form (fastest when the corpus
    fits executor page cache). ``scale=None`` (default) auto-selects: corpora
    whose Catalyst size estimate reaches :data:`PRUNED_THRESHOLD_BYTES`
    (1 GiB) take the pruned path, because there the corpus-wide
    collect_set shuffle of the single-pass form is the dominant cost. The
    estimate is the optimized plan's ``sizeInBytes`` — file-size metadata,
    no job, no scan (a sizing count() measured ~0.2 s per call on the
    bench, pure overhead for small corpora)."""
    if scale is None:
        from pandemic_knowledge_spark.operators.dispatch import size_gated

        scale = size_gated(docs, PRUNED_THRESHOLD_BYTES)
    fn = minhash_lsh_pairs_pruned if scale else minhash_lsh_pairs
    return fn(docs, id_col, text_col, k=k, threshold=threshold)


def minhash_probe_pairs(
    base: DataFrame, store: DataFrame | None, threshold: float = 0.5
) -> DataFrame:
    """Near-dup pairs of a signature batch against itself AND a persisted
    signature store, in one band-bucket join — the incremental-ingest
    primitive: new docs LSH-probe the store instead of re-pairing the whole
    corpus. Both frames have the ``minhash_base`` schema and belong to one
    SparkSession (the statement reads them as temporary views of it);
    ``store=None`` (no store yet) probes the batch alone.

    Output: (doc_a, doc_b, hist), distinct. doc_a is always a batch doc;
    ``hist`` is true when doc_b is a stored doc, and within-batch rows keep
    doc_a < doc_b. The batch's band rows equi-join the band rows of
    batch ∪ store on (band, bkey); each row carries its hash set through
    the explode, so the exact-Jaccard check runs on the joined rows with
    no second join back to either side. At scale, store the band rows
    partitioned by (band, bkey) so the probe prunes to matching buckets.

    One SQL statement (banding, ``hist``, the union with the store, the
    equi-join, the Jaccard filter and the distinct): the ingest stream
    builds it every micro-batch, and as Column calls it took 1,600-2,800
    py4j round trips (0.6-0.8 s) to build; as one statement it takes 8-11."""

    def bands(src: str, hist: str) -> str:
        return _band_rows_sql(f"(SELECT *, {hist} AS hist FROM {src})", ("hs", "hist"))

    probe = bands("{base}", "false")
    frames = {"base": base}
    pool = probe
    if store is not None:
        pool = f"{probe} UNION ALL {bands('{store}', 'true')}"
        frames["store"] = store
    return sql_over(
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, b.hist AS hist "
        f"FROM ({probe}) a JOIN ({pool}) b ON a.band = b.band "
        "AND a.bkey = b.bkey AND (b.hist OR a.doc_id < b.doc_id) "
        f"WHERE {_jaccard_sql('a.hs', 'b.hs')} >= {_double_sql(threshold)}",
        **frames,
    )


def kgram_hashes_ordered(toks: Column, k: int = 3) -> Column:
    """Positional (non-distinct) k-gram hashes — the rolling-hash stream
    winnowing selects from. Order matters, so no array_distinct here.

    Gram assembly is k shifted O(1) slices of the token array zipped
    element-wise (the `_shingle_rows_sql` trick) — NOT a per-position
    F.slice inside a lambda, which would re-evaluate the (inlined) token
    expression once per gram and turn the scan O(n²)-per-doc. Pass a
    MATERIALIZED tokens column, not an inline tokenize() expression."""
    n = F.size(toks)
    sh = _kgram_concat(toks, k)
    g = F.transform(sh, lambda s: md5_int(s) % HASH_MOD)
    return F.when(n >= k, g).otherwise(F.array().cast("array<bigint>"))


def winnow(hashes: Column, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    slide a w-wide window over the positional k-gram hash stream, keep each
    window's minimum, return the distinct selected hashes.

    Guarantee: two documents sharing any token run of length >= w + k - 1
    share at least one fingerprint — so fingerprint-set intersection is a
    sound local-match detector at ~1/w the index size of full k-gram sets.
    (The distinct *set* of window minima is identical whichever tied position
    a scheme picks, so rightmost-min tie-breaking is unnecessary here.)

    The rolling min is w shifted O(1) slices folded element-wise with
    least() — O(n·w) cheap comparisons, no per-position slicing, no
    shuffle, no Python. Streams with fewer than w grams contribute their
    single global minimum (the paper's short-document convention).
    """
    m = F.size(hashes)
    parts = [F.slice(hashes, j + 1, m - w + 1) for j in range(w)]
    wins = reduce(lambda a, b: F.zip_with(a, b, lambda x, y: F.least(x, y)), parts)
    return (
        F.when(m >= w, F.array_distinct(wins))
        .when(m > 0, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<bigint>"))
    )


def winnow_fingerprints(
    docs: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Per-document winnowing fingerprints: (id, n_grams, fingerprints).

    The fingerprint column is the sorted distinct window-minima array — the
    compact sketch a plagiarism/overlap index stores (explode + groupBy
    fingerprint to build the inverted index; posting-list joins find local
    matches). Documents with fewer than k tokens are dropped (no grams).

    Tokens and the gram-hash stream are each materialized as named columns
    so the multi-reference consumers (filter, size, w shifted slices) share
    one evaluation instead of inlining the producer expression per use.

    The sketch is CPU-bound (interpreted md5-per-gram inside the HOF), so
    parallelism = input partitions. A small corpus read from one parquet
    file would compute on ONE core (measured 30 s vs 4 s at sf0.1); when
    the scan has fewer partitions than the cluster's cores, rebalance
    first. At real scale the input has >= cores file-splits and this is a
    no-op — the operator stays shuffle-free."""
    from pandemic_knowledge_spark.functions.pinning import pin

    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    # _toks behind a pin barrier: the size(_toks) >= k filter would
    # otherwise push below the alias and run the tokenizer regexp a second
    # time per row (functions.pinning). _h needs only a plain alias — its
    # consumers (size + winnow's w shifted slices) are sibling PROJECTION
    # references, which CollapseProject already refuses to inline, and no
    # predicate crosses it (an _h pin measured as pure Generate overhead
    # in a micro-benchmark of this subplan).
    base = pin(
        docs.select(F.col(id_col), F.col(text_col)),
        _toks=tokenize(F.col(text_col)),
    ).filter(F.size("_toks") >= k)
    withh = base.withColumn("_h", kgram_hashes_ordered(F.col("_toks"), k))
    return withh.select(
        F.col(id_col),
        F.size("_h").alias("n_grams"),
        F.array_sort(winnow(F.col("_h"), w)).alias("fingerprints"),
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_posting: int = 50,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints.

    The winnow sketch's purpose: two docs sharing any >= w+k-1 token run
    share a fingerprint, so an inverted index over fingerprints finds every
    locally-overlapping pair at ~1/w the postings of a full shingle index.
    Stop-fingerprint cap: a fingerprint appearing in more than
    ``max_posting`` docs is boilerplate (its posting list would contribute
    O(df²) candidate rows while carrying no pair-specific signal) and is
    dropped before pair emission — the fan-out stays bounded at any corpus
    size.

    Pair emission is GROUPED, not a posting self-join: the kept postings
    collapse to one capped sorted doc array per fingerprint (bounded ≤
    ``max_posting`` ids — safe to materialize), and each array emits its
    C(df,2) ordered pairs via a nested array transform. Versus the
    exploded equi-self-join (the ngram_jaccard_pairs shape) this halves
    the emitted candidate rows (a<b built into the slice, no df² then
    filter), drops one whole shuffle of the posting table (the collect
    reuses the df-join's hashpartitioning on fp), and needs no cache —
    the postings feed exactly one pipeline. Measured 8.2 s → see bench —
    this was the heaviest headline entry by 5×.

    The df pre-count stays a separate map-side-combinable aggregate (NOT
    folded into the collect): partial_count shrinks boilerplate postings
    on the map side, while a collect_list of an uncapped posting would
    materialize a df-sized array in one reducer before the filter could
    drop it. The per-doc sketch (md5-per-gram, the CPU-heavy stage) is
    materialized ONCE via eager localCheckpoint so the df pass and the
    kept pass both read it instead of recomputing — same discipline as
    substrings.py's dup-positions checkpoint, and unlike the previous
    cache() the blocks are context-cleaned when the result frame is
    dropped, not pinned in the cache manager for the session."""
    # EAGER (r14, reverting the r13 lazy flip): the df pass and the kept
    # pass read fp in concurrent stages of the first job — the wave-8
    # paired A/B read lazy ~9% slower on dedup_winnow_pairs (3/4 pairs,
    # flat controls), the same race as the minhash base.
    fp = winnow_fingerprints(docs, id_col, text_col, k, w).localCheckpoint(eager=True)
    ex = fp.select(
        F.col(id_col).alias("doc_id"), F.explode("fingerprints").alias("fp")
    )
    freq = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    kept = ex.join(freq.filter(F.col("df") <= max_posting).select("fp"), "fp")
    docs_per_fp = kept.groupBy("fp").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        docs_per_fp.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def token_hashes(toks: Column, bits: int = SIMHASH_BITS) -> Column:
    """Per-token md5-derived hashes reduced to ``bits`` — materialize this
    as a named column BEFORE feeding simhash_from_hashes: higher-order
    lambdas run interpreted (outside codegen subexpression elimination), so
    an inlined hash transform re-runs once per consuming bit-count — 16×
    the md5 work (measured 6.9 s → 0.6 s at sf0.1)."""
    return F.transform(toks, lambda t: md5_int(t) % F.lit(1 << bits))


def simhash_from_hashes(hs: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash signature over a materialized token-hash array (bit j set iff
    the weighted bit-j vote over token hashes is positive)."""
    n = F.size(hs)

    def bit_count(j: int) -> Column:
        return F.size(
            F.filter(hs, lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1)
        )

    out = F.lit(0).cast("long")
    for j in range(bits):
        set_cnt = bit_count(j)
        # vote = set_cnt - (n - set_cnt) > 0  <=>  2*set_cnt > n
        out = out + F.when(set_cnt * 2 > n, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return out


def simhash(toks: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over a tokens expression. Convenience form — prefer
    materializing token_hashes() as a column first (see its docstring)."""
    return simhash_from_hashes(token_hashes(toks, bits), bits)


PAIRS_PER_AGG_PARTITION = 2_000_000  # pair rows per intersection-count reduce partition


def ngram_intersections(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 2,
    collect_cap: int = 1024,
    allow_large: bool = False,
    op_name: str = "ngram_intersections",
) -> DataFrame:
    """Shared exact pair-intersection core: (doc_a, doc_b, n_inter, sz_a,
    sz_b) for every same-block doc pair sharing ≥ 1 distinct k-shingle
    hash. Jaccard (:func:`ngram_jaccard_pairs`) and asymmetric containment
    (:func:`ngram_containment_pairs`) are one formula away — both consume
    THIS frame, so the chunked pair-emission machinery and the size gate
    cannot fork between them.

    Distinct shingles explode to (block, shingle, doc) rows; a self
    equi-join on (block, shingle) + grouped count yields |A∩B| for exactly
    the pairs that share ≥1 shingle (a pair sharing nothing has Jaccard 0
    and can never pass the threshold), and |A∪B| = |A|+|B|−|A∩B| closes
    the formula. Identical output to the naive all-pairs form, but every
    per-pair array intersection (O(|A|·|B|) string work × all block pairs
    — measured 170 s at sf0.1) becomes per-posting pair emission.

    Pair emission is CHUNKED grouped emission, EXACT at any frequency skew
    (no stop-shingle drop — the oracle computes uncapped Jaccard): the
    hashed shingle table materializes once (eager localCheckpoint —
    tokenize + per-shingle md5 is the CPU-heavy stage), every posting is
    row_number-chunked into doc-sorted arrays of ≤ ``collect_cap`` ids,
    and C(c,2) ordered pairs come from two bounded streams: within-chunk
    nested-transform emission, plus a chunk-pair join (chunk_a < chunk_b
    on the same posting — chunks hold disjoint ascending doc ranges, so
    every cross product is already ordered) whose fan-out is C(c/cap, 2)
    ROWS per posting with the m×m expansion deferred to a per-row
    transform. A c=1M stop-shingle therefore becomes ~500k independent
    cross rows, not one c² task. Three deliberate exchanges keep the
    quadratic CPU off the skew/AQE cliff: the posting shuffle itself
    (groupBy), and a round-robin repartition of EACH pair stream before
    its explode — the collapsed arrays are tiny on the wire, so AQE
    coalesces their shuffles to a few partitions (it sizes bytes, not
    downstream CPU) and would otherwise fuse the entire pair explosion
    into those tasks (measured: 5-task straggler tail at the derived
    sf1's 1.8e9-pair workload; the old a<b posting self-join form took
    184 s / ran 1.4e9 candidates through one sort-merge partition per
    hot key — see BASELINE.md for the rewrite numbers)."""
    # Size gate: exact Jaccard is Θ(Σ C(df, 2)) BY CONTRACT — unlike its
    # siblings (MinHash, substrings, corr) there is no lossless scale tier
    # to auto-dispatch to, so above the pruned threshold the operator
    # REFUSES rather than silently swapping semantics; the error names the
    # intended scale tier. Unknown estimates (createDataFrame frames,
    # sizeInBytes = Long.MaxValue) count as small — driver-materialized
    # frames necessarily are — same reading as the recall-lossy corr gate.
    if not allow_large:
        from pandemic_knowledge_spark.operators.dispatch import (
            UNKNOWN_SIZE,
            size_estimate,
        )

        est = size_estimate(docs)
        if est != UNKNOWN_SIZE and est >= PRUNED_THRESHOLD_BYTES:
            raise ValueError(
                f"{op_name}: corpus size estimate {est} B >= "
                f"PRUNED_THRESHOLD_BYTES={PRUNED_THRESHOLD_BYTES} B. Exact "
                "pairwise intersection is quadratic in per-shingle doc "
                "frequency; at this scale use minhash_lsh_pairs_auto (the "
                "approximate scale tier), or pass allow_large=True to "
                "accept the quadratic cost explicitly."
            )
    # The shingle sketch is CPU-bound and the checkpoint pins its
    # partitioning for every downstream stage — rebalance a
    # fewer-partitions-than-cores scan first (same guard as
    # winnow_fingerprints; a one-file corpus would otherwise compute AND
    # emit pairs on a single core).
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    toks = tokenize(text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(block_col).alias("blk"),
        shingles(toks, k).alias("sh"),
    ).filter(F.size("sh") > 0)
    # Join on the md5-derived 61-bit hash, not the shingle string: 8-byte
    # keys shuffle/compare cheaper, and the oracle applies the identical
    # mapping so any (astronomically unlikely) collision merges the same
    # way in both engines. All set sizes are hash-set sizes for the same
    # reason.
    hashed = base.select(
        "doc_id",
        "blk",
        F.array_distinct(
            F.transform("sh", lambda s: md5_int(s) % HASH_MOD)
        ).alias("hs"),
        # eager (r14): sizes + the explode leg read this in concurrent
        # stages of one job — the wave-8 A/B race shape
    ).localCheckpoint(eager=True)
    cap = max(1, collect_cap)
    par = sc.defaultParallelism
    sizes = hashed.select("doc_id", F.size("hs").alias("sz"))
    ex = hashed.select("doc_id", "blk", F.explode("hs").alias("h"))
    # Total pair volume Σ C(df,2) is known EXACTLY before any pair exists
    # (chunking never changes it), from one cheap agg over the checkpointed
    # sketch. It sizes the intersection-count exchange below: the pair
    # stream's partial aggregate is near-useless (avg key multiplicity
    # ~3 spread over random partitions → per-task maps fill with ~unique
    # keys, spill, and still shuffle almost every row), so the count is
    # planned as repartition-by-key FIRST — a pure exchange of packed
    # longs — with the partial+final pair running pipelined per reduce
    # partition over ~PAIRS_PER_AGG_PARTITION keys (cache-resident maps,
    # no spill; measured at the derived sf1's 908M-pair workload:
    # in-place groupBy ~170-210 s, repartition-first ~60-90 s).
    dfc = ex.groupBy("blk", "h").agg(F.count(F.lit(1)).alias("__c"))
    total_pairs = int(
        dfc.agg(
            F.coalesce(
                F.sum(F.col("__c") * (F.col("__c") - 1) / 2), F.lit(0.0)
            ).alias("p")
        ).first().p
    )
    n_agg = int(max(par, min(1024, total_pairs // PAIRS_PER_AGG_PARTITION)))
    # Chunk every posting into doc-sorted arrays of ≤ cap ids. The window
    # shuffles by (blk, h) exactly as a direct groupBy would; the per-key
    # sort is c·log c on the posting, never corpus-wide.
    w = Window.partitionBy("blk", "h").orderBy("doc_id")
    chunked = (
        ex.withColumn("__ck", ((F.row_number().over(w) - F.lit(1)) / cap).cast("long"))
        .groupBy("blk", "h", "__ck")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("__ds"))
    )
    # Pair emission is two stacked generators per stream — nested-loop row
    # generation inside whole-stage codegen, no intermediate C(c,2) array
    # (the first cut flattened nested transforms into a struct array per
    # posting: ~24 B/pair materialized before the explode even ran; the
    # generator form allocates nothing). Chunks are sorted and hold
    # disjoint ascending ranges, so j > i (within) and chunk_a < chunk_b
    # (cross) each guarantee doc_a < doc_b.
    w1 = chunked.repartition(par).select(
        "__ds", F.posexplode("__ds").alias("__i", "doc_a")
    )
    pairs_within = (
        w1.select("doc_a", "__i", F.posexplode("__ds").alias("__j", "doc_b"))
        .filter(F.col("__j") > F.col("__i"))
        .select("doc_a", "doc_b")
    )
    ca = chunked.select("blk", "h", F.col("__ck").alias("__ca"), F.col("__ds").alias("__da"))
    cb = chunked.select("blk", "h", F.col("__ck").alias("__cb"), F.col("__ds").alias("__db"))
    pairs_cross = (
        ca.join(cb, ["blk", "h"])
        .filter(F.col("__ca") < F.col("__cb"))
        .repartition(par)
        .select("__db", F.explode("__da").alias("doc_a"))
        .select("doc_a", F.explode("__db").alias("doc_b"))
    )
    pairs = pairs_within.unionByName(pairs_cross)
    # The Σ C(c,2) pair stream into the count is THE shuffle of this
    # operator — planned repartition-first (see n_agg above). When every
    # doc id fits 31 unsigned bits (one bounded agg over the checkpointed
    # sketch decides), pack the pair into a single long: half the shuffle
    # key width and a primitive-key hash aggregate instead of a
    # two-column one. Wider ids keep the two-column form — identical
    # output either way.
    # Packing is only defined for integral ids: gate on the column TYPE
    # before the value-range agg — min/max of a string id column returns
    # strings, and comparing those against ints raises. Non-integral ids
    # (strings, decimals, ...) fall through to the two-column aggregate,
    # which handles any orderable id type.
    id_integral = isinstance(
        hashed.schema["doc_id"].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    mm = (
        hashed.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")).first()
        if id_integral
        else None
    )
    if mm is not None and mm.mn is not None and mm.mn >= 0 and mm.mx < (1 << 31):
        # cast before shifting: the VALUE guard above says nothing about
        # the column TYPE, and shiftleft on an int32 id wraps to the low
        # bit, colliding unrelated pairs into one packed key
        packed = pairs.select(
            (
                F.shiftleft(F.col("doc_a").cast("long"), 31)
                + F.col("doc_b").cast("long")
            ).alias("__pk")
        )
        inter = (
            packed.repartition(n_agg, "__pk")
            .groupBy("__pk")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .select(
                F.shiftright(F.col("__pk"), 31).alias("doc_a"),
                F.col("__pk").bitwiseAND(F.lit((1 << 31) - 1)).alias("doc_b"),
                "n_inter",
            )
        )
    else:
        inter = (
            pairs.repartition(n_agg, "doc_a", "doc_b")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 2,
    threshold: float = 0.3,
    collect_cap: int = 1024,
    allow_large: bool = False,
) -> DataFrame:
    """Exact blocked n-gram Jaccard over the shared intersection core:
    jaccard = |A∩B| / (|A|+|B|−|A∩B|) over distinct shingle-hash sets,
    pairs at or above ``threshold`` → (doc_a, doc_b, jaccard)."""
    base = ngram_intersections(
        docs, id_col, text_col, block_col, k=k, collect_cap=collect_cap,
        allow_large=allow_large, op_name="ngram_jaccard_pairs",
    )
    return (
        base.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 2,
    threshold: float = 0.8,
    collect_cap: int = 1024,
    allow_large: bool = False,
) -> DataFrame:
    """Exact blocked n-gram CONTAINMENT — the asymmetric near-dup measure
    Jaccard misses: cont(A in B) = |A∩B| / |A| is high whenever A is
    (mostly) quoted inside a larger B even though their Jaccard is tiny
    (a tweet inside an article scores |A|/|B| ≈ 0 Jaccard but 1.0
    containment). The quote/superset detector a curation pipeline runs
    BESIDE symmetric dedup: keep the superset, drop embedded copies, or
    attribute quotes. Emits (doc_a, doc_b, cont_a_in_b, cont_b_in_a) for
    pairs where EITHER direction reaches ``threshold``; consumes the same
    chunked-pair-emission core (and size gate) as the Jaccard form —
    Broder's resemblance-vs-containment pairing (Broder 1997, "On the
    resemblance and containment of documents")."""
    base = ngram_intersections(
        docs, id_col, text_col, block_col, k=k, collect_cap=collect_cap,
        allow_large=allow_large, op_name="ngram_containment_pairs",
    )
    c_ab = F.round(F.col("n_inter").cast("double") / F.col("sz_a"), 6)
    c_ba = F.round(F.col("n_inter").cast("double") / F.col("sz_b"), 6)
    return (
        base.withColumn("cont_a_in_b", c_ab)
        .withColumn("cont_b_in_a", c_ba)
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= F.lit(threshold)
        )
        .select("doc_a", "doc_b", "cont_a_in_b", "cont_b_in_a")
    )


def union_find_reps(pairs) -> dict:
    """Driver-side twin of :func:`connected_components` for a pair list
    small enough to collect: iterable of (a, b) → {node: rep}, rep = min
    node id of the component (the same labelling). Union links the larger
    root under the smaller, so every root is its set's min; find halves
    paths as it walks."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → (node, rep).

    Cluster-based dedup is the last mile the pairwise operators feed: near-dup
    PAIRS must become CLUSTERS (transitively — A~B, B~C ⇒ {A,B,C}) with one
    representative kept per cluster. rep = min node id in the component,
    deterministic under any partitioning.

    Algorithm: min-label propagation WITH pointer jumping. Each round
    every node takes the min of its own label and its neighbors' labels
    (one |edges|-sized join + agg), then labels chase one level of
    indirection (lab ← label_of(lab), a node-sized self-join) — the
    classic label-doubling step, so a component of diameter D converges
    in O(log D) rounds instead of D (r13: the measured winnow-overlap
    graph at sf0.1 had D ≈ 10 and took 11 propagation-only rounds —
    the pre-r13 "near-dup components have D ≲ 4" assumption did not
    hold, and a deep-chained 100 TB corpus would have tripped max_iter).
    Monotone (labels only decrease, floored at the component min), so
    the jump changes no result — a propagation fixpoint is already the
    component-min labelling, jumping only gets there in fewer rounds.
    The loop is a driver loop over PLANS, never over rows; each round
    checkpoints its (node-sized) label table and unpersists the previous
    one, so lineage stays flat. Pointer jumping also bounds adversarial
    shapes: a 120-node path converges within the default 20 rounds
    (tests/test_dedup.py).

    Raises if max_iter rounds don't converge (a correctness signal — it
    means the graph has a component with diameter > ~2^max_iter).
    """
    fwd = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    edges = fwd.unionByName(
        pairs.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    ).persist()
    labels = (
        edges.select(F.col("s").alias("node")).distinct()
        .withColumn("lab", F.col("node"))
        # localCheckpoint, not persist: the loop's logical plan compounds
        # round over round even with the data cached, and Catalyst
        # re-analyzes the whole history each iteration (measured: exponential
        # per-round wall time past ~8 rounds). Truncating lineage keeps every
        # round constant-cost (on a cluster with executor-loss concerns,
        # setCheckpointDir + .checkpoint() is the reliable-storage variant
        # of the same move). Lazy (r13): round 1's job materializes it.
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("lab").alias("nlab"))
        )
        prop = labels.join(neigh, labels["node"] == neigh["s"], "left").select(
            "node",
            F.col("lab").alias("lab0"),
            F.least("lab", F.coalesce("nlab", "lab")).alias("lab1"),
        )
        # pointer jump: lab ← label_of(lab). Node-sized SHUFFLE self-join
        # (label tables are corpus-sized at 100 TB — never broadcast);
        # every label value is a node id present in the table, the left
        # join + coalesce is belt-and-braces. Two-step select so the
        # least() feeds both the label and the change flag once.
        jump = prop.select(
            F.col("node").alias("__jn"), F.col("lab1").alias("__jl")
        )
        new_labels = (
            prop.join(jump, prop["lab1"] == jump["__jn"], "left")
            .select(
                "node",
                "lab0",
                F.least("lab1", F.coalesce("__jl", "lab1")).alias("lab"),
            )
            .select(
                "node", "lab", (F.col("lab") < F.col("lab0")).alias("__chg")
            )
        )
        # LAZY checkpoint: the convergence count below materializes it in
        # the SAME job (eager=True paid a second job per round — r13
        # instrumented loop: 10.7 s -> 6.7 s over the 7 rounds at sf0.1);
        # later rounds read the cached blocks either way.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("__chg")).count()
        new_labels = new_labels.drop("__chg")
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            edges.unpersist()
            return labels.select("node", F.col("lab").alias("rep"))
    raise RuntimeError(
        f"connected_components: no convergence in {max_iter} rounds "
        "(component diameter exceeds max_iter)"
    )


def dedup_corpus_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = r"\.",
) -> DataFrame:
    """Cross-corpus exact LINE/sentence dedup (the CCNet/RefinedWeb paragraph
    pass): every distinct non-empty trimmed segment survives only at its
    FIRST occurrence — smallest (doc, position) corpus-wide — and each doc
    is reassembled from its surviving segments in original order. Catches
    boilerplate sentences repeated across documents that doc-level near-dup
    can never remove (and repeated segments within one doc).

    Output: (doc_id, n_lines, n_kept, text_kept).

    Scale shape: segments explode to rows (linear), ONE shuffle on the
    segment string picks the keeper — row_number over (doc_id, pos) within
    each segment's partition, so no arithmetic key encoding (an earlier
    doc_id·1e6+pos encoding overflowed int64 under ANSI mode for large
    hash-derived doc ids and collided past 1e6 segments) — then one shuffle
    back on doc_id rebuilds texts. No pairwise anything; the reassembly is
    bounded by each doc's own length. Skewed boilerplate segments make a
    skewed window partition; AQE's skew handling doesn't apply to windows,
    so at extreme scale pre-aggregate per (line, doc_id) min-pos first."""
    from pyspark.sql.window import Window

    lines = (
        docs.select(id_col, F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "raw"))
        .select(id_col, "pos", F.trim(F.col("raw")).alias("line"))
        .filter(F.col("line") != "")
    )
    w = Window.partitionBy("line").orderBy(F.col(id_col), F.col("pos"))
    kept = (
        lines.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, "pos", "line")
    )
    per_doc = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            ". ",
        ).alias("text_kept"),
    )
    return (
        per_doc.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "text_kept",
        )
    )
