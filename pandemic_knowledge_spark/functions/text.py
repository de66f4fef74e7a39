"""Text-analysis expressions: tokenize, hash, fingerprint, quality, lang-id.

Replaces the capability the reference delegates to Elasticsearch analyzers
(/root/reference/flow/scripts/mapping.py:13-16 — `text` fields with
lowercase+tokenize analysis; /root/reference/flow/scripts/crawl_mapping.py:4)
with pure JVM-side column expressions — no Python UDFs in the hot path, so
the whole pipeline stays inside whole-stage codegen at any scale.

Cross-engine determinism: every hash here is built from MD5 (identical bytes
in Spark, DuckDB, and everything else), so the DuckDB oracle can reproduce
the exact values. `sql_*` helpers emit the equivalent ANSI SQL from the SAME
python code path, guaranteeing the two sides can't drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"
HASH_MOD = 1_000_000_007
# Multi-lingual marker stopwords for the n-gram/lexicon language-ID heuristic
# (capability X5 — the reference tags `lang` per crawl request,
# /root/reference/flow/scripts/crawl_google_news.py:68).
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "que", "y"),
    "de": ("der", "die", "und", "das"),
    "zh": ("de5", "shi4", "le5", "zai4"),  # pinyin-romanized placeholders
}
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")


def tokenize(col: Column | str) -> Column:
    """Lowercase + split on non-alphanumerics → array<string> of tokens (X1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_over(text: str, args: dict | None = None, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text, args, **frames)`` — the one door the SQL-text plan
    builders use — with each frame handed over as a ``true`` filter of
    itself. spark.sql drops the temp view of every frame it is handed
    after the statement, and dropping a view uncaches the cached data
    whose plan is the view's, so a caller's cached frame handed over as-is
    (or as ``select("*")``) would lose its cache. A filter over it only
    reads the cache, and the optimizer removes the filter, so the
    statement plans as before."""
    spark = next(iter(frames.values())).sparkSession
    return spark.sql(text, args, **{n: f.where("true") for n, f in frames.items()})


def spark_sql_tokenize(col_sql: str) -> str:
    """:func:`tokenize` as Spark SQL text (the same expression tree)."""
    return f"regexp_extract_all(lower({col_sql}), '{TOKEN_RE}', 0)"


def query_terms(query: str) -> list[str]:
    """Tokenize a QUERY STRING with the same rule as the corpus tokenizer
    (TOKEN_RE) — ES analyzes queries with the index analyzer; a whitespace
    split would make any punctuated query ('covid-19') unmatchable. Every
    search/phrase/highlight entry point derives its terms from THIS helper
    so query- and corpus-side analysis can never drift."""
    import re

    return re.findall(TOKEN_RE, query.lower())


def sql_tokenize(col_sql: str) -> str:
    """DuckDB-equivalent of :func:`tokenize`."""
    return f"regexp_extract_all(lower({col_sql}), '{TOKEN_RE}')"


def md5_int_expr(col_sql: str) -> str:
    """Engine-portable 60-bit integer hash of a string, as a SQL fragment.

    H(s) = int(md5(s)[0:15], 16) — the first 15 hex chars of the md5 digest
    parsed as an integer. < 16^15 ≈ 1.15e18, safely inside int64. DuckDB
    parses '0x…' string casts; Spark uses conv(_, 16, 10).
    """
    return f"CAST(concat('0x', substr(md5({col_sql}), 1, 15)) AS BIGINT)"


def md5_int(col: Column) -> Column:
    """Spark Column version of :func:`md5_int_expr` (same value)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def spark_sql_md5_int(col_sql: str) -> str:
    """:func:`md5_int` as Spark SQL text (the same expression tree)."""
    return f"CAST(conv(substring(md5({col_sql}), 1, 15), 16, 10) AS BIGINT)"


def minhash_perm_params(n_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) params for minhash permutations h_i = (a*H+b) % P."""
    return [
        ((i * 2654435761 + 1) % HASH_MOD | 1, (i * 40503 + 7) % HASH_MOD)
        for i in range(n_perm)
    ]


def fingerprint(col: Column | str, toks: Column | None = None) -> Column:
    """Document fingerprint: md5 over the normalized (tokenized) text.

    The canonical form collapses case/punctuation/whitespace, so two
    documents that differ only in formatting share a fingerprint — the
    rolling-hash dedup key for the exact-dedup operator. Pass ``toks`` (a
    materialized tokens column) when combining with other token consumers
    so the tokenizer regex runs once per row (see quality_score docstring).
    """
    if toks is None:
        toks = tokenize(col)
    return F.md5(F.concat_ws(" ", toks))


def sql_fingerprint(col_sql: str) -> str:
    return f"md5(array_to_string({sql_tokenize(col_sql)}, ' '))"


def quality_score(
    text_col: Column | str, toks: Column | None = None
) -> dict[str, Column]:
    """Quality-scoring signals: length, token stats, stopword & punct ratios.

    Returns named Column expressions; callers select the ones they need.
    Pass ``toks`` (a materialized tokens column) when combining with other
    token-consuming functions: higher-order lambdas run interpreted, outside
    whole-stage codegen's subexpression elimination, so an inlined
    ``tokenize`` re-runs its regex once per consuming lambda — sharing one
    tokens column is a measured ~2× on the curation pipeline.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if toks is None:
        toks = tokenize(c)
    n_tokens = F.size(toks)
    n_chars = F.length(c)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": F.round(
            F.when(n_tokens > 0, (F.length(F.concat_ws("", toks)).cast("double") / n_tokens)),
            6,
        ),
        "stopword_ratio": F.round(
            F.when(n_tokens > 0, n_stop.cast("double") / n_tokens), 6
        ),
        "punct_ratio": F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
    }


def token_count_bpe_estimate(text_col: Column | str) -> Column:
    """BPE-ish token count estimate: regex word/number/punct pieces plus a
    length correction for long words (a word of n chars ≳ n/6 subword units).
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    pieces = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    # ONE aggregate pass computing count + length correction together:
    # size(pieces) + aggregate(pieces) pasted the pieces regexp twice into
    # the (interpreted, CSE-less) expression tree — the regexp ran 2x per
    # row (r13 measurement pass).
    return F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, p: acc + 1 + F.floor(F.length(p) / 6).cast("long"),
    ).alias("bpe_tokens")


def lang_id(text_col: Column | str, toks: Column | None = None) -> Column:
    """Lexicon/N-gram language-ID heuristic: count marker-word hits per
    language, pick the argmax (ties broken by language code order).

    Expressed as a deterministic CASE over hit counts so the DuckDB oracle
    can reproduce it exactly. Pass ``toks`` to share one materialized tokens
    column across the per-language filters (see quality_score docstring) —
    otherwise the tokenize regex re-runs once per language.
    """
    if toks is None:
        toks = tokenize(text_col)
    best = lang_best(toks)
    return lang_from_best(best)


def lang_best(toks: Column) -> Column:
    """The lang-ID argmax STRUCT (s=score, r=-rank, l=lang) over a tokens
    column. Split out so callers can pin it (functions.pinning): the final
    verdict references the struct twice (s > 0 guard + l extraction), which
    pastes the 5 interpreted marker-filter passes twice per row when the
    struct is an inline expression — pinning halves the lang-ID scan work
    (the curation pipeline does this)."""

    def marker_hits(markers):
        # single-param lambda factory: pyspark passes one arg per declared
        # param, so defaults-as-closure break higher-order functions
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    # Argmax via GREATEST over (score, -rank, lang) structs: struct ordering
    # compares score first, then the negated rank, so ties go to the earlier
    # language code. Each per-language score expression appears EXACTLY once —
    # an iterative when(score >= best).otherwise(best) chain duplicates the
    # running best tree at every step (2^n copies of the interpreted filter
    # lambdas, no subexpression elimination outside codegen), which measured
    # ~10× on the curation pipeline.
    entries = [
        F.struct(
            marker_hits(markers).alias("s"),
            F.lit(-rank).alias("r"),
            F.lit(lang).alias("l"),
        )
        for rank, (lang, markers) in enumerate(sorted(LANG_MARKERS.items()))
    ]
    return F.greatest(*entries)


def lang_from_best(best: Column) -> Column:
    """lang_best struct → language verdict ('und' when no marker hit)."""
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


# PII redaction: ordered (pattern, replacement) pairs. Email first so its
# digits never partially match the phone pattern; phone requires 7+ digit
# cores so ordinary numbers survive. Patterns are deliberately conservative
# (corpus hygiene wants low false-positive rates on technical text).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # Phone shapes only — a bare "8+ digits with any separators" rule
    # redacts ISO dates, year ranges and ISBNs (date-dense corpora would
    # lose every dated sentence). Accepted shapes: international (+...),
    # parenthesized area code, 3-3-4 groups, 4+ space-separated groups,
    # or a 10-15 digit contiguous run.
    (
        r"(?<![\w.])(?:\+\d[\d().\- ]{6,}\d"
        r"|\(\d{2,4}\)[\d.\- ]{4,}\d"
        r"|\d{3}[ .-]\d{3}[ .-]\d{4}"
        r"|(?:\d{2,4} ){3,}\d{2,4}"
        r"|\d{10,15})(?![\w.])",
        "<PHONE>",
    ),
]


def redact_pii(text_col: str | Column) -> Column:
    """Mask emails, IPv4 addresses, and phone-shaped digit runs — the
    corpus-hygiene scrub a public training set needs before anything else.
    A chain of regexp_replace expressions: scan-side, codegen'd, zero
    shuffle; :func:`sql_redact_pii` reproduces it for parity."""
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for pattern, replacement in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, replacement)
    return out


# The phone pattern's word-ish guards, split out so the DuckDB emitter can
# strip and translate them (RE2 has no lookarounds).
_PHONE_GUARD_PREFIX = r"(?<![\w.])"
_PHONE_GUARD_SUFFIX = r"(?![\w.])"


def sql_redact_pii(col_sql: str) -> str:
    """DuckDB SQL reproducing :func:`redact_pii`, emitted from the SAME
    PII_PATTERNS constants (no drift). RE2 lacks lookarounds, so the phone
    guards translate to consumed one-char guard groups re-inserted via
    backreferences — equivalent output except when two phone-shaped runs
    are separated by a single guard character (the consumed guard then
    hides the second run's left context; real prose separates them by
    words, and the parity fixture does too)."""
    out = col_sql
    for pattern, repl in PII_PATTERNS:
        if pattern.startswith(_PHONE_GUARD_PREFIX):
            core = pattern[len(_PHONE_GUARD_PREFIX):-len(_PHONE_GUARD_SUFFIX)]
            pat = f"(^|[^\\w.])(?:{core})($|[^\\w.])"
            out = f"regexp_replace({out}, '{pat}', '\\1{repl}\\2', 'g')"
        else:
            out = f"regexp_replace({out}, '{pattern}', '{repl}', 'g')"
    return out
