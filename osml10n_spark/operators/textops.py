"""Text-analysis operators for training-data pipelines: language-ID,
quality scoring, token counting, fingerprinting.

All pure JVM expressions (regexp_count/length/md5 — codegen native, no
Python), so every one of them is DuckDB-oracle expressible.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernels.scripts import RE_CJK, RE_CYRILLIC, RE_NON_LATIN, RE_THAI
from .dedup import normalize_text

__all__ = ["add_script_flags", "lang_id", "quality_score", "token_count",
           "fingerprint", "gopher_flags", "add_gopher_flags",
           "repetition_ratio", "clean_text"]


def _trunc6(x):
    """floor-truncate to 1e-6 — bit-identical ratio representation in
    Spark and DuckDB (never round: banker's vs half-up would diverge)."""
    return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)


def add_script_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (df.withColumn("is_latin", ~c.rlike(RE_NON_LATIN))
              .withColumn("has_cjk", c.rlike(RE_CJK))
              .withColumn("has_cyrillic", c.rlike(RE_CYRILLIC))
              .withColumn("has_thai", c.rlike(RE_THAI)))


def lang_id(col):
    """Heuristic language class from script content + latin stopword
    hits — a cheap n-gram-free classifier good enough for routing."""
    c = col
    de_hits = F.regexp_count(F.lower(c), F.lit(r"\b(der|die|das|und|straße|platz)\b"))
    fr_hits = F.regexp_count(F.lower(c), F.lit(r"\b(le|la|les|rue|avenue|de la)\b"))
    en_hits = F.regexp_count(F.lower(c), F.lit(r"\b(the|street|road|of|and)\b"))
    return (F.when(c.rlike(RE_CJK), F.lit("cjk"))
            .when(c.rlike(RE_THAI), F.lit("th"))
            .when(c.rlike(RE_CYRILLIC), F.lit("cyrillic"))
            .when(c.rlike(RE_NON_LATIN), F.lit("other"))
            .when((de_hits > fr_hits) & (de_hits > en_hits), F.lit("de"))
            .when(fr_hits > en_hits, F.lit("fr"))
            .when(en_hits > 0, F.lit("en"))
            .otherwise(F.lit("latin")))


def token_count(col):
    """Whitespace tokens + a BPE-ish subword estimate (4 chars/token)."""
    norm = normalize_text(col)
    ws = F.when(F.length(norm) == 0, 0) \
        .otherwise(F.size(F.split(norm, " ")))
    bpe_ish = F.ceil(F.length(norm) / F.lit(4.0)).cast("long")
    return F.struct(ws.cast("long").alias("words"), bpe_ish.alias("subwords"))


def quality_score(col):
    """[0,1] quality heuristic: length band, alpha ratio, punct ratio,
    digit ratio — the standard pretraining-corpus filters."""
    c = col
    ln = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^\p{L}]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^\p{Punct}]", "")).cast("double")
    digit = F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
    len_score = F.least(ln / F.lit(200.0), F.lit(1.0))
    alpha_ratio = F.when(ln > 0, alpha / ln).otherwise(F.lit(0.0))
    punct_pen = F.when(ln > 0, F.least(punct / ln * 4.0, F.lit(1.0))) \
        .otherwise(F.lit(0.0))
    digit_pen = F.when(ln > 0, F.least(digit / ln * 2.0, F.lit(1.0))) \
        .otherwise(F.lit(0.0))
    raw = (F.lit(0.3) * len_score + F.lit(0.5) * alpha_ratio
           + F.lit(0.2) * (F.lit(1.0) - punct_pen) * (F.lit(1.0) - digit_pen))
    # floor-based truncation (not round): bit-identical across engines
    return F.floor(raw * F.lit(1000000.0)) / F.lit(1000000.0)


def fingerprint(col):
    """Deterministic 16-hex document fingerprint of normalized text
    (md5 prefix — portable to the DuckDB oracle)."""
    return F.substring(F.md5(normalize_text(col)), 1, 16)


def _gopher_raw_counts(col):
    """The LEAF counts of the Gopher rules as one struct — each
    text-derived regex chain appears exactly once (no count references
    another count), so the expression's generated code is LINEAR in
    the number of leaves."""
    c = col
    norm = normalize_text(c)
    words = F.when(F.length(norm) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(norm, " "))).cast("long")
    word_chars = F.length(F.regexp_replace(norm, " ", "")).cast("double")
    symbols = F.regexp_count(c, F.lit("[#…]")).cast("double")
    # line-level fractions via (?m) multiline regex counts — no HOF
    # lambdas anywhere (Catalyst's interpreted-lambda path costs ~ms/row).
    # \\r, U+2028, U+2029 and U+0085 are stripped first: Java's (?m)
    # anchors at all of them while RE2 (the DuckDB oracle) anchors only
    # at \\n, so CRLF corpora would otherwise diverge engine-vs-oracle
    cl = F.regexp_replace(c, "[\\r\\u2028\\u2029\\u0085]", "")
    n_lines = F.size(F.split(cl, "\n")).cast("double")
    bullet_lines = F.regexp_count(
        cl, F.lit("(?m)^[ \\t]*[-*•]")).cast("double")
    ellipsis_lines = F.regexp_count(
        cl, F.lit("(?m)(\\.\\.\\.|…)[ \\t]*$")).cast("double")
    # one count per whitespace-word containing ≥1 letter: each match
    # consumes the word's leading space, so words can't double-count
    alpha_words = F.regexp_count(
        F.concat(F.lit(" "), norm), F.lit(" [^ ]*\\p{L}")).cast("double")
    return F.struct(words.alias("words"), word_chars.alias("word_chars"),
                    symbols.alias("symbols"), n_lines.alias("n_lines"),
                    bullet_lines.alias("bullet_lines"),
                    ellipsis_lines.alias("ellipsis_lines"),
                    alpha_words.alias("alpha_words"))


def _gopher_from_counts(r):
    """Ratios + pass flag from a raw-counts struct column.  Small by
    construction: every operand is a (cheap) field access, so even
    with Catalyst's CASE/null inline duplication the generated code
    stays a few hundred bytes per field."""
    words = r.getField("words")
    mean_wl = F.when(words > 0, _trunc6(r.getField("word_chars") / words)) \
        .otherwise(F.lit(0.0))
    symbol_ratio = F.when(words > 0, _trunc6(r.getField("symbols") / words)) \
        .otherwise(F.lit(0.0))
    bullet_frac = _trunc6(r.getField("bullet_lines") / r.getField("n_lines"))
    ellipsis_frac = _trunc6(
        r.getField("ellipsis_lines") / r.getField("n_lines"))
    alpha_word_frac = F.when(
        words > 0, _trunc6(r.getField("alpha_words") / words)) \
        .otherwise(F.lit(0.0))
    gopher_pass = ((words >= 3) & (mean_wl >= 1.0) & (mean_wl <= 12.0)
                   & (symbol_ratio <= 0.1) & (bullet_frac <= 0.9)
                   & (ellipsis_frac <= 0.3) & (alpha_word_frac >= 0.6))
    return F.struct(words.alias("words"), mean_wl.alias("mean_word_len"),
                    symbol_ratio.alias("symbol_ratio"),
                    bullet_frac.alias("bullet_frac"),
                    ellipsis_frac.alias("ellipsis_frac"),
                    alpha_word_frac.alias("alpha_word_frac"),
                    gopher_pass.alias("gopher_pass"))


def gopher_flags(col):
    """Gopher-rule pretraining quality signals (Rae et al. 2021 §A1.1
    style), entirely as JVM expressions: word count, mean word length,
    symbol-to-word ratio (#/…), bullet-line and ellipsis-line
    fractions, alphabetic-word fraction, and the combined pass flag.
    Ratios are floor-truncated to 1e-6 for cross-engine parity.

    CODEGEN WARNING: as a single Column, Catalyst inlines the raw
    counts into every ratio AND into the pass flag (GetStructField on
    a CreateNamedStruct simplifies to the field's full expression), so
    the generated code grows EXPONENTIALLY with derivation depth —
    measured ~500 KB for this one expression, beyond janino's 64 KB
    method limit, silently demoting the whole stage to interpreted
    evaluation.  Pipelines must use :func:`add_gopher_flags`, which
    splits the derivation at a Generate barrier so it compiles;
    this Column form exists for small ad-hoc selects and as the
    semantics reference (tests pin both forms byte-identical AND that
    add_gopher_flags compiles under spark.sql.codegen.fallback=false)."""
    return _gopher_from_counts(_gopher_raw_counts(col))


def add_gopher_flags(df: DataFrame, text_col: str = "text",
                     out_col: str = "quality") -> DataFrame:
    """``df`` + a ``quality`` struct column — same semantics as
    ``gopher_flags`` but COMPILABLE: the raw counts are emitted through
    a one-element ``explode`` (a Generate node), which turns them into
    real attributes.  Attributes are let-bindings Catalyst cannot
    re-inline, so each regex chain is evaluated once per row and the
    downstream ratio/pass expressions are field accesses — total
    generated code is linear, vs exponential for the single-Column
    form (see gopher_flags docstring).  The Generate stays inside
    whole-stage codegen (explode is codegen-native), adds no exchange
    and no Python island."""
    staged = df.select(
        "*", F.explode(F.array(_gopher_raw_counts(F.col(text_col))))
        .alias("_gopher_raw"))
    return staged.withColumn(
        out_col, _gopher_from_counts(F.col("_gopher_raw"))) \
        .drop("_gopher_raw")


def _make_rep_udf(n: int):
    import math

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _rep(norm: pd.Series) -> pd.Series:
        out = []
        for s in norm:
            if s is None:
                out.append(None)
                continue
            toks = s.split(" ")
            total = len(toks) - (n - 1)
            if total < 1:
                out.append(0.0)
                continue
            distinct = len({tuple(toks[i:i + n]) for i in range(total)})
            # identical IEEE double chain to the DuckDB oracle:
            # floor(double(total-distinct) / total * 1e6) / 1e6
            out.append(math.floor((total - distinct) / total * 1000000.0)
                       / 1000000.0)
        return pd.Series(out, dtype="float64")
    return _rep


def repetition_ratio(col, n: int = 2):
    """Duplicate word-n-gram fraction (1 − distinct/total) — the Gopher
    repetition filter.  Normalization stays JVM-side; the n-gram set is
    an Arrow-batched pandas UDF: a Catalyst HOF formulation
    (sequence→transform→array_distinct) measured ~11 ms/row in the
    interpreted-lambda path vs ~µs/row here, and the float chain is
    IEEE-identical to the DuckDB oracle either way.

    The UDF is deterministic in fact but MARKED nondeterministic: that
    stops CollapseProject/PushDownPredicates from substituting the
    aliased column into downstream filters, which duplicated the Arrow
    island (two evaluations per kept row when a filter on the ratio
    follows, measured as two ArrowEvalPython nodes in the plan)."""
    return _make_rep_udf(n).asNondeterministic()(normalize_text(col))


def clean_text(col):
    """Boilerplate strip for corpus prep: URLs and e-mail addresses
    removed, whitespace collapsed — chained JVM regexp_replace (regex
    subset chosen to mean the same thing in Java and RE2/DuckDB)."""
    c = F.regexp_replace(col, r"https?://\S+", " ")
    c = F.regexp_replace(c, r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+",
                         " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))
