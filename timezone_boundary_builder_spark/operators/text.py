"""Text-analysis operators for the training-data pipeline (driver spec:
language-ID, quality scoring, token counting, document fingerprinting).

The scoring/fingerprint operators are JVM-side pyspark.sql.functions
(whole-stage codegen, map-only). The Gopher repetition signals run
through ONE Arrow-batched stats kernel since round 7 (gopher_stats_udf
— integer counts only; divisions and rounding stay in the JVM plan),
replacing a token-explode + double aggregation: still map-only, so
everything here scales to the 10^12-row pages table the way a
projection does. Each operator has an exact ANSI-SQL twin (see
__spark_entry__.oracle_sql) so the DuckDB oracle can verify values, not
just row counts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic marker-word language heuristic (n-gram-lite): the word set
# per language is fixed so Spark and the SQL oracle agree exactly
LANG_MARKERS = [
    ("en", ["the", "and", "of"]),
    ("de", ["der", "und", "nicht"]),
    ("fr", ["le", "et", "les"]),
    ("es", ["el", "y", "los"]),
]

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (len/4 heuristic +
    punctuation splits), all codegen'd."""
    t = F.col(text_col)
    ws_tokens = F.size(F.split(F.trim(t), r"\s+"))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    bpe_est = (F.length(t) / F.lit(4.0) + punct).cast("double")
    return df.withColumn("ws_tokens", ws_tokens).withColumn("bpe_tokens_est", bpe_est)


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality features: char length, word count, mean word length,
    stopword ratio, punctuation ratio — the standard webtext filters."""
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    wc = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return (
        df.withColumn("n_chars_q", F.length(t))
        .withColumn("n_words_q", wc)
        .withColumn(
            "mean_word_len",
            F.round((F.length(F.regexp_replace(t, r"\s+", "")) / wc).cast("double"), 6),
        )
        .withColumn("stopword_ratio", F.round((stop_hits / wc).cast("double"), 6))
        .withColumn(
            "punct_ratio", F.round((punct / F.greatest(F.length(t), F.lit(1))).cast("double"), 6)
        )
    )


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: argmax of per-language marker hits with a
    fixed priority order on ties; 'und' when nothing matches."""
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    hit_cols = []
    for lang, markers in LANG_MARKERS:
        hits = F.size(F.filter(words, lambda w: w.isin(markers)))
        hit_cols.append((lang, hits))
    # argmax with first-listed language winning ties (priority order)
    best = F.lit("und")
    best_n = F.lit(0)
    for lang, hits in reversed(hit_cols):
        cond = hits >= F.greatest(best_n, F.lit(1))
        # reversed iteration + >= makes the FIRST list entry win ties
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_n = F.when(cond, hits).otherwise(best_n)
    return df.withColumn("lang_pred", best)


def norm_text_col(text_col: str = "text") -> Column:
    """Canonical dedup normalization (lowercase, whitespace-collapse) —
    the ONE definition shared by with_fingerprint, exact_dedup, and the
    clean_corpus job, so their keys can never silently drift apart."""
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the normalized text (lowercased,
    whitespace-collapsed) — the exact-dedup key; plus a 16-hex-char
    rolling prefix fingerprint for locality."""
    norm = norm_text_col(text_col)
    return df.withColumn("fingerprint", F.md5(norm)).withColumn(
        "fp_prefix", F.substring(F.md5(norm), 1, 8)
    )


# Token/repetition statistics kernel (round 7, guide §4.2): the six
# integer counts the quality + Gopher gates need, computed per Arrow
# batch in Python with collections.Counter instead of JVM-interpreted
# higher-order functions (Spark evaluates HOF lambdas per ELEMENT with
# no loop-invariant hoisting — a sorted-run-length fold measured ~1.2 us
# per token interpreted, 40x this kernel). Only INTEGERS come back:
# every division and round() stays in the JVM plan, so the fractions are
# bit-identical to the old explode+groupBy aggregation.
#
# Tokenization mirrors the JVM expressions EXACTLY:
# - F.trim strips the ASCII space character only        -> .strip(" ")
# - Java regex \s is [ \t\n\x0B\f\r] (no Unicode class) -> literal class
# - F.split uses limit=-1 (trailing empty strings KEPT) -> re.split
GOPHER_STATS_SCHEMA = (
    "n_words int, stop_hits int, n_distinct int, top_word int, "
    "n_grams int, top_gram int"
)
def gopher_stats_udf():
    """Per-call factory for the stats pandas UDF (marked nondeterministic;
    see the note at its return)."""
    from pyspark.sql.functions import pandas_udf

    stopset = frozenset(STOPWORDS)

    @pandas_udf(GOPHER_STATS_SCHEMA)
    def _stats(texts: pd.Series) -> pd.DataFrame:
        import re
        from collections import Counter

        ws = re.compile(r"[ \t\n\x0B\f\r]+")
        rows = []
        for t in texts:
            if t is None:
                rows.append((None,) * 6)
                continue
            words = ws.split(t.strip(" "))
            n = len(words)
            wc = Counter(words)
            grams = (
                [" ".join(words[i : i + 2]) for i in range(n - 1)]
                if n >= 2
                else [words[0]]
            )
            gc = Counter(grams)
            rows.append(
                (
                    n,
                    sum(c for w, c in wc.items() if w in stopset),
                    len(wc),
                    max(wc.values()),
                    len(grams),
                    max(gc.values()),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_words",
                "stop_hits",
                "n_distinct",
                "top_word",
                "n_grams",
                "top_gram",
            ],
        )

    # asNondeterministic: the UDF IS deterministic (a pure function of
    # the text), but left deterministic Catalyst (a) duplicates it below
    # a pushed-down filter — one Python evaluation for the filter, one
    # for the projection — and (b) pushes threshold predicates over its
    # output below the parallelism-spreading exchange, onto the
    # single-task scan. Nondeterministic expressions are excluded from
    # predicate pushdown, project collapsing and constraint inference,
    # which cuts both off. The marker is therefore an optimizer barrier
    # for every query that composes these stats: filters on its output
    # stay above the UDF's project and prune nothing below it, so put a
    # cheap predicate on the input columns before the UDF, not after.
    return _stats.asNondeterministic()


def repetition_fracs(st: Column) -> dict[str, Column]:
    """JVM-side fractions over the integer stats struct — the identical
    round(int/int, 6) doubles the old long/long aggregation produced."""
    return {
        "top_word_frac": F.round(st["top_word"] / st["n_words"], 6),
        "dup_word_frac": F.round(
            (st["n_words"] - st["n_distinct"]) / st["n_words"], 6
        ),
        "top_bigram_frac": F.round(st["top_gram"] / st["n_grams"], 6),
    }


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document (the filters
    large-scale training-data pipelines apply on top of basic quality
    scores): top_word_frac (most frequent word's share of all word
    occurrences), dup_word_frac (share of occurrences beyond each word's
    first), and top_bigram_frac (most frequent word-2-gram's share of
    all 2-grams; single-word docs contribute the word itself, the same
    clamp the MinHash shingler uses).

    Round 7 scale shape (guide §2.4/§4.2): MAP-ONLY. The previous shape
    (repartition -> tagged explode -> groupBy(id, kind, tok) ->
    groupBy(id)) shuffled one row per doc and hash-aggregated the whole
    token relation; the counts now come from one Arrow-batched stats
    kernel (gopher_stats_udf) and the round(int/int, 6) fractions stay
    in the JVM plan — zero exchanges, identical values (same DuckDB
    oracle). The null-text guard reproduces the old explode semantics
    (null text -> no exploded rows -> doc absent). On single-row-group
    test inputs the scan is spread to cluster parallelism first
    (plans/spread.py — no-op at scale)."""
    from ..plans.spread import spread_small_scan

    base = (
        spread_small_scan(df.select(id_col, text_col), id_col)
        .where(F.col(text_col).isNotNull())
        .withColumn("__st", gopher_stats_udf()(F.col(text_col)))
    )
    fr = repetition_fracs(F.col("__st"))
    return base.select(
        F.col(id_col),
        fr["top_word_frac"].alias("top_word_frac"),
        fr["dup_word_frac"].alias("dup_word_frac"),
        fr["top_bigram_frac"].alias("top_bigram_frac"),
    )


# PII redaction patterns, applied IN ORDER on the progressively-redacted
# text (emails first so an IP-like dotted host inside an email domain is
# counted once, as part of the email). Patterns are restricted to syntax
# with identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookaround, no backrefs.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{9,15}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: emails, IPv4 addresses, and
    international phone numbers are replaced by typed placeholder tokens,
    with a per-doc count of each kind. Pure chained regexp_replace /
    regexp_count — JVM-side, whole-stage codegen, no shuffle: scales as a
    projection. Counts are taken on the text as it stands BEFORE that
    pattern's replacement (sequential semantics, mirrored by the oracle).

    Adds columns: n_emails, n_ips, n_phones (long) and replaces text_col
    with the redacted text.
    """
    out = df
    cur = F.col(text_col)
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}s"))
        cur = F.regexp_replace(cur, pat, rep)
    keep = [c for c in df.columns if c != text_col]
    return out.select(*keep, cur.alias(text_col), *counts)
