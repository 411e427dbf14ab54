"""Text-analysis functions over the ``documents`` table (SURVEY F16).

North-star LLM-pipeline surface: token counting, quality scoring,
language-ID heuristic, document fingerprinting. Pure column expressions
(codegen'd); each has a DuckDB-expressible twin so the driver oracle can
hash-match results. At 100 TB these are per-row map operations — no
shuffle, trivially parallel, so the only design concern is staying
JVM-side (no Python UDFs), which these do.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import hash64, hash64_sql, shingles, shingles_sql, tokens

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def word_tokens_bpe_ish(text: Column) -> Column:
    """BPE-ish tokenization: split on word/non-word boundaries.

    ``regexp_extract_all`` with a word-or-symbol pattern approximates a
    byte-pair pretokenizer's word splitting (GPT-2 style pretoken regex,
    simplified to what both engines support).
    """
    return F.regexp_extract_all(F.lower(text), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)


def quality_score(text: Column) -> Column:
    """Heuristic quality score in [0,1]: length, punctuation and stopword
    ratios — the standard cheap pre-filter for LLM training corpora."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))) / F.greatest(n_tok, F.lit(1))
    punct_ratio = (n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))) / F.greatest(
        n_chars, F.lit(1)
    )
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return F.round(0.5 * len_score + 0.3 * (1.0 - punct_ratio) + 0.2 * stop_ratio, 6)


def quality_score_sql(text: str) -> str:
    toks = f"list_filter(string_split_regex(lower({text}), '\\s+'), t -> t <> '')"
    stop_list = "', '".join(_STOPWORDS)
    return (
        f"round(0.5 * least(len({toks}) / 100.0, 1.0) "
        f"+ 0.3 * (1.0 - (length({text}) - length(regexp_replace({text}, '[^\\w\\s]', '', 'g')))::DOUBLE / greatest(length({text}), 1)) "
        f"+ 0.2 * (len(list_filter({toks}, t -> t IN ('{stop_list}')))::DOUBLE / greatest(len({toks}), 1)), 6)"
    )


def lang_guess(text: Column) -> Column:
    """Language-ID heuristic: stopword-marker voting (n-gram-style).

    Real corpora would use a fastText-ish model via a Pandas UDF; the
    engine surface is the column contract — deterministic, SQL-expressible.
    """
    toks = tokens(text)
    en = F.size(F.filter(toks, lambda t: t.isin("the", "and", "of", "is")))
    es = F.size(F.filter(toks, lambda t: t.isin("el", "la", "de", "que")))
    de = F.size(F.filter(toks, lambda t: t.isin("der", "die", "und", "das")))
    return (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("unknown")
    )


def lang_guess_sql(text: str) -> str:
    toks = f"list_filter(string_split_regex(lower({text}), '\\s+'), t -> t <> '')"
    en = f"len(list_filter({toks}, t -> t IN ('the','and','of','is')))"
    es = f"len(list_filter({toks}, t -> t IN ('el','la','de','que')))"
    de = f"len(list_filter({toks}, t -> t IN ('der','die','und','das')))"
    return (
        f"(CASE WHEN {en} >= {es} AND {en} >= {de} AND {en} > 0 THEN 'en' "
        f"WHEN {es} >= {de} AND {es} > 0 THEN 'es' "
        f"WHEN {de} > 0 THEN 'de' ELSE 'unknown' END)"
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: min 3-shingle hash (a 1-hash MinHash — the
    winnowing-style rolling-hash fingerprint reduced to its Spark shape)."""
    return F.coalesce(
        F.array_min(F.transform(shingles(text, 3), lambda sh: hash64(sh, seed=0))),
        hash64(F.lower(text), seed=0),
    )


def fingerprint_sql(text: str) -> str:
    return (
        f"coalesce(list_min([{hash64_sql('sh', 0)} FOR sh IN {shingles_sql(text, 3)}]), "
        f"{hash64_sql(f'lower({text})', 0)})"
    )
