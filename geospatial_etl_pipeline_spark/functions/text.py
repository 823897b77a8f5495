"""Text-analysis column builders (LLM-data-pipeline surface).

All builders are pure JVM expressions (split / higher-order array
functions / regexp) — no Python UDFs in the hot path, so whole-stage
codegen applies and the same logic is expressible as ANSI SQL for the
DuckDB oracle.

Hash choice: MD5. It is the one cryptographic hash with identical
semantics in Spark, DuckDB, and virtually every engine — making every
hash-derived operator (fingerprints, minhash, LSH bands) differentially
testable. Swap in xxhash64 for pure-Spark production speed if oracle
parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small, fixed stopword inventory per language for the n-gram
# heuristic language-ID and stopword-ratio features. Deliberately tiny:
# the operator contract is the formula, not lexicon quality.
STOPWORDS = {
    "en": ("the", "a", "of", "to", "and", "in", "is", "it"),
    "es": ("el", "la", "de", "los", "las", "y", "en", "que"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est"),
}


def normalized(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(c))


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of the normalized text.

    PERFORMANCE: Catalyst duplicates this whole subtree at every
    reference — an expression using the token array N times re-runs the
    regex split N times per row (measured 13× slowdown on the shingle
    pipeline). Materialize it once per row with a staged projection
    (``df.select(id, tokens(c).alias("_tok"))``) and build downstream
    expressions from the ``*_t`` token-column variants below; Catalyst's
    CollapseProject deliberately refuses to inline non-cheap
    multi-referenced aliases, so the staging survives optimization.
    """
    return F.split(normalized(text), r"\s+")


# ---- token-column (_t) variants: compose over a materialized array ----


def token_count_t(tok: Column) -> Column:
    return F.size(tok).cast("bigint")


def word_ngrams_t(tok: Column, n: int = 2) -> Column:
    # try_element_at, not element_at: docs shorter than n tokens index
    # past the array end; ANSI element_at throws, try_element_at yields
    # NULL and concat_ws skips it — matching the DuckDB oracle, where
    # out-of-range list indexing is NULL (found by hypothesis on
    # single-token documents)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tok) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(tok, i + j) for j in range(n)]
        ),
    )


def char_ngrams_t(norm: Column, n: int = 5) -> Column:
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: F.substring(norm, i, n),
    )


def stopword_hits_t(tok: Column, lang: str) -> Column:
    sw = STOPWORDS[lang]
    return F.size(F.filter(tok, lambda t: t.isin(*sw))).cast("bigint")


def fingerprint_t(tok: Column) -> Column:
    # NULL-in -> NULL-out: concat_ws silently collapses a NULL array to
    # "" (md5 of NULL text would equal md5 of an empty doc and, worse,
    # DIVERGE from the DuckDB oracle where md5(NULL) is NULL) — found
    # by the hostile-input parity sweep, pinned by test_hostile_parity
    return F.when(tok.isNotNull(), F.md5(F.concat_ws(" ", tok)))


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"[.!?,;:]"), F.lit(0))).cast(
        "bigint"
    )


def fingerprint(text: Column | str) -> Column:
    """Canonical document fingerprint: MD5 over the space-rejoined,
    whitespace-normalized, lowercased token stream (the classic
    'fingerprint' dedup key)."""
    c = F.col(text) if isinstance(text, str) else text
    # guard on the RAW text (tokens(text) is NULL iff text is NULL):
    # referencing the tokens() subtree twice would re-run the regex
    # split per reference (see tokens() docstring)
    return F.when(c.isNotNull(), F.md5(F.concat_ws(" ", tokens(c))))


def bow_fingerprint_t(tok: Column) -> Column:
    """md5 of the SORTED DISTINCT token set — the order-invariant
    (bag-of-words) duplicate signature. q178 groups on it and q179
    audits those groups against the LSH tier; both build it HERE so
    the signature cannot drift between producer and auditor."""
    # NULL-in -> NULL-out, same contract (and reason) as fingerprint_t
    return F.when(
        tok.isNotNull(),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tok)))),
    )


def sql_bow_fp(sql_tokens: str) -> str:
    """DuckDB mirror of bow_fingerprint_t for a given tokens fragment."""
    return (
        f"md5(list_aggregate(list_sort(list_distinct({sql_tokens})),"
        " 'string_agg', ' '))"
    )
