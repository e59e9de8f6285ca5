"""Text-analysis column expressions (SURVEY §2.E7–E10).

Pure `pyspark.sql.functions` expressions (JVM codegen, no UDFs) for
tokenization, stopword counting and fingerprinting. The
regex character classes used here (`[a-z0-9]`, `\\p{Punct}`/ASCII
punct, `\\s`) were chosen to behave identically under Java regex
(Spark) and RE2 (DuckDB) so oracle parity holds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "les", "et", "une"],
    "es": ["el", "los", "una", "por", "como"],
}
EN_STOPWORDS = STOPWORDS["en"]


def tokens(text: Column) -> Column:
    """Lowercased word tokens: split on non-alphanumeric runs, drop empties.

    ``array_remove(split, '')`` rather than a ``filter`` lambda (r18):
    higher-order-function lambdas are CodegenFallback — one in a
    projection makes that expression evaluate interpreted row-by-row —
    while ArrayRemove is natively code-generated. Values identical:
    split never yields NULL elements, so dropping ``''`` is the only
    effect either way, and a NULL input maps to NULL in both forms.
    """
    return F.array_remove(F.split(F.lower(text), "[^a-z0-9]+"), "")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count (codegen ``array_remove``, see tokens)."""
    return F.size(F.array_remove(F.split(text, "\\s+"), ""))


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, single symbols."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
    )


def stopword_count_sql(toks_frag: str, words: list[str]) -> str:
    """Spark-SQL text counting tokens equal to any of ``words`` (with
    multiplicity): ``size(toks) - size(array_remove(...chain...))``.

    The codegen replacement (r18) for the interpreted
    ``size(filter(toks, x -> array_contains(array(...), x)))`` HOF: a
    token matches at most one word, so removing every word's
    occurrences and differencing sizes counts exactly the same tokens,
    and ArrayRemove/Size are natively code-generated where HOF lambdas
    are CodegenFallback. NULL toks map to NULL in both forms (ANSI
    size(NULL) is NULL). ``toks_frag`` is a TRUSTED SQL fragment
    (column name); words are ''-escaped.
    """
    chain = toks_frag
    for w in words:
        chain = f"array_remove({chain}, '" + w.replace("'", "''") + "')"
    return f"(size({toks_frag}) - size({chain}))"


def normalized_fingerprint(text: Column) -> Column:
    """md5 of the whitespace/punct-normalized lowercase text.

    The fingerprint-dedup analogue of gentropy's hash-based identifier
    assignment (study_locus.py:628 assign_study_locus_id uses md5 of
    concatenated key columns).
    """
    norm = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    return F.md5(norm)
