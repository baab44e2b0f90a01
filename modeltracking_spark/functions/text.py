"""Text-analysis column functions (SURVEY.md §2.12 extension surface).

All JVM builtins (split/filter/transform/md5/regexp) — no Python UDFs —
so token pipelines stay inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny English stopword list used by the quality heuristics; the testdata
#: documents vocabulary is synthetic SQL-ish words so this doubles as a
#: "common token" list.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal.

    array<string>; deterministic and oracle-expressible
    (DuckDB: list_filter(string_split(text, ' '), t -> t <> '')).
    """
    return F.filter(F.split(_col(text), " "), lambda t: t != F.lit(""))


def distinct_tokens(text: Column | str) -> Column:
    """Distinct token set (for Jaccard / MinHash shingling)."""
    return F.array_distinct(tokens(text))


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are stopwords — a quality-score feature."""
    toks = tokens(text)
    stop = F.filter(
        toks, lambda t: t.isin(*STOPWORDS)
    )
    return F.size(stop) / F.greatest(F.size(toks), F.lit(1))


def doc_fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, lower-cased text.

    The exact-dedup key for content-identical documents; md5 hex is
    byte-identical across engines so it is fully oracle-checkable.
    """
    norm = F.lower(F.trim(F.regexp_replace(_col(text), r"\s+", " ")))
    return F.md5(norm)


def _let(bound: Column, body) -> Column:
    """Evaluate ``bound`` once and pass it to ``body`` as a lambda variable.

    A subexpression *captured* inside a higher-order-function lambda is
    re-evaluated per element (Catalyst does not CSE across lambda
    boundaries) — for an expensive bound expression over a long array
    that is an O(n) blowup (measured 7× on char_shingles: the
    regexp normalization re-ran per shingle). ``transform(array(x),
    s -> body(s))[0]`` is the expression-level let binding.
    """
    return F.get(F.transform(F.array(bound), body), 0)


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles (array<string>) for MinHash/SimHash.

    Built with sequence+transform (JVM-side UDTF-free expansion); the
    reference has no text ops — this is §2.12 extension surface. The
    normalized string is let-bound so the regexp runs once per row,
    not once per shingle.
    """
    norm = F.lower(F.trim(F.regexp_replace(_col(text), r"\s+", " ")))
    return _let(
        norm,
        lambda c: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))
                ),
                lambda i: c.substr(i, F.lit(n)),
            )
        ),
    )
