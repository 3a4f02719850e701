"""Text-analysis column functions for training-data pipelines.

All pure Spark SQL expressions (codegen'd, no Python in the hot path):
tokenization, word n-gram shingles, token statistics, quality scoring,
stopword-profile language scoring, and content fingerprints. These are
the per-document building blocks; the pair/corpus-level operators
(dedup, TF) compose them in ``operators/dedup.py`` and the query specs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-"language" stopword profiles for the heuristic language
# scorer. Real pipelines plug in fastText/CLD3-class models as a pandas
# UDF; the engine-side mechanics (profile broadcast, argmax, tie-break)
# are identical.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "das"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "la", "et", "est", "que"),
    "zh": ("de5", "shi4", "le5", "he2", "zai4"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (lower-cased), empty tokens dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the unit of near-dup similarity.

    Token *sets* are useless on small vocabularies (every doc overlaps
    every other); consecutive n-grams capture sequence identity.
    Expression-only: transform over an index range, no UDF.
    """
    return F.array_distinct(word_ngrams(col, n))


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """All consecutive word n-grams (multiset, order preserved).

    Guarded for docs shorter than n tokens: F.sequence(0, -1) would
    otherwise generate a *descending* sequence and slice would fail.
    """
    toks = tokens(col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_token_len(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def quality_score(col: Column | str, stopwords: tuple[str, ...] = ("the", "a", "of")) -> Column:
    """Composite heuristic quality score in [0, 1]:
    length sweet-spot + stopword presence - punctuation noise.
    The weights are illustrative; the point is a single codegen'd
    expression that scores billions of docs without Python."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    length_term = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(c, stopwords) * 5.0, F.lit(1.0))
    punct_term = F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    return F.greatest(
        F.least(
            0.5 * length_term + 0.5 * stop_term - 0.25 * punct_term, F.lit(1.0)
        ),
        F.lit(0.0),
    )


def predicted_lang(col: Column | str) -> Column:
    """Argmax language by profile hits; alphabetical tie-break; 'und'
    (undetermined) when no profile hits at all.

    Argmax as array_min over (-hits, lang) structs — each score computed
    once (a when/otherwise fold duplicates prior score subtrees
    exponentially); min of (-hits, lang) = max hits, alphabetical winner
    on ties.
    """
    toks = tokens(col)
    scored = F.array(
        *[
            F.struct(
                (-F.size(F.filter(toks, lambda t: t.isin(*LANG_PROFILES[lang])))).alias(
                    "neg_hits"
                ),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(LANG_PROFILES)
        ]
    )
    best = F.array_min(scored)
    return F.when(best.getField("neg_hits") < 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def canonical_url(col: Column | str) -> Column:
    """Canonicalize a URL for corpus dedup (the C4/CommonCrawl cleanup):
    drop the #fragment, remove ``utm_*`` tracking params (repairing
    ``?``/``&`` separators), lowercase scheme and host, strip a ``www.``
    prefix and default ports (:80/:443), and strip the trailing path
    slash. Path/query case and non-tracking params are preserved. Pure
    chained regexp expressions — codegen'd, and each step is mirrored
     1:1 in the ``dedup_url`` DuckDB oracle.
    """
    u = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    u = F.regexp_replace(u, r"([?&])utm_[^&]*", r"$1")  # tracking params
    u = F.regexp_replace(u, r"\?&+", r"?")  # ?&ref=1 -> ?ref=1
    u = F.regexp_replace(u, r"&&+", r"&")  # a=1&&b=2 -> a=1&b=2
    u = F.regexp_replace(u, r"[?&]+$", "")  # bare trailing separators
    head_raw = F.regexp_extract(u, r"^([^/?#]*://[^/?#]*)", 1)
    tail = F.substring(u, F.length(head_raw) + 1, F.length(u))
    head = F.lower(head_raw)
    head = F.regexp_replace(head, r"://www\.", "://")
    head = F.regexp_replace(head, r":(443|80)$", "")
    u = F.concat(head, tail)
    u = F.regexp_replace(u, r"/\?", r"?")  # trailing slash before query
    u = F.regexp_replace(u, r"/$", "")  # trailing slash at end
    return u
