"""Text primitives shared by the dedup / text-analysis operators.

Each primitive exists in two bit-identical forms: a Spark Column expression
(builtins only — stays in whole-stage codegen) and a DuckDB SQL snippet
generator used by the oracle queries.  Tokenization is deliberately simple
and exactly mirrored: lower-case, trim, split on runs of whitespace.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.functions.literals import isin_strings

# Small fixed stopword lists for the language-ID heuristic (top function
# words per language; public knowledge).  Scores are distinct-token overlap
# with each list — deterministic and SQL-expressible in both engines.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "it", "you", "that", "was", "for", "on", "are", "with", "as"),
    "es": ("de", "la", "que", "el", "en", "los", "del", "las", "por", "un", "para", "con", "una", "su", "es"),
    "fr": ("le", "de", "la", "et", "les", "des", "est", "un", "une", "du", "dans", "que", "pour", "qui", "sur"),
    "de": ("der", "die", "und", "das", "den", "von", "ist", "mit", "im", "des", "ein", "auf", "nicht", "eine", "als"),
    "zh": ("的", "了", "是", "我", "不", "在", "他", "有", "这", "个", "上", "们", "来", "到", "时"),
}

#: English stopwords for the quality-score stopword ratio.
QUALITY_STOPWORDS = LANG_STOPWORDS["en"]


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """array<string> of lower-cased whitespace tokens."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), r"\s+")


def py_tokens(text: str | None) -> list[str]:
    """Driver-side twin of `tokens` for query/phrase strings: lower-case
    and split on the SAME whitespace class as the engine side.  Java's
    regex ``\\s`` matches only ASCII whitespace ``[ \\t\\n\\x0B\\f\\r]``,
    while Python's ``str.split()`` splits on every Unicode whitespace
    (U+00A0, U+2009, ...) — a query containing a non-breaking space would
    be cut into terms that can never match any engine-tokenized posting
    or document token.  One rule, both sides."""
    return [t for t in _ASCII_WS.split((text or "").lower()) if t]


_ASCII_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


def word_shingles(toks: Column | str, n: int) -> Column:
    """Word n-gram shingles of a token array (space-joined strings).

    Row-local (no shuffle); a doc with fewer than n tokens yields its full
    token string as the single shingle so no document hashes to empty.
    """
    t = F.col(toks) if isinstance(toks, str) else toks
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(t, i + 1, n), " "),
    )
    return ngrams


# ---------------------------------------------------------------------------
# DuckDB-SQL side (must mirror the Spark expressions exactly)
# ---------------------------------------------------------------------------


def sql_tokens(text_expr: str) -> str:
    return f"regexp_split_to_array(trim(lower({text_expr})), '\\s+')"


def sql_word_shingles(toks_expr: str, n: int) -> str:
    """DuckDB list of word n-grams of a token list expression.

    range(0, greatest(len-n, 0)+1) gives the same i = 0..max(len-n, 0)
    domain as the Spark `sequence`; list slicing is 1-based inclusive in
    both engines' idioms used here.
    """
    return (
        f"list_transform(range(0, greatest(len({toks_expr}) - {n}, 0) + 1), "
        f"i -> array_to_string({toks_expr}[i + 1 : i + {n}], ' '))"
    )


def sql_string_array_literal(values: tuple[str, ...] | list[str]) -> str:
    inner = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return f"[{inner}]"


# ---------------------------------------------------------------------------
# URL primitives: canonicalization + registered-domain extraction for
# URL/host-level dedup (the CCNet/RefinedWeb dedupe-by-URL pass that runs
# BEFORE content dedup).  Same two-form contract as the token primitives:
# a Spark Column chain of builtins (pure whole-stage codegen, zero
# exchanges — scan throughput at 100 TB) and an exactly-mirrored DuckDB
# snippet.  Both engines' regex flavors agree on the subset used here
# (char classes, anchors, bounded repetition, non-capturing groups; no
# lookaround, which RE2 lacks), and both return '' for a no-match
# regexp_extract (verified empirically).
# ---------------------------------------------------------------------------

#: Mini public-suffix list: the common single-label TLDs plus the frequent
#: multi-label registry suffixes.  A deployment would swap in the full
#: publicsuffix.org list (~9.7k entries) — the extraction below tests
#: membership with `literals.isin_strings`, so list size only grows a
#: row-local hash set (and never the py4j calls that build it), never a
#: join or shuffle.
PUBLIC_SUFFIXES: tuple[str, ...] = (
    # single-label
    "com", "org", "net", "io", "edu", "gov", "info", "biz", "dev", "app",
    "co", "uk", "de", "fr", "jp", "au", "br", "in", "cn", "ru", "nl",
    "it", "es", "se", "ch", "xyz",
    # multi-label
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.br", "net.br", "co.in", "ac.in",
    "com.cn", "com.mx", "co.nz", "org.nz", "com.sg", "com.tr", "co.za",
)

#: Query parameters dropped during canonicalization (tracking noise that
#: fragments otherwise-identical URLs).
TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)="


def url_host(url: Column | str) -> Column:
    """Canonical host of a URL: lower-cased authority, default ports
    (:80/:443) stripped, leading `www.` stripped."""
    u = F.col(url) if isinstance(url, str) else url
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )
    return F.regexp_replace(
        F.regexp_replace(hostport, r":(80|443)$", ""), r"^www\.", ""
    )


def url_normalize(url: Column | str) -> Column:
    """Canonical form of a URL for exact URL-level dedup.

    scheme lower-cased; host via `url_host`; fragment dropped; trailing
    path slashes dropped; tracking query params dropped and the surviving
    params sorted (so param ORDER never splits a duplicate group).
    Everything is a chain of builtin string/array expressions — row-local,
    no UDF, no shuffle."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    kept = F.array_sort(
        F.filter(
            F.split(F.regexp_extract(u, r"\?([^#]*)", 1), "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    q = F.array_join(kept, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        url_host(u),
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def _last_labels(host: Column, k: int) -> Column:
    """Last k dot-separated labels of a host (fewer if the host is
    shorter) — greedy bounded repetition anchored at end-of-string, the
    same leftmost match in Java regex and RE2."""
    return F.regexp_extract(host, r"(?:[^.]+\.){0,%d}[^.]+$" % (k - 1), 0)


def registered_domain(
    host: Column | str, suffixes: tuple[str, ...] = PUBLIC_SUFFIXES
) -> Column:
    """Registered (pay-level) domain of a host under the public-suffix
    algorithm: one label more than the LONGEST matching public suffix;
    unknown TLDs fall back to the PSL default `*` rule (last label is the
    suffix, so the registered domain is the last two labels).

    The suffix list is a bounded reference table by construction, so
    membership at each candidate depth is one `literals.isin_strings`
    test (an InSet at run time, fully row-local whole-stage codegen, the
    same zero-exchange reasoning as quality_classifier's hashed-weights
    default path), and each list crosses py4j in a constant number of
    calls however long it is."""
    h = F.col(host) if isinstance(host, str) else host
    l1, l2, l3, l4 = (_last_labels(h, k) for k in (1, 2, 3, 4))
    return (
        F.when(isin_strings(l3, suffixes), l4)
        .when(isin_strings(l2, suffixes), l3)
        .when(isin_strings(l1, suffixes), l2)
        .otherwise(l2)
    )


def sql_url_host(url_expr: str) -> str:
    hostport = (
        f"lower(regexp_extract({url_expr}, "
        f"'^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1))"
    )
    return (
        f"regexp_replace(regexp_replace({hostport}, ':(80|443)$', ''), "
        f"'^www\\.', '')"
    )


def sql_url_normalize(url_expr: str) -> str:
    scheme = (
        f"lower(regexp_extract({url_expr}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    )
    path = (
        f"regexp_replace(regexp_extract({url_expr}, "
        f"'^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1), '/+$', '')"
    )
    kept = (
        f"list_sort(list_filter(string_split("
        f"regexp_extract({url_expr}, '\\?([^#]*)', 1), '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}')))"
    )
    q = f"array_to_string({kept}, '&')"
    return (
        f"({scheme} || '://' || {sql_url_host(url_expr)} || {path} || "
        f"CASE WHEN {q} <> '' THEN '?' || {q} ELSE '' END)"
    )


def _sql_last_labels(host_expr: str, k: int) -> str:
    return (
        f"regexp_extract({host_expr}, "
        f"'(?:[^.]+\\.){{0,{k - 1}}}[^.]+$', 0)"
    )


def sql_registered_domain(
    host_expr: str, suffixes: tuple[str, ...] = PUBLIC_SUFFIXES
) -> str:
    lst = sql_string_array_literal(list(suffixes))
    return (
        f"CASE WHEN list_contains({lst}, {_sql_last_labels(host_expr, 3)}) "
        f"THEN {_sql_last_labels(host_expr, 4)} "
        f"WHEN list_contains({lst}, {_sql_last_labels(host_expr, 2)}) "
        f"THEN {_sql_last_labels(host_expr, 3)} "
        f"WHEN list_contains({lst}, {_sql_last_labels(host_expr, 1)}) "
        f"THEN {_sql_last_labels(host_expr, 2)} "
        f"ELSE {_sql_last_labels(host_expr, 2)} END"
    )
