"""Scalar text transforms from the reference, as Column expressions.

Each function cites the reference behavior it re-expresses (SURVEY.md
section 2 #35-45). All are regexp/substring/concat built-ins — no UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"

# Python's Unicode \s (the reference's engine, scrape_youtube_metadata.py:62)
# matches more than Java's ASCII \s: the C0 separators \x1c-\x1f, NEL \x85,
# NBSP \xa0, and the Unicode space separators. Spark-side whitespace handling
# must collapse the same class or sanitize_filename('\x1f') returns '\x1f'
# where the reference contract returns ''.
PY_WS_CLASS = (r"[\s\x1c-\x1f\x85\u00a0\u1680\u2000-\u200a"
               r"\u2028\u2029\u202f\u205f\u3000]")


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization (empty input -> empty array)."""
    c = F.col(c) if isinstance(c, str) else c
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, TOKEN_SPLIT_RE))


def quote_ident(name: str) -> str:
    """Backtick-quote an identifier for interpolation into generated
    SQL, escaping embedded backticks (a column named a`b must not
    break or inject into the string)."""
    return "`" + name.replace("`", "``") + "`"


# Characters whose meaning inside a SQL string literal depends on a
# setting: the backslash (spark.sql.parser.escapedStringLiterals), the
# quote (a doubled quote is one quote only when escapes are processed)
# and the dollar sign (``${name}`` is replaced by a conf value while
# spark.sql.variable.substitute is on, the default).
_SETTING_DEPENDENT = re.compile(r"([\\'$])")


def sql_regex(pattern: str) -> str:
    """A SQL expression that evaluates to ``pattern`` under EITHER
    setting of ``spark.sql.parser.escapedStringLiterals`` and whatever
    ``${...}`` references it holds: each backslash, quote and dollar
    sign is produced by ``chr`` and joined by ``concat`` (constant-folded
    to a single literal during optimization, so the split/regexp
    operators still see a foldable pattern), and the parser never sees
    a character whose meaning depends on a setting. Safe for any string,
    not only patterns (the reranker passes the user's query through
    it)."""
    parts = [f"chr({ord(p)})" if _SETTING_DEPENDENT.fullmatch(p)
             else f"'{p}'" for p in _SETTING_DEPENDENT.split(pattern) if p]
    if len(parts) <= 1:
        return parts[0] if parts else "''"
    return "concat(" + ", ".join(parts) + ")"


def tokens_sql(src: str) -> str:
    """``tokens()`` as a SQL fragment over an arbitrary source
    expression — THE single source of truth for SQL-string tokenizer
    construction (textstats' gopher rules and the dedup shingle chain
    both build from here; tests/test_parity pins it row-identical to
    the Column-API ``tokens`` on adversarial corpora under both
    escapedStringLiterals settings). One F.expr parse of the returned
    string costs one py4j round trip; the Column-API build costs ~10."""
    return (f"CASE WHEN trim({src}) = '' THEN "
            f"CAST(array() AS ARRAY<STRING>) "
            f"ELSE split(trim({src}), {sql_regex(TOKEN_SPLIT_RE)}, -1) END")


def distinct_tokens(c: Column | str) -> Column:
    return F.array_distinct(tokens(c))


def chunk_id(doc_key: Column, pos: Column) -> Column:
    """Deterministic chunk id ``{doc_key}_chunk_{i+1}``
    (chunk_cisa_kev.py:152, chunk_youtube_transcripts.py:186)."""
    return F.concat(doc_key.cast("string"), F.lit("_chunk_"),
                    (pos + 1).cast("string"))


def snippet(c: str, n: int = 250) -> Column:
    """Display truncation of column ``c``: newlines -> spaces, first
    ``n`` chars, ellipsis when truncated (query_rag_database.py:193).
    One ``F.expr`` parse."""
    flat = f"regexp_replace({quote_ident(c)}, {sql_regex(chr(92) + 'n')}, ' ')"
    return F.expr(f"CASE WHEN length({flat}) > {int(n)} "
                  f"THEN concat(substring({flat}, 1, {int(n)}), '...') "
                  f"ELSE {flat} END")


def sanitize_filename(c: Column | str, max_len: int = 200) -> Column:
    """Filename sanitization: strip ``[\\/*?:"<>|]``, collapse whitespace,
    trim, clamp length (scrape_youtube_metadata.py:56-73)."""
    c = F.col(c) if isinstance(c, str) else c
    cleaned = F.regexp_replace(c, r'[\\/*?:"<>|]', "")
    # Collapse PYTHON's whitespace class (not Java's narrower \s) so the
    # result matches the reference's re.sub(r'\s+')/str.strip() contract.
    collapsed = F.trim(F.regexp_replace(cleaned, PY_WS_CLASS + "+", " "))
    return F.substring(collapsed, 1, max_len)


# The reference's 4 channel-URL patterns, in ITS priority order
# (scrape_youtube_metadata.py:75-96: @handle, /c/, /user/, /channel/).
# The @ pattern keeps the '@' in the captured name, as the reference does.
CHANNEL_URL_PATTERNS = (
    r"youtube\.com/(@[^/?#]+)",
    r"youtube\.com/c/([^/?#]+)",
    r"youtube\.com/user/([^/?#]+)",
    r"youtube\.com/channel/([^/?#]+)",
)

# Path segments the reference refuses as a channel name in its fallback
# (scrape_youtube_metadata.py:86-90).
CHANNEL_PATH_SUFFIXES = ("videos", "featured", "community", "about",
                         "streams", "shorts", "playlists")


def channel_name(url: Column | str) -> Column:
    """#40: channel-name extraction — the reference's 4 regex
    alternatives then its path fallback (last path segment unless it is
    a known page suffix, else the previous segment, else the first), all
    as one coalesce chain (scrape_youtube_metadata.py:75-96).

    regexp_extract yields '' on no-match in both Spark and DuckDB, so
    each alternative is nullif-wrapped for the coalesce."""
    url = F.col(url) if isinstance(url, str) else url
    alts = [F.nullif(F.regexp_extract(url, p, 1), F.lit(""))
            for p in CHANNEL_URL_PATTERNS]
    # path = URL minus scheme+host minus query/fragment, '/'-trimmed
    path = F.regexp_replace(url, r"^https?://[^/]*", "")
    path = F.regexp_replace(path, r"[?#].*", "")
    parts = F.split(F.regexp_replace(path, r"^/+|/+$", ""), "/")
    last = F.get(parts, F.size(parts) - 1)
    prev = F.get(parts, F.size(parts) - 2)
    first = F.get(parts, 0)
    fallback = (
        F.when(~F.lower(last).isin(*CHANNEL_PATH_SUFFIXES) & (last != ""),
               last)
        .when((F.size(parts) > 1) & (prev != ""), prev)
        .otherwise(first))
    return F.coalesce(*alts, F.nullif(fallback, F.lit("")))


def coalesce_title(*cols: Column) -> Column:
    """Title coalescing across source types with 'N/A' fallback
    (query_rag_database.py:158, Auto_query_rag_database.py:189)."""
    return F.coalesce(*cols, F.lit("N/A"))


def normalize_date(c: Column | str, in_fmt: str = "yyyyMMdd",
                   out_fmt: str = "yyyy-MM-dd") -> Column:
    """``yyyyMMdd -> yyyy-MM-dd`` with null on invalid input
    (scrape_youtube_metadata.py:215-218)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(F.to_date(c, in_fmt), out_fmt)


def coerce_scalar(c: Column, na: str = "N/A") -> Column:
    """ChromaDB-style metadata coercion: None -> 'N/A', else str()
    (ingest_chunks_to_chromadb.py:133-155). Array columns should be
    pre-joined with ``concat_ws(', ', col)``."""
    return F.coalesce(c.cast("string"), F.lit(na))
