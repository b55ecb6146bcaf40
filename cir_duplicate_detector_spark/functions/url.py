"""URL normalization as a pure Catalyst expression.

Reference semantics (``cir_duplicate_detector/url.py:11-29`` —
``extract_base_url``): lowercase the WHOLE url, parse, and emit
``netloc + path [+ ";"params] [+ "?"query]`` — i.e. drop the scheme and
the fragment, keep everything else. Python's ``urlparse`` routes
scheme-less input entirely into ``path``, so ``example.com/p`` and
``https://example.com/p#x`` normalize equal
(reference ``tests/unit/test_url.py:28-47``).

That behavior is exactly: strip a leading ``scheme://`` if present, strip
a ``#fragment`` suffix, then drop an EMPTY trailing params/query marker
(urlparse emits ``;params`` / ``?query`` only when non-empty, so a bare
trailing ``;`` or ``?`` disappears — found by the hypothesis property
test against a urlparse model). All regexp_replace — fully codegen'd, no
UDF, anchored RE2-compatible patterns (no lookahead) so the same rules
run in the DuckDB oracle. (Spark's ``parse_url`` does NOT match the
scheme-less case, so it is deliberately not used.)

Known divergences, out of practical scope (both hypothesis-found):
* a ``;`` terminating the NETLOC of a scheme-ful URL (``http://host;?q``)
  is treated as empty params here but kept by urlparse;
* urlparse splits ``;params`` only for schemes in ``urllib``'s
  ``uses_params`` list ('', http, https, ftp, …) — for an unknown scheme
  (``weird://h/p;``) it keeps the ``;`` while we strip it. Reference
  inputs are http/https/scheme-less, all in the list.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# RFC 3986 scheme: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) — after
# lowercasing, [a-z][a-z0-9+.\-]* followed by "://".
SCHEME_PATTERN = r"^[a-z][a-z0-9+.\-]*://"
FRAGMENT_PATTERN = r"#.*$"
# Empty-params/query cleanup. `^[^?]*` anchors each rule to the part
# before the FIRST '?', so markers inside a non-empty query survive.
EMPTY_PARAMS_BEFORE_QUERY = r"^([^?]*);\?"  # "p;?q" -> "p?q"
EMPTY_PARAMS_AT_END = r"^([^?]*);$"  # "p;"  -> "p"
EMPTY_QUERY_AT_END = r"^([^?]*)\?$"  # "p?"  -> "p"


def normalize_url(url: Column | str) -> Column:
    """Lowercase, drop ``scheme://`` prefix, ``#fragment`` suffix, and
    empty trailing ``;``/``?`` markers."""
    col = F.col(url) if isinstance(url, str) else url
    out = F.regexp_replace(
        F.regexp_replace(F.lower(col), SCHEME_PATTERN, ""),
        FRAGMENT_PATTERN,
        "",
    )
    out = F.regexp_replace(out, EMPTY_PARAMS_BEFORE_QUERY, "$1?")
    out = F.regexp_replace(out, EMPTY_PARAMS_AT_END, "$1")
    return F.regexp_replace(out, EMPTY_QUERY_AT_END, "$1")


# Drop-in alias matching the reference's public name
# (``cir_duplicate_detector/url.py:11`` exports ``extract_base_url``).
extract_base_url = normalize_url


# The same normalization for the DuckDB oracle (ANSI SQL, RE2 regex;
# DuckDB's replacement syntax is \1 where Java's is $1).
def normalize_url_sql(expr: str) -> str:
    out = (
        "regexp_replace(regexp_replace(lower(" + expr + "), "
        "'^[a-z][a-z0-9+.\\-]*://', ''), '#.*$', '')"
    )
    out = f"regexp_replace({out}, '^([^?]*);\\?', '\\1?')"
    out = f"regexp_replace({out}, '^([^?]*);$', '\\1')"
    return f"regexp_replace({out}, '^([^?]*)\\?$', '\\1')"


def _spark_sql_string(s: str) -> str:
    """A Spark SQL string literal of ``s`` (backslash-escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def normalize_url_spark_sql(expr: str) -> str:
    """Spark SQL text of :func:`normalize_url` over the SQL expression
    ``expr`` (the operators build each call as one SQL statement)."""
    out = (
        f"regexp_replace(regexp_replace(lower({expr}), "
        f"{_spark_sql_string(SCHEME_PATTERN)}, ''), "
        f"{_spark_sql_string(FRAGMENT_PATTERN)}, '')"
    )
    for pattern, repl in (
        (EMPTY_PARAMS_BEFORE_QUERY, "$1?"),
        (EMPTY_PARAMS_AT_END, "$1"),
        (EMPTY_QUERY_AT_END, "$1"),
    ):
        out = f"regexp_replace({out}, {_spark_sql_string(pattern)}, '{repl}')"
    return out
