"""Guards for splicing names and literals into parsed SQL strings.

Several operators build their per-row expressions as ONE parsed SQL
string instead of a chain of Column-API py4j calls (a construction-time
optimization, see ``dedup.tokens_expr``). A name or literal is spliced
only when these guards accept it; anything else takes the caller's
Column-API branch, so the parsed fast path never changes semantics."""

from __future__ import annotations

import re

ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def plain_ident(name: str) -> bool:
    """True when ``name`` can be spliced into a parsed SQL string as-is.
    Anything else (quotes, dots, spaces, leading digits) falls back to
    the Column-API branch of the caller (ADVICE r13: an interpolated
    name needing backticks would otherwise break the parse or silently
    change the expression)."""
    return _IDENT.fullmatch(name) is not None


def plain_literal(text: str) -> bool:
    """True when ``text`` can be spliced into a single-quoted SQL string
    literal as-is: no quote and no backslash, so the parsed bytes do
    not depend on ``spark.sql.parser.escapedStringLiterals``, and no
    ``$``, so Spark's variable substitution
    (``spark.sql.variable.substitute``, on by default), which rewrites
    ``${env:X}``, ``${system:X}`` and ``${<conf>}`` in the SQL text before
    parsing and ignores quotes, cannot change or leak into the value.
    Anything else takes the caller's Column-API branch (``F.lit``), where
    no parser is involved."""
    return not any(c in text for c in "'\\$")


def regex_literal(spark, pattern: str) -> str | None:
    """``pattern`` as a single-quoted SQL string literal that parses back
    to exactly ``pattern`` under ``spark``'s current
    ``spark.sql.parser.escapedStringLiterals``: backslashes doubled when
    the parser unescapes them (the default), verbatim when the flag is
    on. None for a pattern holding a quote or ending in a backslash,
    which one spelling cannot carry through both lexers, or holding a
    ``$``, which variable substitution may rewrite (see
    :func:`plain_literal`); the caller then takes its Column-API
    branch. A raw literal (``r'\\s+'``) is no way out: with the flag on, Spark 4.1 keeps the raw literal's opening
    quote in its value, so ``r'\\s+'`` reads as ``'\\s+``."""
    if "'" in pattern or "$" in pattern or pattern.endswith("\\"):
        return None
    if spark.conf.get(ESCAPED_LITERALS) == "true":
        return f"'{pattern}'"
    return "'" + pattern.replace("\\", "\\\\") + "'"
