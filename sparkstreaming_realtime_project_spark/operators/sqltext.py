"""Guards for splicing names and literals into parsed SQL strings.

Several operators build their per-row expressions as ONE parsed SQL
string instead of a chain of Column-API py4j calls (a construction-time
optimization, see ``dedup.tokens_expr``). A name or literal is spliced
only when these guards accept it; anything else takes the caller's
Column-API branch, so the parsed fast path never changes semantics."""

from __future__ import annotations

import re

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
    not depend on ``spark.sql.parser.escapedStringLiterals``. Anything
    else takes the caller's Column-API branch (``F.lit``), where no
    parser is involved."""
    return "'" not in text and "\\" not in text
