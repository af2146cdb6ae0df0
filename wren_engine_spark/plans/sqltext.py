"""Quote-aware SQL text utilities.

The semantic layer rewrites identifiers in raw SQL text (namespace
stripping, double-quote -> backtick, model-name matching). Doing that
with bare regexes silently corrupts single-quoted string literals
(``'he said "hi"'`` must never become ``'he said `hi`'``). The helpers
here tokenize the SQL into code / string-literal / comment spans first
and apply rewrites only to code spans.

Lexing rules match Spark's default parser (the engine these strings are
fed to): ``''`` doubles AND ``\\'`` backslash escapes inside literals
(``spark.sql.parser.escapedStringLiterals`` defaults to false, so
backslash escapes are live), ``--`` line comments, ``/* */`` block
comments (non-nesting). An apostrophe inside a comment does NOT open a
literal. Backtick- and double-quoted identifiers are scanned atomically
(they stay in the CODE stream so identifier rewrites still see them),
so an apostrophe or ``--`` inside a quoted identifier cannot open a
phantom literal/comment.

Reference parity: wren-core parses SQL with a real parser (sqlparser-rs)
so literals are naturally opaque there; this module is the lightweight
text-level equivalent (sqlglot is not available in this environment).
"""

from __future__ import annotations

import re
from collections.abc import Callable

_BARE_IDENT = re.compile(r'`((?:[^`]|``)+)`|"((?:[^"]|"")+)"|([A-Za-z_][A-Za-z0-9_]*)')

CODE = "code"
LITERAL = "literal"
COMMENT = "comment"


def lex(sql: str) -> list[tuple[str, str]]:
    """Split SQL into ``(text, kind)`` spans, kind in {code, literal,
    comment}. An unterminated literal/comment extends to the end of the
    string (we must not rewrite inside it either way)."""
    out: list[tuple[str, str]] = []
    i, last, n = 0, 0, len(sql)

    def flush_code(upto: int) -> None:
        nonlocal last
        if last < upto:
            out.append((sql[last:upto], CODE))

    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            flush_code(i)
            out.append((sql[i:end], LITERAL))
            i = last = end
        elif ch == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            end = n if j == -1 else j  # newline stays in the code stream
            flush_code(i)
            out.append((sql[i:end], COMMENT))
            i = last = end
        elif ch == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            end = n if j == -1 else j + 2
            flush_code(i)
            out.append((sql[i:end], COMMENT))
            i = last = end
        elif ch in ('"', "`"):
            # quoted identifier: skip atomically (doubled-char escape),
            # but keep it in the CODE stream — rewrites must see it
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if j + 1 < n and sql[j + 1] == ch:
                        j += 2
                        continue
                    break
                j += 1
            i = min(j + 1, n)
        else:
            i += 1
    flush_code(n)
    return out


def rewrite_outside_literals(sql: str, fn: Callable[[str], str]) -> str:
    """Apply ``fn`` to every code segment; literal and comment segments
    pass through untouched."""
    return "".join(
        text if kind != CODE else fn(text) for text, kind in lex(sql)
    )


def identifiers(sql: str) -> set[str]:
    """Lower-cased identifier tokens appearing in CODE spans only:
    bare identifiers, backtick-quoted, and double-quoted. Used for
    calculated-field pruning, view dependency ordering, and
    PermissionAnalyze — a name occurring inside a string literal or a
    comment is not an identifier reference."""
    return identifiers_from_spans(lex(sql))


def identifiers_from_spans(spans: list[tuple[str, str]]) -> set[str]:
    """Same as :func:`identifiers` over pre-lexed spans (lex once, derive
    several facts — the planning hot path)."""
    found: set[str] = set()
    for text, kind in spans:
        if kind != CODE:
            continue
        for m in _BARE_IDENT.finditer(text):
            if m.group(1) is not None:
                found.add(m.group(1).replace("``", "`").lower())
            elif m.group(2) is not None:
                found.add(m.group(2).replace('""', '"').lower())
            else:
                found.add(m.group(3).lower())
    return found

