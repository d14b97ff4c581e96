"""String-literal-aware SQL text utilities for the dialect layer.

The engine's Flink-SQL dialect (catalog.py) routes a statement in three
steps: classify it once by its leading tokens on the literal-masked text
(a kind, the query-head test and the INSERT head); apply the ordered table
of in-place query-text rewrites (window TVFs, ML_PREDICT, GROUP_ID, ...)
up to the prefix the kind's handler sees; dispatch through the table of
per-kind handlers, falling through to ``spark.sql``. Raw regex over the
full statement text misroutes when a marker happens to live inside a
string literal — ``SELECT 'use MODULE x'`` is a SELECT, not module DDL.

This module gives the dialect a literal-safe view of a statement without a
full parser (the spike the roadmap called for; sqlglot is unavailable in
this environment, and these three primitives cover the misroute class):

- ``mask_literals``: same-length copy with the CONTENT of string
  literals, quoted identifiers and comments blanked — the classification,
  the rewrite gates and structural regexes run on the mask, and because lengths are identical
  every match span maps 1:1 onto the original text;
- ``sub_outside_literals``: regex substitution that finds matches on the
  mask but lets the replacement read group text from the ORIGINAL (so
  quoted payloads inside a structural match — interval literals, option
  values — come through intact);
- ``split_outside_literals``: top-level split (depth-0, outside
  literals) for statement lists.

Reference anchor: the Flink parser (flink-sql-parser SqlParserImpl)
tokenizes before routing for exactly this reason.
"""

from __future__ import annotations

import hashlib
import re


def det_digest(*parts) -> str:
    """Deterministic 8-hex-digit digest for engine-generated temp-view
    names. Python's ``hash()`` is PYTHONHASHSEED-randomized and collides
    across distinct inputs within one session (ADVICE r4): two OPTIONS
    hints on the same table could silently share a view. md5 over the
    repr of the parts is stable across processes and collision-safe at
    the scale of a session's generated views."""
    payload = "\x1f".join(repr(p) for p in parts)
    return hashlib.md5(payload.encode()).hexdigest()[:12]


def mask_literals(sql: str) -> str:
    """Blank the interiors of ``'...'`` strings (with ``''`` escapes),
    ``"..."`` strings, backtick identifiers, ``--`` line comments and
    ``/* */`` block comments. The result has the SAME length as the
    input; quote/comment delimiters are preserved."""
    out = list(sql)
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'" or c == '"':
            q = c
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    # Spark's default lexer (escapedStringLiterals=false)
                    # treats backslash as an escape inside both quote
                    # styles — 'it\'s' is one literal (ADVICE r4).
                    out[j] = " "
                    out[j + 1] = " "
                    j += 2
                    continue
                if sql[j] == q:
                    if j + 1 < n and sql[j + 1] == q:  # doubled-quote escape
                        out[j] = " "
                        out[j + 1] = " "
                        j += 2
                        continue
                    break
                out[j] = " "
                j += 1
            i = j + 1
        elif c == "`":
            j = i + 1
            while j < n and sql[j] != "`":
                out[j] = " "
                j += 1
            i = j + 1
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = i
            while j < n and sql[j] != "\n":
                out[j] = " "
                j += 1
            i = j
        elif c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = i + 2
            while j + 1 < n and not (sql[j] == "*" and sql[j + 1] == "/"):
                j += 1
            for k in range(i, min(j + 2, n)):
                out[k] = " "
            i = j + 2
        else:
            i += 1
    return "".join(out)


def mask_literals_only(sql: str) -> str:
    """Like ``mask_literals`` but leaves comments intact — for code that
    must READ comment contents (hint blocks ``/*+ ... */``) while still
    being blind to hint-shaped text inside string literals."""
    out = list(sql)
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'" or c == '"':
            q = c
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    out[j] = " "
                    out[j + 1] = " "
                    j += 2
                    continue
                if sql[j] == q:
                    if j + 1 < n and sql[j + 1] == q:
                        out[j] = " "
                        out[j + 1] = " "
                        j += 2
                        continue
                    break
                out[j] = " "
                j += 1
            i = j + 1
        elif c == "`":
            j = i + 1
            while j < n and sql[j] != "`":
                out[j] = " "
                j += 1
            i = j + 1
        else:
            i += 1
    return "".join(out)


class _SpanGroups:
    """Match proxy: group() returns the ORIGINAL text at the mask-match's
    span, so quoted payloads inside a structural match survive masking."""

    def __init__(self, m: re.Match, orig: str):
        self._m = m
        self._orig = orig

    def group(self, g: int | str = 0):
        s, e = self._m.span(g)
        if s < 0:
            return None
        return self._orig[s:e]

    def span(self, g: int | str = 0):
        return self._m.span(g)


def search_outside_literals(pattern: re.Pattern, sql: str):
    """pattern.search against the mask; returns a _SpanGroups over the
    original (or None)."""
    m = pattern.search(mask_literals(sql))
    return _SpanGroups(m, sql) if m else None


def sub_outside_literals(pattern: re.Pattern, repl, sql: str) -> str:
    """pattern.sub where matching runs on the mask and ``repl`` receives
    a _SpanGroups reading the original — literal regions can never match,
    but matched structure keeps its quoted payloads."""
    masked = mask_literals(sql)
    out: list[str] = []
    last = 0
    for m in pattern.finditer(masked):
        out.append(sql[last : m.start()])
        out.append(repl(_SpanGroups(m, sql)))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def split_outside_literals(sql: str, sep: str = ";") -> list[str]:
    """Split on ``sep`` occurrences that sit outside string literals,
    quoted identifiers and comments (top-level statement-list split)."""
    masked = mask_literals(sql)
    parts: list[str] = []
    last = 0
    for i, c in enumerate(masked):
        if c == sep:
            parts.append(sql[last:i])
            last = i + 1
    parts.append(sql[last:])
    return parts


def split_top_commas(sql: str) -> list[str]:
    """Split a select-list / group-by body on commas at paren depth 0,
    outside literals and comments."""
    masked = mask_literals(sql)
    parts: list[str] = []
    last = 0
    depth = 0
    for i, c in enumerate(masked):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(sql[last:i])
            last = i + 1
    parts.append(sql[last:])
    return [p.strip() for p in parts]


def match_paren(text: str, open_end: int) -> int:
    """Given ``open_end`` = the index JUST PAST an opening ``(`` (e.g. a
    regex match's ``.end()`` for a pattern ending in ``\\(``), return the
    index just past its matching ``)``, or ``-1`` when unbalanced. Run it
    on MASKED text (mask_literals) so parens inside literals don't count
    — one shared scanner instead of per-site hand-rolled loops, with the
    imbalance policy (skip vs raise) left to the caller."""
    depth, i = 1, open_end
    n = len(text)
    while i < n and depth:
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    return -1 if depth else i
