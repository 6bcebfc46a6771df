"""Lexical rules of the SQL front end: literals, quoted names and nesting.

This module is the one place that knows them:

- a string literal is ``'...'`` with ``''`` as the escaped quote;
- a backtick identifier is ``\\`...\\```; neither is code, so brackets,
  commas and keywords inside them never count;
- ``()``, ``[]`` and ``{}`` nest;
- the angle brackets of ``MAP<...>``, ``STRUCT<...>`` and ``ARRAY<...>``
  nest too, but a ``<`` opens only directly after one of those type words,
  so a less-than operator never opens a phantom depth. An angle left open
  when its enclosing bracket closes ends with it.

Every scan walks one precompiled token regex. A forward scan starts at the
position it is given and reads nothing before it; ``open_of``, the one
backward question, walks from the start of the text.
"""

from __future__ import annotations

import re

_STRING = r"'[^']*(?:''[^']*)*'"
_LITERAL = rf"{_STRING}|`[^`]*`"
STRING_RE = re.compile(_STRING)
MASKED_RE = re.compile(_LITERAL)
_TOKEN_RE = re.compile(
    rf"{_LITERAL}|[(\[{{]|\b(?:MAP|STRUCT|ARRAY)\s*<|[)\]}}>]", re.IGNORECASE
)
_SEPARATORS: dict[str, re.Pattern[str]] = {}


def split_literals(text: str) -> list[tuple[bool, str]]:
    """``[(is_literal, chunk)]`` covering ``text``: string literals and
    backtick identifiers are the literal chunks, the rest is code."""
    out, last = [], 0
    for m in MASKED_RE.finditer(text):
        if m.start() > last:
            out.append((False, text[last : m.start()]))
        out.append((True, m.group(0)))
        last = m.end()
    if last < len(text):
        out.append((False, text[last:]))
    return out


def literal_mask(text: str) -> list[bool]:
    """Per character: True inside a string literal or backtick identifier."""
    mask = [False] * len(text)
    for m in MASKED_RE.finditer(text):
        mask[m.start() : m.end()] = [True] * (m.end() - m.start())
    return mask


def _tokens(text: str, start: int, end: int):
    """Yield ``(at, after, depth_before, depth_after)`` for each literal and
    each bracket that opens or closes in ``text[start:end]``. ``at`` is the
    bracket's index (the ``<`` for a type angle); a literal leaves the depth
    as it was, and so does a closer with nothing open."""
    stack: list[str] = []
    for m in _TOKEN_RE.finditer(text, start, end):
        c = m.group()[-1]
        before = len(stack)
        if c in "([{<":
            stack.append(c)
            yield m.end() - 1, m.end(), before, before + 1
            continue
        if c == ">":
            if not stack or stack[-1] != "<":
                continue
            stack.pop()
        elif c in ")]}":
            while stack and stack.pop() == "<":
                pass
        yield m.start(), m.end(), before, len(stack)


def close_of(text: str, open_at: int) -> int:
    """Index just past the bracket that closes the ``(``, ``[`` or ``{`` at
    ``open_at``, so ``text[open_at:close]`` is the whole group; -1 when it
    never closes."""
    for _, after, before, depth in _tokens(text, open_at, len(text)):
        if depth < before and depth == 0:
            return after
    return -1


def open_of(text: str, close_at: int) -> int:
    """Index of the bracket that the ``)``, ``]`` or ``}`` at ``close_at``
    closes; -1 when it closes nothing."""
    opens: list[int] = []
    for at, _, before, depth in _tokens(text, 0, close_at + 1):
        if depth > before:
            opens.append(at)
        elif depth < before:
            if at == close_at:
                return opens[depth]
            del opens[depth:]
    return -1


def _top_spans(text: str, start: int, end: int):
    """Yield ``(a, b)``: the stretches of ``text[start:end]`` that are code
    at depth 0. An opening bracket belongs to the stretch before it."""
    a, depth = start, 0
    for at, after, before, depth in _tokens(text, start, end):
        if before == 0:
            if depth:
                yield a, after
            elif text[at] in "'`":
                yield a, at
                a = after
        elif depth == 0:
            a = after
    if depth == 0 and a < end:
        yield a, end


def iter_top(text: str, pattern: "re.Pattern[str]", start: int = 0, end: int | None = None):
    """Yield each match of ``pattern`` in ``text[start:end]`` that starts at
    depth 0 outside literals. A match may run on into brackets after its
    start; ``\\b`` and lookbehinds see the text before ``start``."""
    end = len(text) if end is None else end
    pos, m = start, None
    for a, b in _top_spans(text, start, end):
        while True:
            if m is None or m.start() < max(a, pos):
                m = pattern.search(text, max(a, pos), end)
                if m is None:
                    return
            if m.start() >= b:
                break
            yield m
            pos = m.end() if m.end() > m.start() else m.end() + 1
            m = None


def find_top(text: str, pattern: "re.Pattern[str]", start: int = 0, end: int | None = None):
    """The first match :func:`iter_top` yields, or None."""
    return next(iter_top(text, pattern, start, end), None)


def split_top(text: str, sep: "str | re.Pattern[str]" = ",") -> list[str]:
    """The stripped, non-blank pieces of ``text`` between separators at
    depth 0 outside literals. ``sep`` is a plain string or a pattern."""
    if isinstance(sep, str):
        sep = _SEPARATORS.get(sep) or _SEPARATORS.setdefault(sep, re.compile(re.escape(sep)))
    pieces, last = [], 0
    for m in iter_top(text, sep):
        pieces.append(text[last : m.start()])
        last = m.end()
    pieces.append(text[last:])
    return [p.strip() for p in pieces if p.strip()]


def strip_outer_parens(text: str) -> str:
    """``text`` stripped, without the parens that wrap all of it, however
    many levels; ``(a) + (b)`` keeps its parens."""
    text = text.strip()
    while text.startswith("(") and close_of(text, 0) == len(text):
        text = text[1:-1].strip()
    return text
