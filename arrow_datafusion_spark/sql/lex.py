"""Statement lexer: the one place that knows how SQL text delimits string
literals, quoted identifiers and comments, how a shielded literal is
spelled in the text the front-end passes read, and what nests in what.

``lex`` scans a statement once, left to right, as the reference tokenizes
once before dispatching on the parsed statement (``DFParser``,
datafusion/sql/src/parser.rs:264):

- ``'...'`` literals (``''`` escapes a quote) move into a literal table and
  leave a sentinel in the text, so no keyword, operator or function-name
  pattern can match quoted text;
- ``"..."`` and ```...``` identifiers stay, skipped whole, so an apostrophe
  inside one opens no literal;
- ``--`` and ``/* */`` comments are dropped; ``/*+ ... */`` hints stay for
  Spark.

Slices and rewrites of the shielded text stay valid against the same
literal table (``Lexed.derive``).

Its second job is nesting. ``close``, ``enclosing``, ``top_level`` and
``split`` read shielded text with one rule: ``(`` and ``[`` open, ``)``
and ``]`` close, and a quoted identifier is skipped whole, so a bracket or
comma inside ``"c)d"`` nests nothing. Passes edit the text between
lookups, so each call scans the text it is given; no index is kept.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator

# Brackets a shielded literal's table index; NUL cannot occur in SQL text.
MARK = "\x00"
# Regex fragment matching one shielded literal.
LIT = f"{MARK}\\d+{MARK}"

_LIT_INDEX = re.compile(f"{MARK}(\\d+){MARK}")
# a quoted identifier; a doubled quote inside it is an escape
_QUOTED_IDENT = r'"(?:[^"]|"")*"|`(?:[^`]|``)*`'
_SCAN = re.compile(
    r"'(?:[^']|'')*'"  # string literal
    rf"|{_QUOTED_IDENT}"
    r"|--[^\n]*"  # line comment (its newline stays)
    r"|/\*(?!\+).*?\*/",  # block comment, not a /*+ hint */
    re.DOTALL,
)
_WORD = re.compile(r"\s*([A-Za-z_]\w*)")
# The tokens nesting reads: a quoted identifier (skipped whole) or a bracket.
# Each alternative opens with a literal, so the scan jumps between them.
_NEST = rf"{_QUOTED_IDENT}|\(|\)|\[|\]"
_BRACKETS = re.compile(_NEST)


def quote(value: str) -> str:
    """``value`` as a SQL string literal."""
    return "'" + value.replace("'", "''") + "'"


class Lexed:
    """A lexed statement: shielded ``text`` and the table of quoted
    literals (``lits``) its sentinels index."""

    __slots__ = ("text", "lits")

    def __init__(self, text: str, lits: list[str]):
        self.text = text
        self.lits = lits

    def derive(self, text: str) -> Lexed:
        """Another shielded text over the same literal table."""
        return Lexed(text, self.lits)

    def copy(self) -> Lexed:
        """A private literal table, for passes that add or replace literals."""
        return Lexed(self.text, list(self.lits))

    def head(self, n: int = 3) -> tuple[str, ...]:
        """The first ``n`` words, upper-cased: the leading keywords."""
        words, pos = [], 0
        while len(words) < n and (m := _WORD.match(self.text, pos)):
            words.append(m.group(1).upper())
            pos = m.end()
        return tuple(words)

    def literal(self, tok: str) -> str | None:
        """The quoted literal when ``tok`` is exactly one sentinel."""
        m = _LIT_INDEX.fullmatch(tok.strip())
        return self.lits[int(m.group(1))] if m else None

    def string(self, tok: str) -> str | None:
        """The string value when ``tok`` is exactly one sentinel."""
        lit = self.literal(tok)
        return None if lit is None else lit[1:-1].replace("''", "'")

    def add(self, literal: str) -> str:
        """Register a quoted literal a pass emits; returns its sentinel."""
        self.lits.append(literal)
        return f"{MARK}{len(self.lits) - 1}{MARK}"

    def replace(self, tok: str, literal: str) -> None:
        """Point the sentinel ``tok`` at another quoted literal."""
        self.lits[int(_LIT_INDEX.fullmatch(tok.strip()).group(1))] = literal

    def unshield(self, text: str | None = None) -> str:
        """``text`` (default: the statement) with its literals restored."""
        text = self.text if text is None else text
        if MARK not in text:
            return text
        return _LIT_INDEX.sub(lambda m: self.lits[int(m.group(1))], text)

    def bind(self, params) -> tuple[Lexed, dict]:
        """Rewrite DataFusion placeholders outside literals to Spark
        named-parameter markers: ``$1`` from a list/tuple, ``$name`` from a
        dict, as ``:pN``/``:name`` so repeated and out-of-order references
        work (Spark's ``?`` markers are strictly in-order). Returns the
        bound statement and the ``args`` for ``spark.sql``."""
        if isinstance(params, (list, tuple)):
            args = {f"p{i}": v for i, v in enumerate(params, start=1)}
            text = re.sub(r"\$(\d+)", r":p\1", self.text)
        elif isinstance(params, dict):
            args = dict(params)
            text = re.sub(r"\$([A-Za-z_][A-Za-z0-9_]*)", r":\1", self.text)
        else:
            raise TypeError(
                "params must be a list/tuple ($1-style) or dict ($name-style)"
            )
        return self.derive(text), args

    def values(self, text: str) -> list:
        """Parse a shielded list of literal values (EXECUTE's arguments):
        strings, integers, floats, booleans, NULL."""
        out: list = []
        for t in (tok.strip() for tok in text.split(",")):
            if not t:
                continue
            s = self.string(t)
            if s is not None:
                out.append(s)
            elif t.upper() == "NULL":
                out.append(None)
            elif t.upper() in ("TRUE", "FALSE"):
                out.append(t.upper() == "TRUE")
            elif re.fullmatch(r"[+-]?\d+", t):
                out.append(int(t))
            else:
                out.append(float(t))
        return out


def lex(sql: str) -> Lexed:
    """Scan ``sql`` once (see the module docstring)."""
    lits: list[str] = []

    def token(m: re.Match) -> str:
        tok = m.group(0)
        if tok[0] == "'":
            lits.append(tok)
            return f"{MARK}{len(lits) - 1}{MARK}"
        if tok[0] in "\"`":
            return tok
        return "" if tok[0] == "-" else " "

    return Lexed(_SCAN.sub(token, sql), lits)


def close(text: str, i: int) -> int | None:
    """The index of the bracket that closes the group the bracket at ``i``
    opens (at a character outside brackets and quoted identifiers: the
    innermost group ``i`` is in), or None."""
    depth = 0
    for m in _BRACKETS.finditer(text, i + 1):
        t = m.group()
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            if depth == 0:
                return m.start()
            depth -= 1
    return None


def enclosing(text: str, i: int) -> int | None:
    """The index of the innermost opener before ``i`` that is still open
    at ``i``, or None at depth 0."""
    opened: list[int] = []
    for m in _BRACKETS.finditer(text, 0, i):
        t = m.group()
        if t in ("(", "["):
            opened.append(m.start())
        elif t in (")", "]") and opened:
            opened.pop()
    return opened[-1] if opened else None


@functools.lru_cache(maxsize=64)
def _nested(pattern: str) -> re.Pattern:
    # the nesting tokens come first, so ``pattern`` never matches inside a
    # quoted identifier; they capture nothing, so its groups keep their numbers
    return re.compile(f"{_NEST}|(?:{pattern})", re.IGNORECASE)


def top_level(
    text: str, pattern: str, start: int = 0, end: int | None = None
) -> Iterator[re.Match]:
    """The matches of ``pattern`` (a case-insensitive regex that matches
    no bracket) at depth 0 of ``text[start:end]``."""
    depth, end = 0, len(text) if end is None else end
    for m in _nested(pattern).finditer(text, start, end):
        t = m.group()
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        elif depth == 0 and t[:1] not in ('"', "`"):
            yield m


def split(text: str) -> list[str]:
    """``text`` cut at its depth-0 commas."""
    parts, pos = [], 0
    for m in top_level(text, ","):
        parts.append(text[pos : m.start()])
        pos = m.end()
    parts.append(text[pos:])
    return parts
