"""Statement lexer: the one place that knows how SQL text delimits string
literals, quoted identifiers and comments, and how a shielded literal is
spelled in the text the front-end passes read.

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
"""

from __future__ import annotations

import re

# Brackets a shielded literal's table index; NUL cannot occur in SQL text.
MARK = "\x00"
# Regex fragment matching one shielded literal.
LIT = f"{MARK}\\d+{MARK}"

_LIT_INDEX = re.compile(f"{MARK}(\\d+){MARK}")
_SCAN = re.compile(
    r"'(?:[^']|'')*'"  # string literal
    r'|"(?:[^"]|"")*"|`(?:[^`]|``)*`'  # quoted identifiers
    r"|--[^\n]*"  # line comment (its newline stays)
    r"|/\*(?!\+).*?\*/",  # block comment, not a /*+ hint */
    re.DOTALL,
)
_WORD = re.compile(r"\s*([A-Za-z_]\w*)")


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
