"""One lexer for the SQL front door.

:func:`scan` sorts a statement by Spark's lexical rules
(``SqlBaseLexer.g4``): string literals ``'…'`` and ``"…"`` (a doubled
quote stands for one quote), backtick identifiers, ``--`` and nesting
``/* … */`` comments, ``/*+ … */`` hints (which Spark reads), and code —
words, whitespace and punctuation, each tagged with its parenthesis
depth. Every helper here, and so every routing decision, split, keyword
search, view-name lookup and rewrite of ``Lakehouse.sql``, reads the text
through it. Backslash escapes inside literals (``'it\\'s'``) are not
recognized: the front door's rule is to double a quote.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from datetime import datetime, timezone
from typing import NamedTuple

#: one ``'…'`` or ``"…"`` string literal
STRING = r"'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\""

# an unclosed literal or identifier runs to the end of the text; a
# bracketed comment's end is found by scan(), which counts nesting
_TOKEN = re.compile(
    r"(?P<string>'(?:[^']|'')*'?|\"(?:[^\"]|\"\")*\"?)"
    r"|(?P<ident>`(?:[^`]|``)*`?)"
    r"|(?P<comment>--[^\n]*|/\*)"
    r"|(?P<word>\w+)|(?P<space>\s+)|(?P<punct>.)",
    re.DOTALL,
)
_BRACKET = re.compile(r"/\*|\*/")


class Token(NamedTuple):
    kind: str  # string, ident, comment, hint, word, space or punct
    start: int
    end: int
    depth: int  # parenthesis depth; a group's ( and ) sit outside it


def scan(sql: str) -> list[Token]:
    """``sql`` as consecutive tokens, first to last."""
    tokens: list[Token] = []
    depth, i = 0, 0
    while i < len(sql):
        m = _TOKEN.match(sql, i)
        kind, end = m.lastgroup, m.end()
        if sql.startswith("/*", i):
            kind = "hint" if sql.startswith("/*+", i) else "comment"
            nest, end = 1, len(sql)  # unclosed: runs to the end
            for b in _BRACKET.finditer(sql, i + 2):
                nest += 1 if b.group() == "/*" else -1
                if not nest:
                    end = b.end()
                    break
        elif sql[i] == ")":
            depth -= 1
        tokens.append(Token(kind, i, end, depth))
        if sql[i] == "(":
            depth += 1
        i = end
    return tokens


def normalize(statement: str) -> str:
    """The text the statement executors parse: comments out (each one
    becomes a space), hints kept, text trimmed, trailing ``;`` dropped."""
    text = "".join(
        " " if t.kind == "comment" else statement[t.start : t.end]
        for t in scan(statement)
    )
    return text.strip().rstrip(";").strip()


def split_top_level(sql: str, sep: str = ",") -> list[str]:
    """The trimmed, non-empty pieces of ``sql`` between ``sep``
    characters that sit in code at parenthesis depth 0."""
    cuts = [
        t.start for t in scan(sql)
        if t.kind == "punct" and t.depth == 0 and sql[t.start] == sep
    ]
    bounds = [-1] + cuts + [len(sql)]
    parts = (sql[a + 1 : b].strip() for a, b in zip(bounds, bounds[1:]))
    return [p for p in parts if p]


def find_keyword(sql: str, word: str, all_hits: bool = False):
    """Index of the first (or, with ``all_hits``, every) occurrence of
    ``word`` as a code word at parenthesis depth 0 and outside a ``CASE
    … END`` expression, case-insensitive; -1 / [] when absent."""
    word, hits, case_depth = word.upper(), [], 0
    for t in scan(sql):
        if t.kind != "word" or t.depth:
            continue
        w = sql[t.start : t.end].upper()
        if w == "CASE":
            case_depth += 1
        elif w == "END" and case_depth:
            case_depth -= 1
        elif w == word and not case_depth:
            if not all_hits:
                return t.start
            hits.append(t.start)
    return hits if all_hits else -1


def paren_group(sql: str, open_idx: int) -> tuple[str, int]:
    """Content of the balanced group whose ``(`` is ``sql[open_idx]``,
    and the index just past its ``)`` — column lists and PARTITIONED BY
    clauses nest parens (DECIMAL(18,6), days(ts)), which a regex can't
    balance."""
    depth = None
    for t in scan(sql):
        if t.start == open_idx:
            depth = t.depth
        elif depth is not None and t.depth == depth and sql[t.start] == ")":
            return sql[open_idx + 1 : t.start], t.end
    raise ValueError("DDL: unbalanced parentheses")


def identifiers(sql: str) -> set[str]:
    """Every identifier token: the words in code and the names inside
    backticks — never a word from a literal, a comment or a hint."""
    out = set()
    for t in scan(sql):
        if t.kind == "word":
            out.add(sql[t.start : t.end])
        elif t.kind == "ident":
            out.add(sql[t.start + 1 : t.end - 1].replace("``", "`"))
    return out


def sub_code(pattern: re.Pattern, repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` for the matches that start in code or
    in a backtick identifier; a match that starts inside a literal, a
    comment or a hint stays as written."""
    opaque = [t for t in scan(sql) if t.kind in ("string", "comment", "hint")]
    starts = [t.start for t in opaque]

    def keep(m: re.Match) -> str:
        i = bisect_right(starts, m.start()) - 1
        if i >= 0 and m.start() < opaque[i].end:
            return m.group()
        return repl(m)

    return pattern.sub(keep, sql)


def unquote(text: str) -> str:
    """The value of a string literal; any other text comes back trimmed."""
    s = text.strip()
    if re.fullmatch(STRING, s):
        return s[1:-1].replace(s[0] * 2, s[0])
    return s


def timestamp_ms(raw: str) -> int:
    """Epoch milliseconds of a timestamp argument: an ISO-8601 string
    literal (naive means UTC) or an integer of epoch milliseconds."""
    s = raw.strip()
    if not re.fullmatch(STRING, s):
        return int(s)
    dt = datetime.fromisoformat(unquote(s))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)
