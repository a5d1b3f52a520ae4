"""Minimal SQL parsing for orchestration: statement splitting, model /
ASSERT-test classification, and table-reference extraction.

The reference gets a full AST from sqlparser-rs and walks it
(src/main.rs:53-142); no public Python SQL parser ships in this
environment (sqlglot absent), so this is the hand-rolled extractor
decided in SURVEY.md §7 (1). Recall is a superset of the reference's:
the token scan sees FROM/JOIN targets in *every* clause including WHERE
and HAVING subqueries, which the reference's projection+FROM-only walk
misses (src/main.rs:78-88). Spark re-parses every statement natively at
execution time, so this layer only needs names, not full syntax.

Only the reference's accepted statement forms are accepted
(src/main.rs:152-160, 167-190):
- CREATE [OR REPLACE] [MATERIALIZED] VIEW name AS <query>
- CREATE TABLE name AS <query>
- ASSERT <boolean expr> AS '<message>'   (test files)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_TOKEN_RE = re.compile(
    r"""
      (?P<comment>--[^\n]*|/\*.*?\*/)
    | (?P<string>'(?:[^']|'')*')
    | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
    | (?P<number>\d+(?:\.\d*)?|\.\d+)
    | (?P<punct>[^\sA-Za-z0-9_$])
    """,
    re.VERBOSE | re.DOTALL,
)

# Functions whose argument lists legally contain a FROM/FOR keyword —
# the reference gives EXTRACT a dedicated AST arm (src/main.rs:116).
_FROM_IN_ARGS = {"extract", "substring", "trim", "position", "overlay"}

_NON_TABLE_KEYWORDS = {
    "select",
    "lateral",
    "unnest",
    "values",
    "where",
    "group",
    "order",
    "having",
    "limit",
    "offset",
    "union",
    "intersect",
    "except",
    "on",
    "using",
    "inner",
    "left",
    "right",
    "full",
    "cross",
    "natural",
    "outer",
    "join",
    "as",
}


@dataclass(frozen=True)
class Token:
    kind: str
    text: str


def tokenize(sql: str) -> list[Token]:
    out: list[Token] = []
    for m in _TOKEN_RE.finditer(sql):
        kind = m.lastgroup or "punct"
        if kind == "comment":
            continue
        out.append(Token(kind, m.group()))
    return out


def split_statements(sql: str) -> list[str]:
    """Split on ';' outside strings/comments, preserving original text
    (slices of the input, so operators/spacing survive verbatim)."""
    stmts: list[str] = []
    start = 0
    for m in _TOKEN_RE.finditer(sql):
        if m.lastgroup == "punct" and m.group() == ";":
            text = sql[start : m.start()].strip()
            text = _strip_comments(text)
            if text:
                stmts.append(text)
            start = m.end()
    text = _strip_comments(sql[start:].strip())
    if text:
        stmts.append(text)
    return stmts


def _strip_comments(sql: str) -> str:
    """Remove SQL comments, preserving all other spacing verbatim."""
    res = []
    last = 0
    for m in _TOKEN_RE.finditer(sql):
        if m.lastgroup == "comment":
            res.append(sql[last : m.start()])
            res.append(" ")
            last = m.end()
    res.append(sql[last:])
    return "".join(res).strip()


@dataclass(frozen=True)
class Model:
    name: str
    kind: str  # "view" | "materialized_view" | "table"
    query: str  # the SELECT body after AS
    sql: str  # full original statement


@dataclass(frozen=True)
class Test:
    condition: str
    message: str


def _unquote(name: str) -> str:
    """Strip ANSI "..." or Spark `...` identifier quotes, undoubling."""
    q = name[0]
    return name[1:-1].replace(q + q, q)


def _ident_text(tok: Token) -> str:
    return _unquote(tok.text) if tok.kind == "qident" else tok.text


_MODEL_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?"
    r"(?P<mat>MATERIALIZED\s+)?(?P<kind>VIEW|TABLE)\s+"
    r'(?P<name>"(?:[^"]|"")*"|`(?:[^`]|``)*`|[A-Za-z_][A-Za-z0-9_$.]*)'
    r"\s+AS\s+(?P<query>.*)$",
    re.IGNORECASE | re.DOTALL,
)


def parse_model_statement(stmt: str) -> Model:
    m = _MODEL_RE.match(stmt)
    if not m:
        # Mirrors the reference's unimplemented! message (src/main.rs:159).
        raise ValueError(
            "Only (materialized) view and create table as supported: "
            + stmt[:80]
        )
    kind = m.group("kind").lower()
    if kind == "table" and m.group("mat"):
        raise ValueError("MATERIALIZED TABLE is not a thing: " + stmt[:80])
    if kind == "view" and m.group("mat"):
        kind = "materialized_view"
    name = m.group("name")
    if name[0] in '"`':
        name = _unquote(name)
    return Model(name=name, kind=kind, query=m.group("query").strip(), sql=stmt)


def parse_model_file(sql: str) -> dict[str, Model]:
    """All models in one file, keyed by relation name (src/main.rs:144-165)."""
    return {
        (mod := parse_model_statement(stmt)).name: mod
        for stmt in split_statements(sql)
    }


_ASSERT_RE = re.compile(
    r"^\s*ASSERT\s+(?P<cond>.*)\s+AS\s+(?P<msg>'(?:[^']|'')*')\s*$",
    re.IGNORECASE | re.DOTALL,
)


def parse_test_statement(stmt: str) -> Test:
    m = _ASSERT_RE.match(stmt)
    if not m:
        # Mirrors src/main.rs:188 ("Only assert supported").
        raise ValueError("Only assert supported: " + stmt[:80])
    msg = m.group("msg")[1:-1].replace("''", "'")
    return Test(condition=m.group("cond").strip(), message=msg)


def parse_test_file(sql: str) -> list[Test]:
    return [parse_test_statement(s) for s in split_statements(sql)]


def _cte_names(tokens: list[Token]) -> set[str]:
    """Names bound by WITH ... AS ( ... ) [, ...] at any nesting level."""
    names: set[str] = set()
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if t.kind == "word" and t.text.lower() == "with":
            j = i + 1
            if j < n and tokens[j].kind == "word" and tokens[j].text.lower() == "recursive":
                j += 1
            # CTE list: name [(cols)] AS ( body ) [, name ...]
            while j < n:
                if tokens[j].kind not in ("word", "qident"):
                    break
                name = _ident_text(tokens[j])
                j += 1
                # optional column list
                if j < n and tokens[j].text == "(":
                    depth = 1
                    j += 1
                    while j < n and depth:
                        depth += tokens[j].text == "("
                        depth -= tokens[j].text == ")"
                        j += 1
                if not (
                    j < n
                    and tokens[j].kind == "word"
                    and tokens[j].text.lower() == "as"
                ):
                    break
                j += 1
                if not (j < n and tokens[j].text == "("):
                    break
                names.add(name.lower())
                depth = 1
                j += 1
                while j < n and depth:
                    depth += tokens[j].text == "("
                    depth -= tokens[j].text == ")"
                    j += 1
                if j < n and tokens[j].text == ",":
                    j += 1
                    continue
                break
            i = j
        else:
            i += 1
    return names


def extract_refs(query: str) -> list[str]:
    """Table names this query reads (reference get_refs, src/main.rs:53-142).

    Token scan: every identifier in table position after FROM or JOIN,
    at any nesting depth (subqueries in any clause included), minus
    names bound by WITH. EXTRACT(x FROM y)-style function keywords are
    excluded via a paren-context stack.
    """
    tokens = tokenize(query)
    ctes = _cte_names(tokens)
    refs: list[str] = []
    seen: set[str] = set()

    paren_ctx: list[str] = []  # lowercased token preceding each open paren
    prev: Token | None = None
    i = 0
    n = len(tokens)

    def read_table_factor(j: int) -> int:
        """Consume one table factor starting at j; record ref if plain."""
        while j < n and tokens[j].text == "(":
            paren_ctx.append("")
            j += 1
        if j >= n:
            return j
        t = tokens[j]
        if t.kind not in ("word", "qident"):
            return j
        low = t.text.lower()
        if low in _NON_TABLE_KEYWORDS:
            return j
        # dotted name: a.b.c
        parts = [_ident_text(t)]
        j += 1
        while (
            j + 1 < n
            and tokens[j].text == "."
            and tokens[j + 1].kind in ("word", "qident")
        ):
            parts.append(_ident_text(tokens[j + 1]))
            j += 2
        name = ".".join(parts)
        if name.lower() not in ctes and name.lower() not in seen:
            seen.add(name.lower())
            refs.append(name)
        # optional alias ([AS] ident), then maybe ", next-factor"
        if j < n and tokens[j].kind == "word" and tokens[j].text.lower() == "as":
            j += 1
        if (
            j < n
            and tokens[j].kind in ("word", "qident")
            and tokens[j].text.lower() not in _NON_TABLE_KEYWORDS
        ):
            j += 1
        if j < n and tokens[j].text == ",":
            return read_table_factor(j + 1)
        return j

    while i < n:
        t = tokens[i]
        if t.text == "(":
            paren_ctx.append((prev.text.lower() if prev else ""))
        elif t.text == ")":
            if paren_ctx:
                paren_ctx.pop()
        elif t.kind == "word":
            low = t.text.lower()
            if low == "from":
                if paren_ctx and paren_ctx[-1] in _FROM_IN_ARGS:
                    pass  # EXTRACT(field FROM expr) — not a table position
                else:
                    i = read_table_factor(i + 1)
                    prev = tokens[i - 1] if i > 0 else None
                    continue
            elif low == "join":
                i = read_table_factor(i + 1)
                prev = tokens[i - 1] if i > 0 else None
                continue
        prev = t
        i += 1
    return refs
