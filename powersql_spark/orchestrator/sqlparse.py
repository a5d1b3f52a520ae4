"""SQL handling for orchestration: statement splitting, model /
ASSERT-test classification, and table-reference extraction.

The reference walks the AST that sqlparser-rs gives it
(src/main.rs:53-142). Models here execute as Spark SQL, so their refs
come from Spark's own parser: ``extract_refs`` walks the unresolved
logical plan that the session's Catalyst parser returns, fetched in one
py4j call as JSON. That plan already holds CTE bodies and subquery
expressions in every clause, so the refs are exactly the relations Spark
will look up when the model runs, under the session's grammar (``"x"``
is a string unless ``spark.sql.ansi.doubleQuotedIdentifiers`` is set).

Statement splitting and classification stay here, since ASSERT is not
Spark SQL. They accept only the reference's statement forms
(src/main.rs:152-160, 167-190):
- CREATE [OR REPLACE] [MATERIALIZED] VIEW name AS <query>
- CREATE TABLE name AS <query>
- ASSERT <boolean expr> AS '<message>'   (test files)
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

# What splitting must see through, lexed as Spark does: line comments,
# the start of a (nestable) bracketed comment, '...' and "..." literals
# with backslash escapes, and backtick identifiers.
_TOKEN_RE = re.compile(
    r"""--[^\n]*|/\*|'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*"|`(?:[^`]|``)*`|;""",
    re.DOTALL,
)
_BRACKET_RE = re.compile(r"/\*|\*/")


def _lex(sql: str):
    """(start, end) of each comment and each ';' outside literals and
    comments. Bracketed comments nest, as in Spark's lexer."""
    pos = 0
    while m := _TOKEN_RE.search(sql, pos):
        start, pos = m.span()
        if m.group() == "/*":
            depth = 1
            while depth and (b := _BRACKET_RE.search(sql, pos)):
                depth += 1 if b.group() == "/*" else -1
                pos = b.end()
            if depth:
                pos = len(sql)
        elif m.group()[0] not in "-;":
            continue
        yield start, pos


def split_statements(sql: str) -> list[str]:
    """Split on ';' outside strings/comments, preserving original text
    (slices of the input, so operators/spacing survive verbatim)."""
    stmts: list[str] = []
    start = 0
    for s, e in _lex(sql):
        if sql[s] == ";":
            text = _strip_comments(sql[start:s].strip())
            if text:
                stmts.append(text)
            start = e
    text = _strip_comments(sql[start:].strip())
    if text:
        stmts.append(text)
    return stmts


def _strip_comments(sql: str) -> str:
    """Remove SQL comments, preserving all other spacing verbatim."""
    res = []
    last = 0
    for s, e in _lex(sql):
        if sql[s] != ";":
            res.append(sql[last:s])
            res.append(" ")
            last = e
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
    if ", " in name:
        # extract_refs reads a ref `x, y` as x.y: a model reading this
        # one would lose its DAG edge and could run before it.
        raise ValueError(
            f"Model name {name!r} contains ', ': a reference to it reads "
            "as a dotted name, so the models that read it could not be "
            "ordered after it: " + stmt[:80]
        )
    return Model(name=name, kind=kind, query=m.group("query").strip(), sql=stmt)


def parse_model_file(sql: str) -> dict[str, Model]:
    """All models in one file, keyed by relation name (src/main.rs:144-165)."""
    return {
        (mod := parse_model_statement(stmt)).name: mod
        for stmt in split_statements(sql)
    }


_ASSERT_RE = re.compile(
    r"^\s*ASSERT\s+(?P<cond>.*)\s+AS\s+(?P<msg>'(?:[^'\\]|\\.|'')*')\s*$",
    re.IGNORECASE | re.DOTALL,
)


def parse_test_statement(stmt: str) -> Test:
    m = _ASSERT_RE.match(stmt)
    if not m:
        # Mirrors src/main.rs:188 ("Only assert supported").
        raise ValueError("Only assert supported: " + stmt[:80])
    msg = re.sub(r"\\(.)|''", lambda e: e.group(1) or "'", m.group("msg")[1:-1])
    return Test(condition=m.group("cond").strip(), message=msg)


def parse_test_file(sql: str) -> list[Test]:
    return [parse_test_statement(s) for s in split_statements(sql)]


def sql_parser(spark):
    """The session's Catalyst parser (a py4j handle): fetch it once and
    pass it to every ``extract_refs`` call from the same thread.

    The parser reads its conf from the calling JVM thread's active
    session, which a fresh Python thread does not have: set it here."""
    spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
    return spark._jsparkSession.sessionState().sqlParser()


def extract_refs(parser, query: str) -> list[str]:
    """Table names this query reads (reference get_refs, src/main.rs:53-142),
    in plan order, first spelling kept, minus names bound by WITH.

    Collects every ``UnresolvedRelation`` (a dotted name) and every
    ``IDENTIFIER('literal')``. Raises Spark's ``ParseException`` on a
    query the session cannot parse.

    The plan's JSON joins a name's parts with ", ", so `` `x, y` `` and
    ``x.y`` both read as ``x.y``. ``parse_model_statement`` therefore
    rejects a model name containing ", ": a ref to a model is always
    exact, and only an external table so named reads as dotted.
    """
    refs: list[str] = []
    ctes: set[str] = set()

    def walk(node) -> None:
        if isinstance(node, list):
            for child in node:
                walk(child)
            return
        if not isinstance(node, dict):
            return
        cls = node.get("class", "").rsplit(".", 1)[-1]
        if cls == "UnresolvedRelation":
            refs.append(node["multipartIdentifier"][1:-1].replace(", ", "."))
        elif cls == "PlanWithUnresolvedIdentifier":
            expr = node["identifierExpr"]
            if len(expr) == 1 and expr[0].get("dataType") == "string":
                refs.append(expr[0]["value"])
        elif cls == "UnresolvedWith":
            ctes.update(rel["_1"].lower() for rel in node["cteRelations"])
        for value in node.values():
            walk(value)

    walk(json.loads(parser.parsePlan(query).toJSON()))
    out: list[str] = []
    seen = set(ctes)
    for r in refs:
        if r.lower() not in seen:
            seen.add(r.lower())
            out.append(r)
    return out
