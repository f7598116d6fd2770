"""Minimal SQL WHERE-clause parser → predicate AST.

The reference uses sqlglot to extract the ``WHERE`` subtree and walks
it for pruning (reference query_enginev5.py:74-85); sqlglot is not
available here, so this is a small hand-written tokenizer + recursive
descent parser covering exactly the pruning language (SURVEY §2.2):

    expr   := or
    or     := and (OR and)*
    and    := unary (AND unary)*
    unary  := NOT unary | primary
    primary:= '(' expr ')'
             | col (=|!=|<>|<|<=|>|>=) literal
             | literal (=|!=|<>|<|<=|>|>=) col       (normalized)
             | col [NOT] BETWEEN literal AND literal
             | col [NOT] IN '(' literal (',' literal)* ')'
             | col IS [NOT] NULL

Anything outside this grammar raises ``WhereParseError``, and so does
a backslash in a string literal: Spark reads it as an escape, and
a literal read differently from Spark would prune rows it matches.
``parse_conjuncts`` then keeps the top-level ``AND`` conjuncts that do
parse, and falls back to scan-all only when none does (the reference's
parse-failure behavior, query_enginev5.py:77-85). Literals follow the
reference's int / float / string lattice (query_enginev5.py:222-230).
"""

from __future__ import annotations

import re
from functools import reduce

from columnar_database_project_spark.plans.predicate import (
    And,
    Between,
    Cmp,
    InList,
    IsNotNull,
    IsNull,
    Not,
    Or,
    Pred,
    TruePred,
)


class WhereParseError(ValueError):
    pass


_TOKEN_RE = re.compile(
    r"""
    \s*(
        (?P<num>-?\d+\.\d+|-?\d+)
      | (?P<str>'(?:[^'\\]|'')*')
      | (?P<op><=|>=|!=|<>|=|<|>)
      | (?P<lpar>\()
      | (?P<rpar>\))
      | (?P<comma>,)
      | (?P<word>[A-Za-z_][A-Za-z_0-9.]*)
    )
    """,
    re.VERBOSE,
)

_KEYWORDS = {"AND", "OR", "NOT", "BETWEEN", "IN", "IS", "NULL"}


def _tokenize(s: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m:
            if s[pos:].strip() == "":
                break
            raise WhereParseError(f"unexpected input at {s[pos:pos + 20]!r}")
        pos = m.end()
        if m.group("num"):
            out.append(("num", m.group("num")))
        elif m.group("str"):
            out.append(("str", m.group("str")[1:-1].replace("''", "'")))
        elif m.group("op"):
            op = m.group("op")
            out.append(("op", "!=" if op == "<>" else op))
        elif m.group("lpar"):
            out.append(("lpar", "("))
        elif m.group("rpar"):
            out.append(("rpar", ")"))
        elif m.group("comma"):
            out.append(("comma", ","))
        else:
            w = m.group("word")
            if w.upper() in _KEYWORDS:
                out.append(("kw", w.upper()))
            else:
                out.append(("ident", w))
    return out


def _literal(tok: tuple[str, str]):
    kind, text = tok
    if kind == "str":
        return text
    if kind == "num":
        return float(text) if "." in text else int(text)
    raise WhereParseError(f"expected literal, got {tok}")


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, value: str | None = None):
        t = self.next()
        if t[0] != kind or (value is not None and t[1] != value):
            raise WhereParseError(f"expected {kind} {value or ''}, got {t}")
        return t

    def parse(self) -> Pred:
        e = self.or_expr()
        if self.peek()[0] != "eof":
            raise WhereParseError(f"trailing tokens at {self.peek()}")
        return e

    def or_expr(self) -> Pred:
        left = self.and_expr()
        while self.peek() == ("kw", "OR"):
            self.next()
            left = Or(left, self.and_expr())
        return left

    def and_expr(self) -> Pred:
        left = self.unary()
        while self.peek() == ("kw", "AND"):
            self.next()
            left = And(left, self.unary())
        return left

    def unary(self) -> Pred:
        if self.peek() == ("kw", "NOT"):
            self.next()
            return Not(self.unary())
        return self.primary()

    def primary(self) -> Pred:
        t = self.peek()
        if t[0] == "lpar":
            self.next()
            e = self.or_expr()
            self.expect("rpar")
            return e
        if t[0] in ("num", "str"):
            # literal ⊕ col → normalized to col ⊕ literal
            lit = _literal(self.next())
            op = self.expect("op")[1]
            col = self.expect("ident")[1]
            flipped = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "=", "!=": "!="}
            return Cmp(flipped[op], col, lit)
        if t[0] != "ident":
            raise WhereParseError(f"unexpected token {t}")
        col = self.next()[1]
        t = self.peek()
        if t[0] == "op":
            op = self.next()[1]
            return Cmp(op, col, _literal(self.next()))
        if t == ("kw", "IS"):
            self.next()
            if self.peek() == ("kw", "NOT"):
                self.next()
                self.expect("kw", "NULL")
                return IsNotNull(col)
            self.expect("kw", "NULL")
            return IsNull(col)
        negate = False
        if t == ("kw", "NOT"):
            self.next()
            negate = True
            t = self.peek()
        if t == ("kw", "BETWEEN"):
            self.next()
            lo = _literal(self.next())
            self.expect("kw", "AND")
            hi = _literal(self.next())
            e: Pred = Between(col, lo, hi)
            return Not(e) if negate else e
        if t == ("kw", "IN"):
            self.next()
            self.expect("lpar")
            vals = [_literal(self.next())]
            while self.peek()[0] == "comma":
                self.next()
                vals.append(_literal(self.next()))
            self.expect("rpar")
            e = InList(col, tuple(vals))
            return Not(e) if negate else e
        raise WhereParseError(f"unexpected token {t} after column {col!r}")


def parse_where(clause: str) -> Pred:
    """Parse a WHERE-clause body (no leading WHERE) → predicate AST."""
    toks = _tokenize(clause)
    if not toks:
        return TruePred()
    return _Parser(toks).parse()


# A quoted literal or identifier, a word, a parenthesis, or any other
# character (a lone quote is an unterminated literal).
_SPLIT_TOKEN_RE = re.compile(
    r"""'(?:[^']|'')*'|"(?:[^"]|"")*"|`[^`]*`|[A-Za-z_][A-Za-z_0-9]*|.""",
    re.DOTALL,
)
# Words that end a boolean expression: outside parentheses they mean the
# text runs on into more of a query (a set operation, another clause).
_CLAUSE_WORDS = {
    "SELECT", "FROM", "WHERE", "JOIN", "UNION", "INTERSECT", "EXCEPT",
    "MINUS", "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW",
}


def _top_level_conjuncts(clause: str) -> list[str] | None:
    """The texts of ``clause``'s top-level ``AND`` conjuncts, or None
    when it cannot be split soundly: a top-level ``OR`` (``a AND b OR
    c`` is ``(a AND b) OR c``), a query word outside parentheses, an
    unbalanced parenthesis, ``CASE`` or quote, a comment (``--``,
    ``/*``) outside literals, or a backslash anywhere. Spark drops
    comments and reads a backslash in a literal as an escape, so text
    this splitter would take for a conjunct can be commented out or
    quoted there. Text inside literals, parentheses and ``CASE … END``
    is not split, and the ``AND`` of a ``BETWEEN`` stays in its
    conjunct."""
    if "\\" in clause:
        return None
    parts: list[str] = []
    start = depth = 0
    between = False
    for m in _SPLIT_TOKEN_RE.finditer(clause):
        tok = m.group()
        word = tok.upper()
        if tok in ("'", '"', "`") or clause.startswith(("--", "/*"), m.start()):
            return None
        if tok == "(" or word == "CASE":
            depth += 1
        elif tok == ")" or word == "END":
            depth -= 1
            if depth < 0:
                return None
        elif depth == 0:
            if word == "OR" or word in _CLAUSE_WORDS:
                return None
            if word == "BETWEEN":
                between = True
            elif word == "AND":
                if between:
                    between = False
                else:
                    parts.append(clause[start:m.start()])
                    start = m.end()
    if depth:
        return None
    parts.append(clause[start:])
    return parts


def parse_conjuncts(clause: str) -> Pred:
    """``clause`` → predicate AST for pruning, never raising.

    A clause outside the grammar keeps its top-level ``AND`` conjuncts
    that parse, ``And``-ed together; dropping a conjunct only widens the
    predicate, so pruning with the rest stays sound. ``TruePred`` (scan
    all) when none parses or the clause cannot be split."""
    try:
        return parse_where(clause)
    except WhereParseError:
        pass
    preds = []
    for part in _top_level_conjuncts(clause) or ():
        try:
            preds.append(parse_where(part))
        except WhereParseError:
            continue
    return reduce(And, preds) if preds else TruePred()


_WHERE_SPLIT_RE = re.compile(
    r"\bWHERE\b(.*?)(?:\bGROUP\s+BY\b|\bORDER\s+BY\b|\bHAVING\b|\bLIMIT\b|\bWINDOW\b|$)",
    re.IGNORECASE | re.DOTALL,
)


def extract_where(sql: str) -> Pred:
    """Extract and parse the (first) WHERE clause of a SQL string.

    No WHERE, or no top-level conjunct inside the supported grammar →
    TruePred (scan all), matching the reference's fallback
    (query_enginev5.py:77-85); see ``parse_conjuncts``.
    """
    m = _WHERE_SPLIT_RE.search(sql)
    if not m:
        return TruePred()
    return parse_conjuncts(m.group(1).strip())
