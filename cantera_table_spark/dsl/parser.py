"""Recursive-descent parser for the cantera-table search DSL.

Grammar transcribed from the reference bison/flex grammar
(query-parser.yy:98-536, query-lexer.ll:60-115) — statements::

    QUERY [KEYS FOR] (q) [THRESHOLDS n,... FOR KEY 's'] [LIMIT n |
          FETCH FIRST|NEXT n [ROW|ROWS] ONLY] [OFFSET n [ROW|ROWS]]
    CORRELATE QUERY (a), (b)
    SELECT [PARALLEL n] f1, ..., fk FROM (q) [WITH SUMMARIES]
    PARSE q
    SET OUTPUT FORMAT CSV|JSON
    SET TIME FORMAT 'fmt'

A QUERY envelope always carries ``result-count``, as in the reference;
no SET statement switches it off.

Expression operators (all left-associative, one precedence level, matching
the reference's single ``%left`` declaration; comparisons bind tighter by
the shift-preference): juxtaposition = AND, ``OR``/``+``, ``-``/
``AND NOT``, ``AND``, ``ORDER BY``; postfix ``= > >= < <= [lo,hi]``;
prefix ``~``; ``MAX( ) MIN( ) RANDOM_SAMPLE(q, n) KEY=ident``.

Number literals: integer (incl. 0x hex and negative), decimal, and Date
``YYYY-MM-DD`` which becomes *days since epoch* (query-parser.yy:204-210).
Identifiers: ``[A-Za-z_#.:%@/][A-Za-z0-9_.:%@/-]*`` or double-quoted;
single-quoted strings are StringLiterals.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from cantera_table_spark.dsl.ast import (
    Binary, CorrelateStmt, KeyLookup, Leaf, Node, ParseStmt, QueryStmt,
    SelectStmt, SetStmt, Thresholds, Unary,
)

_KEYWORDS = {
    "AND", "CORRELATE", "CSV", "FALSE", "FETCH", "FIRST", "FOR", "FROM",
    "FORMAT", "JSON", "KEY", "KEYS", "LIMIT", "MAX", "MIN", "NEXT", "NOT",
    "OFFSET", "OUTPUT", "OR", "ORDER", "BY", "PARALLEL", "PARSE", "PATH",
    "QUERY", "RANDOM_SAMPLE", "ROW", "ROWS", "SELECT", "SET", "SHOW",
    "SUMMARIES", "TEXT", "THRESHOLDS", "TIME", "VALUES", "WITH",
}

_TOKEN_RE = [
    ("WS", re.compile(r"[ \t\r\n\v\x16]+")),
    ("COMMENT", re.compile(r"--[^\n]*")),
    ("BLOCK_COMMENT", re.compile(r"/\*.*?\*/", re.S)),
    # Date before integer: longest-match (query-lexer.ll:102)
    ("DATE", re.compile(r"[1-9][0-9]*-[01][0-9]-[0123][0-9]")),
    ("HEX", re.compile(r"0x[A-Fa-f0-9]+")),
    ("NUMERIC", re.compile(r"-?[0-9]+\.[0-9]+")),
    ("INTEGER", re.compile(r"-?[0-9]+")),
    ("IDENT", re.compile(r"[A-Za-z_#.:%@/][A-Za-z0-9_.:%@/\-]*")),
    ("SYM", re.compile(r"[()\[\]=<>~+\-,;]")),
]


@dataclass
class Tok:
    kind: str   # KW, IDENT, STRING, NUMBER, DATE_NUMBER, SYM, EOF
    value: object
    pos: int


class ParseError(ValueError):
    pass


def _date_to_days(text: str, pos: int = 0) -> float:
    """YYYY-MM-DD -> days since epoch (timegm/86400, query-parser.yy:204),
    delegated to the canonical X1 helper (functions/dates.py).

    The DATE token regex (query-lexer.ll:102, mirrored below) admits
    shapes strptime rejects (months 13-19, days 32-39, zero fields);
    the reference never checks its strptime's return and silently
    yields a number derived from a zeroed struct tm — here an invalid
    date is a typed ParseError instead (documented loud divergence)."""
    from cantera_table_spark.functions.dates import date_str_to_days
    try:
        return date_str_to_days(text)
    except ValueError as e:
        raise ParseError(f"invalid date literal {text!r} at {pos}: {e}")


def tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "'\"":
            # Quoted literal with doubled-quote escaping (query-lexer.ll
            # stringliteral()); double quotes produce Identifiers, single
            # quotes StringLiterals.  An UNTERMINATED literal swallows
            # the rest of the input into the token WITHOUT error — that
            # is the reference's exact behavior (stringliteral()'s loop
            # runs to EOF and still returns the token,
            # query-lexer.ll:144-160), so reference parity keeps it.
            quote = ch
            j = i + 1
            out = []
            while j < n:
                if text[j] == quote:
                    if j + 1 < n and text[j + 1] == quote:
                        out.append(quote)
                        j += 2
                        continue
                    break
                out.append(text[j])
                j += 1
            toks.append(Tok("IDENT" if quote == '"' else "STRING",
                            "".join(out), i))
            i = j + 1
            continue
        matched = False
        for kind, rx in _TOKEN_RE:
            m = rx.match(text, i)
            if not m:
                continue
            matched = True
            val = m.group(0)
            if kind in ("WS", "COMMENT", "BLOCK_COMMENT"):
                pass
            elif kind == "DATE":
                toks.append(Tok("NUMBER", _date_to_days(val, i), i))
            elif kind == "HEX":
                toks.append(Tok("NUMBER", float(int(val, 16)), i))
            elif kind == "NUMERIC":
                toks.append(Tok("NUMBER", float(val), i))
            elif kind == "INTEGER":
                toks.append(Tok("NUMBER", float(int(val)), i))
            elif kind == "IDENT":
                if val.upper() in _KEYWORDS:
                    toks.append(Tok("KW", val.upper(), i))
                else:
                    toks.append(Tok("IDENT", val, i))
            else:
                toks.append(Tok("SYM", val, i))
            i = m.end()
            break
        if not matched:
            raise ParseError(f"unexpected character {text[i]!r} at {i}")
    toks.append(Tok("EOF", None, n))
    return toks


class Parser:
    def __init__(self, text: str):
        self.toks = tokenize(text)
        self.i = 0

    # -- token helpers ------------------------------------------------
    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        if t.kind != "EOF":
            self.i += 1
        return t

    def at_kw(self, *kws: str) -> bool:
        t = self.peek()
        return t.kind == "KW" and t.value in kws

    def at_sym(self, s: str) -> bool:
        t = self.peek()
        return t.kind == "SYM" and t.value == s

    def expect_kw(self, kw: str) -> Tok:
        t = self.next()
        if t.kind != "KW" or t.value != kw:
            raise ParseError(f"expected {kw}, got {t.kind}:{t.value!r}")
        return t

    def expect_sym(self, s: str) -> Tok:
        t = self.next()
        if t.kind != "SYM" or t.value != s:
            raise ParseError(f"expected {s!r}, got {t.kind}:{t.value!r}")
        return t

    def expect_number(self) -> float:
        t = self.next()
        if t.kind != "NUMBER":
            raise ParseError(f"expected number, got {t.kind}:{t.value!r}")
        return t.value

    def expect_ident(self) -> str:
        t = self.next()
        if t.kind != "IDENT":
            raise ParseError(f"expected identifier, got {t.kind}:{t.value!r}")
        return t.value

    # -- statements ---------------------------------------------------
    def parse_script(self) -> list:
        stmts = []
        while not self.peek().kind == "EOF":
            stmts.append(self.parse_statement())
            self.expect_sym(";")
        return stmts

    def parse_statement(self):
        if self.at_kw("QUERY"):
            return self._parse_query_stmt()
        if self.at_kw("CORRELATE"):
            self.next()
            self.expect_kw("QUERY")
            a = self._parse_paren_query()
            self.expect_sym(",")
            b = self._parse_paren_query()
            return CorrelateStmt(a, b)
        if self.at_kw("PARSE"):
            self.next()
            return ParseStmt(self.parse_subquery_list())
        if self.at_kw("SELECT"):
            return self._parse_select_stmt()
        if self.at_kw("SET"):
            return self._parse_set_stmt()
        t = self.peek()
        raise ParseError(f"expected statement, got {t.kind}:{t.value!r}")

    def _parse_query_stmt(self) -> QueryStmt:
        self.expect_kw("QUERY")
        keys_only = False
        if self.at_kw("KEYS"):
            self.next()
            self.expect_kw("FOR")
            keys_only = True
        q = self._parse_paren_query()
        thresholds = None
        if self.at_kw("THRESHOLDS"):
            self.next()
            values = [self.expect_number()]
            while self.at_sym(","):
                self.next()
                values.append(self.expect_number())
            self.expect_kw("FOR")
            self.expect_kw("KEY")
            t = self.next()
            if t.kind != "STRING":
                raise ParseError("THRESHOLDS key must be a 'string literal'")
            thresholds = Thresholds(values, t.value)
        limit = -1
        if self.at_kw("LIMIT"):
            self.next()
            limit = int(self.expect_number())
        elif self.at_kw("FETCH"):
            self.next()
            if not self.at_kw("FIRST", "NEXT"):
                raise ParseError("expected FIRST or NEXT after FETCH")
            self.next()
            limit = int(self.expect_number())
            if self.at_kw("ROW", "ROWS"):
                self.next()
            t = self.next()  # ONLY is lexed as identifier (not a keyword)
            if not (t.kind == "IDENT" and t.value.upper() == "ONLY"):
                raise ParseError("expected ONLY")
        offset = 0
        if self.at_kw("OFFSET"):
            self.next()
            offset = int(self.expect_number())
            if self.at_kw("ROW", "ROWS"):
                self.next()
        return QueryStmt(q, keys_only=keys_only, thresholds=thresholds,
                         limit=limit, offset=offset)

    def _parse_select_stmt(self) -> SelectStmt:
        self.expect_kw("SELECT")
        parallel = 0
        if self.at_kw("PARALLEL"):
            self.next()
            parallel = int(self.expect_number())
        fields = [self.parse_subquery_list()]
        while self.at_sym(","):
            self.next()
            fields.append(self.parse_subquery_list())
        self.expect_kw("FROM")
        q = self._parse_paren_query()
        with_summaries = False
        if self.at_kw("WITH"):
            self.next()
            self.expect_kw("SUMMARIES")
            with_summaries = True
        return SelectStmt(fields, q, with_summaries=with_summaries,
                          parallel=parallel)

    def _parse_set_stmt(self) -> SetStmt:
        self.expect_kw("SET")
        if self.at_kw("OUTPUT"):
            self.next()
            self.expect_kw("FORMAT")
            if self.at_kw("CSV"):
                self.next()
                return SetStmt("output_format", "csv")
            if self.at_kw("JSON"):
                self.next()
                return SetStmt("output_format", "json")
            raise ParseError("expected CSV or JSON")
        if self.at_kw("TIME"):
            self.next()
            self.expect_kw("FORMAT")
            t = self.next()
            if t.kind != "STRING":
                raise ParseError("SET TIME FORMAT takes a 'string literal'")
            return SetStmt("time_format", t.value)
        raise ParseError(
            "expected OUTPUT FORMAT or TIME FORMAT")

    # -- expressions --------------------------------------------------
    def _parse_paren_query(self) -> Node:
        self.expect_sym("(")
        q = self.parse_subquery_list()
        self.expect_sym(")")
        return q

    def _at_primary_start(self) -> bool:
        t = self.peek()
        if t.kind == "IDENT":
            return True
        if t.kind == "KW" and t.value in ("MAX", "MIN", "RANDOM_SAMPLE",
                                          "KEY"):
            return True
        if t.kind == "SYM" and t.value in ("(", "~"):
            return True
        return False

    def parse_subquery_list(self) -> Node:
        """subQueryList with the flat left-assoc operator loop (stops
        naturally at ',', FROM, and statement keywords, which are
        neither operators nor primary starts)."""
        node = self.parse_postfix()
        while True:
            if self.at_kw("OR"):
                self.next()
                node = Binary("or", node, self.parse_postfix())
            elif self.at_sym("+"):
                self.next()
                node = Binary("or", node, self.parse_postfix())
            elif self.at_sym("-"):
                self.next()
                node = Binary("subtract", node, self.parse_postfix())
            elif self.at_kw("AND"):
                self.next()
                if self.at_kw("NOT"):
                    self.next()
                    node = Binary("subtract", node, self.parse_postfix())
                else:
                    node = Binary("and", node, self.parse_postfix())
            elif self.at_kw("ORDER"):
                self.next()
                self.expect_kw("BY")
                node = Binary("orderby", node, self.parse_postfix())
            elif self._at_primary_start():
                # juxtaposition = implicit AND (query-parser.yy:415-427)
                node = Binary("and", node, self.parse_postfix())
            else:
                break
        return node

    def parse_postfix(self) -> Node:
        node = self.parse_primary()
        while True:
            if self.at_sym("="):
                self.next()
                node = Binary("eq", node, value=self.expect_number())
            elif self.at_sym(">"):
                self.next()
                if self.at_sym("="):
                    self.next()
                    node = Binary("ge", node, value=self.expect_number())
                elif self.peek().kind == "NUMBER":
                    node = Binary("gt", node, value=self.expect_number())
                else:
                    node = Binary("gt", node, rhs=self.parse_primary())
            elif self.at_sym("<"):
                self.next()
                if self.at_sym("="):
                    self.next()
                    node = Binary("le", node, value=self.expect_number())
                elif self.peek().kind == "NUMBER":
                    node = Binary("lt", node, value=self.expect_number())
                else:
                    node = Binary("lt", node, rhs=self.parse_primary())
            elif self.at_sym("["):
                self.next()
                lo = self.expect_number()
                self.expect_sym(",")
                hi = self.expect_number()
                self.expect_sym("]")
                node = Binary("range", node, value=lo, value2=hi)
            else:
                break
        return node

    def parse_primary(self) -> Node:
        t = self.peek()
        if self.at_sym("("):
            self.next()
            q = self.parse_subquery_list()
            self.expect_sym(")")
            return q
        if self.at_sym("~"):
            self.next()
            return Unary("negate", self.parse_postfix())
        if t.kind == "IDENT":
            self.next()
            return Leaf(t.value)
        if self.at_kw("KEY"):
            self.next()
            self.expect_sym("=")
            return KeyLookup(self.expect_ident())
        if self.at_kw("MAX") or self.at_kw("MIN"):
            op = self.next().value.lower()
            self.expect_sym("(")
            inner = self.parse_postfix()
            self.expect_sym(")")
            return Unary(op, inner)
        if self.at_kw("RANDOM_SAMPLE"):
            self.next()
            self.expect_sym("(")
            inner = self.parse_postfix()
            self.expect_sym(",")
            count = self.expect_number()
            if count < 0:
                # a sample size, unsigned in the reference (query.cc:549)
                raise ParseError(f"RANDOM_SAMPLE count must not be "
                                 f"negative: {count:g}")
            self.expect_sym(")")
            return Binary("sample", inner, value=count)
        raise ParseError(f"expected sub-query, got {t.kind}:{t.value!r}")


def parse_script(text: str) -> list:
    """Parse a ';'-terminated statement script (reference CA_parse_script)."""
    return Parser(text).parse_script()


def parse_query(text: str) -> Node:
    """Parse a bare query expression (no statement keyword)."""
    p = Parser(text)
    q = p.parse_subquery_list()
    if p.peek().kind != "EOF":
        t = p.peek()
        raise ParseError(f"trailing input at {t.pos}: {t.value!r}")
    return q
