from cantera_table_spark.dsl.ast import (
    Binary, KeyLookup, Leaf, QueryStmt, SelectStmt, SetStmt, Thresholds,
    Unary, format_query,
)
from cantera_table_spark.dsl.parser import ParseError, parse_query, parse_script

import pytest


def test_juxtaposition_is_and():
    q = parse_query("a b c")
    assert q == Binary("and", Binary("and", Leaf("a"), Leaf("b")), Leaf("c"))


def test_left_assoc_mixed_ops():
    assert format_query(parse_query("a b OR c - d ORDER BY e")) == \
        "((((a AND b) OR c) AND NOT d) ORDER BY e)"


def test_and_not_equals_subtract():
    assert parse_query("a AND NOT b") == parse_query("a - b")


def test_comparisons_bind_tighter():
    q = parse_query("a AND b > 5")
    assert q == Binary("and", Leaf("a"), Binary("gt", Leaf("b"), value=5.0))


def test_theta_join_form():
    q = parse_query("a > b")
    assert q == Binary("gt", Leaf("a"), rhs=Leaf("b"))


def test_ge_le_take_numbers_only():
    q = parse_query("a >= 2 b <= 3")
    assert q.op == "and"
    assert q.lhs == Binary("ge", Leaf("a"), value=2.0)
    assert q.rhs == Binary("le", Leaf("b"), value=3.0)


def test_range_and_negate():
    q = parse_query("~a[1,2]")
    assert q == Unary("negate", Binary("range", Leaf("a"), value=1.0,
                                       value2=2.0))


def test_date_literal_days_since_epoch():
    q = parse_query("a > 2010-01-01")
    assert q.value == 14610.0
    q = parse_query("a = 1970-01-02")
    assert q.value == 1.0


def test_hex_and_negative_numbers():
    assert parse_query("a = 0x10").value == 16.0
    assert parse_query("a > -3").value == -3.0
    assert parse_query("a > -3.5").value == -3.5


def test_minus_number_is_parse_error():
    # '-' binds to a following number as a negative literal ("a -3"), and
    # "a - 3" subtracts a number which is not a sub-query; the reference
    # grammar rejects both forms (query-lexer.ll:103, query-parser.yy).
    with pytest.raises(ParseError):
        parse_query("a -3")
    with pytest.raises(ParseError):
        parse_query("a - 3")


def test_key_lookup():
    assert parse_query("KEY=doc1.example.com") == \
        KeyLookup("doc1.example.com")


def test_max_min_sample():
    q = parse_query("RANDOM_SAMPLE(MAX(a), 5)")
    assert q == Binary("sample", Unary("max", Leaf("a")), value=5.0)


def test_random_sample_negative_count_is_parse_error():
    # Spark would only reject the count inside the collect
    # (INVALID_LIMIT_LIKE_EXPRESSION.IS_NEGATIVE)
    with pytest.raises(ParseError, match="must not be negative"):
        parse_script("QUERY (RANDOM_SAMPLE(a, -3));")
    assert parse_query("RANDOM_SAMPLE(a, 0)") == \
        Binary("sample", Leaf("a"), value=0.0)


def test_quoted_identifiers_and_keywords():
    q = parse_query('"query" AND x')
    assert q == Binary("and", Leaf("query"), Leaf("x"))


def test_doubled_quote_escape():
    q = parse_query('"a""b"')
    assert q == Leaf('a"b')


def test_query_statement_full():
    s = parse_script(
        "QUERY KEYS FOR (a) THRESHOLDS 5,1,10 FOR KEY 'k' "
        "FETCH FIRST 7 ROWS ONLY OFFSET 2 ROWS;")[0]
    assert s == QueryStmt(Leaf("a"), keys_only=True,
                          thresholds=Thresholds([5.0, 1.0, 10.0], "k"),
                          limit=7, offset=2)


def test_limit_default_is_all():
    s = parse_script("QUERY (a);")[0]
    assert s.limit == -1 and s.offset == 0


def test_select_statement():
    s = parse_script("SELECT PARALLEL 4 f1, f2 FROM (x) WITH SUMMARIES;")[0]
    assert s == SelectStmt([Leaf("f1"), Leaf("f2")], Leaf("x"),
                           with_summaries=True, parallel=4)


def test_set_statements():
    s = parse_script("SET OUTPUT FORMAT CSV; SET TIME FORMAT '%Y-%m';")
    assert s == [SetStmt("output_format", "csv"),
                 SetStmt("time_format", "%Y-%m")]


def test_set_count_mode():
    """The reference grammar has no SET COUNT MODE, and neither does
    this one: every QUERY envelope is counted."""
    for mode in ("NONE", "EXACT"):
        with pytest.raises(ParseError):
            parse_script(f"SET COUNT MODE {mode};")
    # COUNT / MODE are ordinary search terms
    q = parse_query("count AND mode")
    assert q.lhs.identifier == "count" and q.rhs.identifier == "mode"


def test_comments():
    q = parse_query("a -- comment\n AND /* block */ b")
    assert q == Binary("and", Leaf("a"), Leaf("b"))


def test_identifier_charset():
    q = parse_query("in-test:aaa cat:term_1 %40home a/b.c")
    assert isinstance(q.lhs.lhs.lhs, Leaf)
    assert q.lhs.lhs.lhs.identifier == "in-test:aaa"
    assert q.rhs.identifier == "a/b.c"


def test_statement_query_requires_parens():
    with pytest.raises(ParseError):
        parse_script("QUERY a;")


# -- AST round-trip property: format_query output is fully parenthesized
# and must re-parse to the identical AST ------------------------------

def _ast_strategy():
    from hypothesis import strategies as st

    idents = st.sampled_from(["alpha", "beta", "cat:term", "x9", "a.b-c"])
    leaves = idents.map(Leaf)
    numbers = st.sampled_from([0.0, 1.0, -3.0, 2.5, 14610.0])

    def extend(children):
        unary = st.builds(
            Unary, st.sampled_from(["max", "min", "negate"]), children)
        binary = st.builds(
            lambda op, l, r: Binary(op, l, rhs=r),
            st.sampled_from(["and", "or", "subtract", "orderby"]),
            children, children)
        cmp_lit = st.builds(
            lambda op, l, v: Binary(op, l, value=v),
            st.sampled_from(["eq", "gt", "ge", "lt", "le"]),
            children, numbers)
        rng = st.builds(
            lambda l, a, b: Binary("range", l, value=a, value2=b),
            children, numbers, numbers)
        sample = st.builds(
            lambda l: Binary("sample", l, value=5.0), children)
        return st.one_of(unary, binary, cmp_lit, rng, sample)

    return st.recursive(leaves, extend, max_leaves=8)


def test_format_parse_roundtrip_property():
    from hypothesis import given, settings

    @settings(max_examples=200, deadline=None)
    @given(q=_ast_strategy())
    def check(q):
        text = format_query(q)
        reparsed = parse_query(text)
        assert reparsed == q, f"{text!r}: {reparsed} != {q}"

    check()


def test_tokenizer_fuzz_never_crashes():
    """Arbitrary input must either parse or raise ParseError — never an
    unhandled exception (the reference's flex lexer has the same
    contract: unknown bytes become single-char tokens)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=300, deadline=None)
    @given(s=st.text(max_size=60))
    def check(s):
        try:
            parse_query(s)
        except ParseError:
            pass

    check()


# --- grammar round-trip fuzz: format(parse(format(q))) == format(q) ---

from hypothesis import given, settings, strategies as st  # noqa: E402

from cantera_table_spark.dsl import ast as A  # noqa: E402

_ident = st.from_regex(r"kw[a-z0-9]{1,6}", fullmatch=True)
_numv = st.sampled_from([0.0, 1.0, 2.5, -3.0, 7.0, 100.0])


def _leaf():
    return st.one_of(
        _ident.map(A.Leaf),
        _ident.map(lambda s: A.KeyLookup(s)))


_query_st = st.recursive(
    _leaf(),
    lambda q: st.one_of(
        st.tuples(st.sampled_from(["or", "and", "subtract", "orderby"]),
                  q, q).map(lambda t: A.Binary(t[0], t[1], t[2])),
        st.tuples(st.sampled_from(["gt", "lt"]), q, q)
        .map(lambda t: A.Binary(t[0], t[1], t[2])),          # theta join
        st.tuples(st.sampled_from(["eq", "gt", "ge", "lt", "le"]),
                  q, _numv)
        .map(lambda t: A.Binary(t[0], t[1], None, value=t[2])),
        st.tuples(q, _numv, _numv)
        .map(lambda t: A.Binary("range", t[0], None, value=t[1],
                                value2=t[2])),
        st.tuples(q, st.integers(0, 99))
        .map(lambda t: A.Binary("sample", t[0], None, value=float(t[1]))),
        st.tuples(st.sampled_from(["max", "min", "negate"]), q)
        .map(lambda t: A.Unary(t[0], t[1]))),
    max_leaves=8)


@settings(max_examples=200, deadline=None)
@given(q=_query_st)
def test_grammar_roundtrip_fixpoint(q):
    """The PARSE echo (format_query, reference PrintQuery) must be a
    FIXPOINT of the grammar: re-parsing any echoed query yields a tree
    that echoes to the identical text, for arbitrary compositions of
    all 14 operator forms (precedence, postfix binding, NOT-vs-`-`
    desugaring, range/sample literals).  No Spark session — pure
    parser/printer."""
    text = format_query(q)
    reparsed = parse_query(text)
    assert format_query(reparsed) == text


_thr_vals = st.lists(st.sampled_from([0.0, 1.0, 2.5, 19000.0]),
                     min_size=1, max_size=4)


@settings(max_examples=150, deadline=None)
@given(q=_query_st, keys_only=st.booleans(),
       thr=st.one_of(st.none(), _thr_vals),
       limit=st.one_of(st.none(), st.integers(0, 500)),
       fetch=st.booleans(),
       offset=st.one_of(st.none(), st.integers(0, 500)))
def test_query_statement_fuzz(q, keys_only, thr, limit, fetch, offset):
    """Statement-level fuzz: QUERY [KEYS FOR] (expr) [THRESHOLDS ... FOR
    KEY '...'] [LIMIT n | FETCH FIRST n ROWS ONLY] [OFFSET n] — every
    clause combination over random query expressions must parse back to
    the right QueryStmt fields, with the expr echoing to the same
    canonical text."""
    text = "QUERY "
    if keys_only:
        text += "KEYS FOR "
    inner = format_query(q)
    # always wrap: startswith-"(" does NOT imply one paren group
    # ("(kw0=0)=0"), the same trap the printer's _atom used to have
    text += f"({inner})"
    if thr is not None:
        text += (" THRESHOLDS " +
                 ", ".join(str(int(v)) if v == int(v) else repr(v)
                           for v in thr) + " FOR KEY 'score key'")
    if limit is not None:
        text += (f" FETCH FIRST {limit} ROWS ONLY" if fetch
                 else f" LIMIT {limit}")
    if offset is not None:
        text += f" OFFSET {offset} ROWS"
    stmts = parse_script(text + ";")
    assert len(stmts) == 1
    s = stmts[0]
    assert format_query(s.query) == format_query(parse_query(inner))
    assert s.keys_only == keys_only
    if thr is None:
        assert s.thresholds is None
    else:
        assert s.thresholds.values == thr
        assert s.thresholds.key == "score key"
    assert s.limit == (limit if limit is not None else -1)
    assert s.offset == (offset or 0)


def test_theta_join_printer_rejects_non_gt_lt_subquery_rhs():
    """The grammar builds theta joins only for > and < — a hand-built
    comparison node with a subquery rhs on any other op has no
    parseable echo, so format_query must fail loudly instead of
    printing text that breaks the round-trip contract (r7 advisory)."""
    for op in ("eq", "ge", "le"):
        q = Binary(op, Leaf("a"), rhs=Leaf("b"))
        with pytest.raises(TypeError, match="theta joins exist only"):
            format_query(q)
    # gt/lt with a subquery rhs still print and re-parse to themselves
    for op, sym in (("gt", ">"), ("lt", "<")):
        echo = format_query(Binary(op, Leaf("a"), rhs=Leaf("b")))
        assert echo == f"(a {sym} b)"
        assert format_query(parse_query(echo)) == echo


def test_r11_core_review_parser_pins():
    """r11 core-path review findings, pinned: (a) tiny-float literals
    echo in positional notation so the PARSE round trip holds (repr's
    '1e-07' re-tokenized as NUMBER 1.0 + IDENT 'e-07'); (b) a
    date-shaped token strptime rejects raises typed ParseError with a
    position, not a raw ValueError (the reference ignores its
    strptime failure and silently yields garbage from a zeroed tm —
    documented loud divergence); (c) an UNTERMINATED quoted literal
    swallows the rest of the input WITHOUT error — exact reference
    parity (query-lexer.ll:144-160 returns the token at EOF)."""
    import pytest

    from cantera_table_spark.dsl.parser import tokenize

    q = parse_query("a=0.0000001")
    echoed = format_query(q)
    assert "e" not in echoed.lower()
    assert parse_query(echoed) == q

    for bad in ("x=2024-19-39", "5-13-01", "y=2024-02-39"):
        with pytest.raises(ParseError, match="invalid date"):
            parse_query(bad)
    # valid dates still convert (timegm/86400)
    assert parse_query("x=2024-03-01") == parse_query("x=19783")

    toks = tokenize("'unclosed )")
    assert toks[0].kind == "STRING" and toks[0].value == "unclosed )"
