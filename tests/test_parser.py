"""Parser grammar: nesting, quoted phrases, fuzzy, boosts — the full
queryParser.go:87-222 grammar incl. the productions the reference
panics on (phrase :58, fuzzy :178-190)."""

import pytest

from golucene_spark.search import (
    BooleanClause,
    BooleanQuery,
    FuzzyQuery,
    Occur,
    PhraseQuery,
    TermQuery,
    WildcardQuery,
    parse_query,
)


def P(q):
    return parse_query(q, default_field="content", analyzer="standard")


def test_flat_or_default():
    q = P("parse tokenize")
    assert isinstance(q, BooleanQuery)
    assert [c.occur for c in q.clauses] == [Occur.SHOULD, Occur.SHOULD]
    assert [c.query.term for c in q.clauses] == ["parse", "tokenize"]


def test_and_promotes_both_sides():
    q = P("parse AND tokenize")
    assert [c.occur for c in q.clauses] == [Occur.MUST, Occur.MUST]


def test_not_and_boost():
    q = P("parse AND NOT tokenize^2.5")
    assert q.clauses[0].occur is Occur.MUST
    assert q.clauses[1].occur is Occur.MUST_NOT
    assert q.clauses[1].query.boost == 2.5


def test_parenthesized_nesting():
    q = P("buffer AND (parse OR tokenize)")
    assert q.clauses[0].query == TermQuery("content", "buffer")
    assert q.clauses[0].occur is Occur.MUST
    inner = q.clauses[1].query
    assert isinstance(inner, BooleanQuery)
    assert [c.query.term for c in inner.clauses] == ["parse", "tokenize"]
    assert all(c.occur is Occur.SHOULD for c in inner.clauses)
    assert q.clauses[1].occur is Occur.MUST


def test_nested_not_inside_group():
    q = P("(parse AND NOT buffer) OR tokenize")
    inner = q.clauses[0].query
    assert inner.clauses[1].occur is Occur.MUST_NOT


def test_group_boost():
    q = P("(parse OR tokenize)^3 buffer")
    assert q.clauses[0].query.boost == 3.0


def test_single_clause_group_unwraps():
    assert P("(parse)") == TermQuery("content", "parse")


def test_quoted_phrase_default_field():
    q = P('"parse tokenize"')
    assert q == PhraseQuery("content", ("parse", "tokenize"))


def test_quoted_phrase_with_field_and_boost():
    q = parse_query('text:"parse tokenize"^2', default_field="content",
                    analyzer="standard", tokenized_fields=("text",))
    assert q == PhraseQuery("text", ("parse", "tokenize"), 2.0)


def test_single_term_phrase_rewrites_to_term():
    assert P('"parse"') == TermQuery("content", "parse")


def test_phrase_as_boolean_clause():
    q = P('buffer AND "parse tokenize"')
    assert q.clauses[1].query == PhraseQuery("content", ("parse", "tokenize"))
    assert q.clauses[1].occur is Occur.MUST


def test_phrase_slop_parsed():
    from golucene_spark.search.ast import PhraseQuery
    q = P('"parse tokenize"~3')
    assert isinstance(q, PhraseQuery) and q.slop == 3


def test_field_scoped_group():
    q = parse_query("lang:go AND text:(parse OR tokenize)",
                    default_field="text", analyzer="standard",
                    tokenized_fields=("text",))
    assert q.clauses[0].query == TermQuery("lang", "go")
    inner = q.clauses[1].query
    assert {c.query.field for c in inner.clauses} == {"text"}
    assert {c.query.term for c in inner.clauses} == {"parse", "tokenize"}


def test_fuzzy_default_and_explicit_edits():
    assert P("parse~") == FuzzyQuery("content", "parse", 2)
    assert P("parse~1") == FuzzyQuery("content", "parse", 1)
    # ~0 is an exact term
    assert P("parse~0") == TermQuery("content", "parse")


def test_fuzzy_with_boost():
    assert P("parse~1^2") == FuzzyQuery("content", "parse", 1, 2.0)


def test_wildcard_still_parses():
    assert P("par*") == WildcardQuery("content", "par*")


def test_amp_pipe_bang_operators():
    q = P("parse && tokenize || buffer && ! reader")
    assert [c.occur for c in q.clauses] == [
        Occur.MUST, Occur.MUST, Occur.MUST, Occur.MUST_NOT,
    ]


def test_stopword_only_clause_dropped():
    q = P("the parse")
    assert q == TermQuery("content", "parse")


def test_multi_token_text_expands_to_should():
    # one *token* containing analyzer-splittable text (hyphen splits
    # under UAX#29; full stop between letters does NOT)
    q = P("foo-bar")
    assert isinstance(q, BooleanQuery)
    assert all(c.occur is Occur.SHOULD for c in q.clauses)


def test_regexp_syntax():
    from golucene_spark.search import RegexpQuery

    assert P("content:/par.*/") == RegexpQuery("content", "par.*")
    assert P("/x+y/") == RegexpQuery("content", "x+y")


def test_term_range_syntax():
    from golucene_spark.search import TermRangeQuery

    assert P("content:[alpha TO beta]") == TermRangeQuery("content", "alpha", "beta", True, True)
    q = P("content:{alpha TO beta}")
    assert (q.lower, q.upper, q.include_lower, q.include_upper) == ("alpha", "beta", False, False)
    q2 = P("content:[alpha TO *]")
    assert (q2.lower, q2.upper) == ("alpha", None)


def test_match_all_syntax():
    from golucene_spark.search import MatchAllQuery

    assert P("*:*") == MatchAllQuery()


def test_range_inside_boolean():
    from golucene_spark.search import TermRangeQuery

    q = P("buffer AND content:[a TO c]")
    assert isinstance(q.clauses[1].query, TermRangeQuery)
    assert q.clauses[1].occur is Occur.MUST


def test_plus_minus_modifiers_fused():
    # queryParser.go:65-71 PLUS/MINUS -> required/prohibited
    # (queryParserBase.go:85-86)
    q = P("parse +tokenize -buffer")
    assert [c.occur for c in q.clauses] == [Occur.SHOULD, Occur.MUST, Occur.MUST_NOT]
    assert q.clauses[1].query == TermQuery("content", "tokenize")
    assert q.clauses[2].query == TermQuery("content", "buffer")


def test_minus_detached_before_group():
    q = P("parse - (tokenize buffer)")
    assert q.clauses[0].occur is Occur.SHOULD
    assert q.clauses[1].occur is Occur.MUST_NOT
    assert isinstance(q.clauses[1].query, BooleanQuery)


def test_minus_with_field_scope():
    q = P("-lang:go parse")
    assert q.clauses[0].occur is Occur.MUST_NOT
    assert q.clauses[0].query == TermQuery("lang", "go")


def test_standard_analyzer_output_is_pinned():
    """Lowercase, stop filter and the 255-char cut, with the pre-filter
    positions: mixed case, non-ASCII (special casings included), stop
    words of any case and over-long tokens; a bare term is analyzed the
    same way alone as in a batch."""
    from golucene_spark.analysis import get_analyzer

    an = get_analyzer("standard")
    texts = ["The QUICK Brown fox IS not Here",
             "Ünïcödé ÉCOLE straße İstanbul ΣΊΣΥΦΟΣ",
             "漢字 and 東京",
             "A " + "x" * 256 + " To " + "Y" * 255 + " end",
             "", None, "THE"]
    terms, rows, pos = an.analyze_batch(texts)
    assert list(zip(terms.tolist(), rows.tolist(), pos.tolist())) == [
        ("quick", 0, 1), ("brown", 0, 2), ("fox", 0, 3), ("here", 0, 6),
        ("ünïcödé", 1, 0), ("école", 1, 1), ("straße", 1, 2),
        ("i̇stanbul", 1, 3), ("σίσυφος", 1, 4),
        ("漢", 2, 0), ("字", 2, 1), ("東", 2, 3), ("京", 2, 4),
        ("y" * 255, 3, 3), ("end", 3, 4),
    ]
    assert terms.dtype == object and rows.dtype == pos.dtype == "int64"
    for text in ("The", "Straße", "AND", "x" * 300):
        t, r, p = an.analyze_batch([text])
        assert (t.dtype, r.dtype, p.dtype) == (object, "int64", "int64")
        assert t.tolist() == ([] if text in ("The", "AND") or len(text) > 255
                              else [text.lower()])
    q = P("Foo AND straße AND NOT the")
    assert [c.query.term for c in q.clauses] == ["foo", "straße"]
