"""Explain (Q13): decomposition value equals the scored value — the
core_test/search_test.go:36-76 assertion (Explain ~ Score) generalized."""

import pytest

from golucene_spark.index import CorpusSpec, FieldSpec, LogicalIndex
from golucene_spark.search import Searcher, TermQuery, parse_query


def _index(spark, quantize_norms=True):
    df = spark.createDataFrame(
        [(0, "bar", "go"), (1, "bar bar baz", "py"), (2, "qux", "go")],
        "doc_id long, content string, lang string",
    )
    spec = CorpusSpec(
        text_fields=[FieldSpec("content", "content", True)],
        keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"], id_col="doc_id", meta_cols=["lang"],
    )
    return LogicalIndex(df, spec, quantize_norms=quantize_norms).cache()


@pytest.fixture(scope="module")
def ix(spark):
    return _index(spark)


@pytest.mark.parametrize("sim", ["bm25", "classic"])
@pytest.mark.parametrize("qs", ["content:bar", "content:bar OR content:baz",
                                "content:bar AND NOT content:baz",
                                "lang:go AND content:bar"])
def test_explain_matches_score(ix, sim, qs):
    s = Searcher(ix, sim)
    q = parse_query(qs)
    scores = {r["doc_id"]: r["score"] for r in s.score_frame(q).collect()}
    for doc in (0, 1, 2):
        exp = s.explain(q, doc)
        if doc in scores:
            assert exp["match"], (qs, doc)
            assert exp["value"] == pytest.approx(scores[doc], rel=1e-9), (qs, doc)
        else:
            assert not exp["match"]
            assert exp["value"] == 0.0


@pytest.mark.parametrize("sim", ["bm25", "classic"])
def test_explain_matches_score_unquantized(spark, sim):
    """With quantize_norms=False the scorer reads exact lengths (dlq),
    and explain must use the same lengths, not the norm byte."""
    s = Searcher(_index(spark, quantize_norms=False), sim)
    q = parse_query("content:bar")
    scores = {r["doc_id"]: r["score"] for r in s.score_frame(q).collect()}
    assert set(scores) == {0, 1}
    for doc, score in scores.items():
        assert s.explain(q, doc)["value"] == pytest.approx(score, rel=1e-9)


def test_explain_negative_boost(ix):
    # the reference round-trip asserts Explain ~ Score with boost -42
    s = Searcher(ix, "bm25")
    q = TermQuery("content", "qux", boost=-42.0)
    score = s.search(q, 1).collect()[0]["score"]
    exp = s.explain(q, 2)
    assert score < 0 and exp["value"] == pytest.approx(score, rel=1e-9)


def test_highlight_snippets(spark):
    """Per-term first-match positions + snippet window over hits."""
    from golucene_spark.search import highlight

    src = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "no match here"), (2, "xx beta yy")],
        "doc_id long, text string",
    )
    hits = spark.createDataFrame([(0, 1.0), (1, 0.5), (2, 0.7)], "doc_id long, score double")
    out = {r["doc_id"]: r for r in
           highlight(hits, src, ["beta", "delta"], before=3, width=10).collect()}
    assert out[0]["pos_0"] == 7 and out[0]["pos_1"] == 18
    assert out[0]["snippet"] == "ha beta ga"   # window around earliest match
    assert out[1]["pos_0"] == 0 and out[1]["snippet"] == ""
    assert out[2]["pos_0"] == 4 and out[2]["snippet"] == "xx beta yy"


def test_explain_matchall_and_resolved_multiterm(ix):
    from golucene_spark.search import MatchAllQuery, Searcher, WildcardQuery

    s = Searcher(ix, "bm25")
    ex = s.explain(MatchAllQuery(2.0), 0)
    assert ex["match"] and ex["value"] == 2.0
    assert not s.explain(MatchAllQuery(), 10**9)["match"]
    # wildcard resolves to a boolean before explanation
    exw = s.explain(WildcardQuery("content", "ba*"), 1)
    assert exw["match"] and exw["value"] > 0


def test_lm_dirichlet_explain_matches_score(ix):
    from golucene_spark.search import Searcher, TermQuery

    s = Searcher(ix, "lm_dirichlet")
    q = TermQuery("content", "bar")
    scores = {r["doc_id"]: r["score"] for r in s.search(q, 10).collect()}
    for d, v in scores.items():
        ex = s.explain(q, d)
        assert ex["match"] and ex["value"] == v, d


@pytest.fixture(scope="module")
def pex(spark):
    """Positions-enabled index for span/phrase explain."""
    from golucene_spark.index import LogicalIndex as LI

    rows = [
        (0, "alpha beta gamma alpha", "en", "web"),
        (1, "alpha x beta y alpha beta", "en", "web"),
        (2, "gamma delta", "en", "web"),
        (3, "alpha beta beta alpha", "en", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    return LI(df, CorpusSpec.documents(), analyzer="simple",
              quantize_norms=False, index_positions=True).cache()


@pytest.mark.parametrize("sim", ["bm25", "classic"])
def test_multi_phrase_explain_matches_score(pex, sim):
    from golucene_spark.search.ast import MultiPhraseQuery

    s = Searcher(pex, sim)
    q = MultiPhraseQuery("text", (("alpha",), ("beta", "gamma")), boost=1.5)
    scores = {r["doc_id"]: r["score"] for r in s.score_frame(q).collect()}
    assert scores  # sanity: the multi-phrase matches something
    for doc in (0, 1, 2, 3):
        exp = s.explain(q, doc)
        if doc in scores:
            assert exp["match"], doc
            assert exp["value"] == pytest.approx(scores[doc], rel=1e-9), doc
            assert exp["details"]["freq"] > 0
        else:
            assert not exp["match"] and exp["value"] == 0.0


@pytest.mark.parametrize("sim", ["bm25", "classic"])
def test_span_explains_match_scores(pex, sim):
    from golucene_spark.search import (
        span_first_explain, span_first_search, span_near_explain,
        span_not_explain, span_not_search, span_or_explain, span_or_search,
        span_near_search,
    )

    s = Searcher(pex, sim)
    cases = [
        (lambda: span_first_search(s, "text", "beta", 3, k=10),
         lambda d: span_first_explain(s, "text", "beta", 3, d)),
        (lambda: span_or_search(s, "text", ["alpha", "gamma"], k=10),
         lambda d: span_or_explain(s, "text", ["alpha", "gamma"], d)),
        (lambda: span_not_search(s, "text", "alpha", "gamma", pre=1, post=1, k=10),
         lambda d: span_not_explain(s, "text", "alpha", "gamma", d, pre=1, post=1)),
        (lambda: span_near_search(s, "text", ["alpha", "beta"], slop=1, k=10),
         lambda d: span_near_explain(s, "text", ["alpha", "beta"], 1, d)),
    ]
    for search_fn, explain_fn in cases:
        scores = {r["doc_id"]: r["score"] for r in search_fn().collect()}
        assert scores
        for doc in (0, 1, 2, 3):
            exp = explain_fn(doc)
            if doc in scores:
                assert exp["match"], (search_fn, doc)
                assert exp["value"] == pytest.approx(scores[doc], rel=1e-9), doc
            else:
                assert not exp["match"] and exp["value"] == 0.0


def test_function_score_explain_matches_score(spark, tmp_path_factory):
    from golucene_spark.index import IndexBuilder, MaterializedIndex

    rows = [
        (0, "data engine", "en", "web"),
        (1, "data pipeline data", "de", "book"),
        (2, "other text", "fr", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    ixdir = str(tmp_path_factory.mktemp("fsx") / "ix")
    IndexBuilder(spark, CorpusSpec.documents(), analyzer="simple",
                 quantize_norms=False, num_segments=2).build(df, ixdir)
    s = Searcher(MaterializedIndex(spark, ixdir), "bm25")
    expr = "case when lang = 'de' then 2.0 else 0.5 end"
    for mode in ("multiply", "sum"):
        scores = {r["doc_id"]: r["score"]
                  for r in s.function_score("text:data", expr, mode=mode, k=10).collect()}
        assert set(scores) == {0, 1}
        for doc in (0, 1, 2):
            exp = s.explain_function_score("text:data", expr, doc, mode=mode)
            if doc in scores:
                assert exp["match"]
                assert exp["value"] == pytest.approx(scores[doc], rel=1e-12), (mode, doc)
                assert len(exp["details"]) == 2
            else:
                assert not exp["match"] and exp["value"] == 0.0
    with pytest.raises(ValueError):
        s.explain_function_score("text:data", expr, 0, mode="nope")
