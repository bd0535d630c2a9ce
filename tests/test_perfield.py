"""Per-field codec/options dispatch (C10): positions and norms are
per-field choices routed through the inversion stage, the per-field
consumer-chain role of defaultIndexingChain.go's PerField +
codec/perfield/."""

import math

import pytest
from pyspark.sql import functions as F

from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder, MaterializedIndex
from golucene_spark.search import Searcher, TermQuery


@pytest.fixture(scope="module")
def pf_ix(spark, tmp_path_factory):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "alpha beta"),
        (1, "alpha beta", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "gamma delta", "alpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, title string")
    spec = CorpusSpec(
        text_fields=[
            FieldSpec("body", "body", True),                        # full options
            FieldSpec("title", "title", True, positions=False, omit_norms=True),
        ],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )
    ixdir = str(tmp_path_factory.mktemp("perfield") / "ix")
    IndexBuilder(spark, spec, analyzer="simple", quantize_norms=False,
                 num_segments=2).build(df, ixdir)
    return MaterializedIndex(spark, ixdir), spec


def test_positions_omitted_per_field(pf_ix):
    ix, _ = pf_ix
    body = ix.postings.filter(F.col("field") == "body")
    title = ix.postings.filter(F.col("field") == "title")
    # body keeps position blobs, title has none (DOCS_AND_FREQS)
    assert body.filter(F.exists("positions", lambda p: p.isNotNull())).count() > 0
    assert title.filter(F.exists("positions", lambda p: p.isNotNull())).count() == 0


def test_omit_norms_scoring_degrades(pf_ix, placement):
    ix, _ = pf_ix
    s = Searcher(ix, "bm25")
    n, df = 3, 3
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    want = idf * 2.2 * 1.0 / (1.0 + 1.2)  # freq + k1: no length term
    for _ in placement():
        # title omits norms: scores depend only on freq/df, never doc length
        hits = {r["doc_id"]: r["score"] for r in s.search(TermQuery("title", "alpha"), 10).collect()}
        assert set(hits) == {0, 1, 2}
        for d, sc in hits.items():
            assert sc == pytest.approx(want, rel=1e-12), d
        # body keeps norms: same-freq docs with different lengths score apart
        body_hits = {r["doc_id"]: r["score"] for r in s.search(TermQuery("body", "alpha"), 10).collect()}
        assert body_hits[1] > body_hits[0]  # doc1 is shorter


def test_default_fields_unaffected(pf_ix):
    ix, _ = pf_ix
    # body norms encode true lengths, title norms all encode 1.0
    ds = ix.doc_stats
    assert ds.filter((F.col("field") == "title") & (F.col("dlq") != 1.0)).count() == 0
    assert ds.filter((F.col("field") == "body") & (F.col("dlq") != 1.0)).count() > 0
    # doc_stats lengths stay REAL for both (diagnostics/CheckIndex)
    lens = {
        (r["field"], r["doc_id"]): r["length"]
        for r in ds.select("field", "doc_id", "length").collect()
    }
    assert lens[("title", 1)] == 8 and lens[("body", 0)] == 6


def test_perfield_analyzer_override(spark, tmp_path, placement):
    # PerFieldAnalyzerWrapper role: same column, two analyzers
    from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder, MaterializedIndex
    from golucene_spark.search import Searcher, TermQuery, parse_query

    spec = CorpusSpec(
        text_fields=[
            FieldSpec("text", "text", True),
            FieldSpec("raw", "text", True, analyzer="whitespace"),
        ],
        keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"], id_col="doc_id", meta_cols=["lang"],
    )
    df = spark.createDataFrame(
        [(0, "The Quick fox", "en"), (1, "the the slow fox", "en")],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path / "ix")
    IndexBuilder(spark, spec, analyzer="simple", quantize_norms=False,
                 num_segments=1).build(df, d)
    ix = MaterializedIndex(spark, d)
    s = Searcher(ix, "bm25")
    # simple chain: 'the' stopped, 'Quick' lowered
    assert s.count(TermQuery("text", "quick")) == 1
    assert s.count(TermQuery("text", "the")) == 0
    # whitespace override: case preserved, stops kept
    assert s.count(TermQuery("raw", "Quick")) == 1
    assert s.count(TermQuery("raw", "quick")) == 0
    for _ in placement():
        assert {r["doc_id"] for r in s.search(TermQuery("raw", "the"), 5).collect()} == {1}
    assert s.count(TermQuery("raw", "The")) == 1
    # query-time wrapper matches index-time analysis
    q = parse_query("raw:The", default_field="raw", analyzer="simple",
                    tokenized_fields=("text", "raw"),
                    field_analyzers={"raw": "whitespace"})
    assert s.count(q) == 1
