"""Index-time field/doc boost (core/document/field.go:16-29) folded into
the norm as boost/sqrt(length) (core/search/search.go:499-507)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from golucene_spark.index import (CorpusSpec, FieldSpec, IndexBuilder, LogicalIndex,
                                  MaterializedIndex)
from golucene_spark.index import smallfloat
from golucene_spark.search import Searcher, TermQuery


def _spec(**kw):
    return CorpusSpec(
        text_fields=[FieldSpec("text", "text", True, **kw)],
        keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"],
        id_col="doc_id",
        meta_cols=["lang"],
    )


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "spark engine spark core spark", "en"),
        (1, "spark engine other words here", "en"),
        (2, "unrelated body of text here", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _scores(spark, docs, **field_kw):
    ix = LogicalIndex(docs, _spec(**field_kw), analyzer="simple",
                      quantize_norms=False)
    s = Searcher(ix, "bm25")
    return {r["doc_id"]: r["score"]
            for r in s.search(TermQuery("text", "spark"), 10).collect()}


def _built_scores(spark, docs, tmp_path, placement, **field_kw):
    """{doc_id: score} of the same search on a built MaterializedIndex,
    checked equal under both top-k placements."""
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, _spec(**field_kw), analyzer="simple", quantize_norms=False,
                 num_segments=1).build(docs, ixdir)
    s = Searcher(MaterializedIndex(spark, ixdir), "bm25")
    runs = [{r["doc_id"]: r["score"] for r in s.search(TermQuery("text", "spark"), 10).collect()}
            for _ in placement()]
    assert runs[0] == pytest.approx(runs[1], rel=1e-12)
    return runs[0]


def test_field_boost_raises_scores(spark, docs, tmp_path, placement):
    base = _scores(spark, docs)
    boosted = _scores(spark, docs, boost=2.0)
    # boost shrinks the decoded length (dl/boost^2), so every score rises
    for d in base:
        assert boosted[d] > base[d]
    # exact BM25 arithmetic: dlq = dl/4 with boost=2
    k1, b = 1.2, 0.75
    n_docs, sum_dl = 3, 14  # "of" in doc 2 is a stop word
    avgdl = sum_dl / n_docs
    idf = np.log(1 + (n_docs - 2 + 0.5) / (2 + 0.5))
    for d, freq, dl in [(0, 3, 5), (1, 1, 5)]:
        want = idf * (k1 + 1.0) * freq / (
            freq + k1 * (1 - b + b * (dl / 4.0) / avgdl))
        assert boosted[d] == pytest.approx(want, rel=1e-12)
    # the same norms read back from a built index
    assert _built_scores(spark, docs, tmp_path, placement, boost=2.0) == pytest.approx(
        boosted, rel=1e-12)


def test_per_doc_boost_col(spark, docs, tmp_path, placement):
    docs_b = docs.withColumn(
        "b", F.when(F.col("doc_id") == 1, F.lit(4.0)).otherwise(F.lit(1.0)))
    base = _scores(spark, docs_b)
    per_doc = _scores(spark, docs_b, boost_col="b")
    assert per_doc[1] > base[1]          # boosted doc rises
    assert per_doc[0] == base[0]         # b=1 docs unchanged
    assert _built_scores(spark, docs_b, tmp_path, placement, boost_col="b") == pytest.approx(
        per_doc, rel=1e-12)
    # effective boost composes: boost * boost_col
    # (0.5 * 4 = 2 -> dl/4 for doc 1; 0.5 * 1 = 0.5 -> dl*4 for others)
    composed = _scores(spark, docs_b, boost=0.5, boost_col="b")
    static2 = _scores(spark, docs_b, boost=2.0)
    assert composed[1] == pytest.approx(static2[1], rel=1e-12)
    assert composed[0] < base[0]


def test_boost_quantized_norm_byte(spark, docs):
    """With quantization on, the boost flows through the byte315 encode:
    norm_byte == byte315(boost/sqrt(dl))."""
    ix = LogicalIndex(docs, _spec(boost=3.0), analyzer="simple",
                      quantize_norms=True)
    rows = ix.doc_stats.filter(F.col("field") == "text").select(
        "doc_id", "length", "norm_byte").collect()
    for r in rows:
        want = int(smallfloat.encode_norm_from_length(
            np.array([r["length"]]), 3.0)[0])
        assert r["norm_byte"] == want


def test_omit_norms_ignores_boost(spark, docs):
    ix = LogicalIndex(docs, _spec(omit_norms=True, boost=5.0),
                      analyzer="simple", quantize_norms=False)
    rows = ix.doc_stats.filter(F.col("field") == "text").collect()
    assert all(r["norm_byte"] == 124 for r in rows)  # encode(1.0)
