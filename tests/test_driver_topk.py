"""The two placements of the top-k collector agree: a selective term or
boolean query answered on the driver (search/topk.py) returns the same
hits as the Spark placement (collect_topk over score_frame), for every
kernel shape, similarity and index option, through deletes, updates
and merges; a driver answer starts no Spark job; page 1 from the driver
and later pages from Spark's search_after tile the Spark ranking."""

import numpy as np
import pytest

from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder, MaterializedIndex
from golucene_spark.index.deletes import delete_docs, update_documents
from golucene_spark.index.merge import merge_segments
from golucene_spark.search import Searcher, parse_query, topk
from golucene_spark.search.ast import BooleanClause, BooleanQuery, Occur, TermQuery
from golucene_spark.search.similarity import BM25Similarity

SPEC = CorpusSpec(
    text_fields=[FieldSpec("content", "content", True),
                 FieldSpec("title", "title", True, omit_norms=True)],
    keyword_fields=[FieldSpec("lang", "lang", False)],
    key_cols=["doc_id"], id_col="doc_id", meta_cols=["lang"],
)
WORDS = [f"w{i}" for i in range(40)]

# one query string per kernel shape
SHAPES = {
    "term": "content:w1",
    "and2": "content:w0 AND content:w3",
    "or2": "content:w2 OR content:w5",
    "and_not": "content:w0 AND NOT content:w4",
    "or16": " OR ".join(f"content:w{i}" for i in range(0, 32, 2)),
    "nested": "content:w0 AND (content:w6 OR content:w9)",
    "lang_and": "lang:de AND content:w2",
    "duplicate": "content:w1 OR content:w1 OR content:w7",
    "nested_boosts": "(content:w3^2 OR content:w8^0.5)^3 AND content:w1^1.5",
    "omit_norms": "title:w0 OR title:w2",
    "not_group": "content:w1 AND NOT (content:w2 OR content:w3)",
}


def _rows(n, seed):
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(WORDS) + 1)
    p /= p.sum()
    return [
        (int(i), " ".join(rng.choice(WORDS, size=int(rng.integers(3, 30)), p=p)),
         " ".join(rng.choice(WORDS[:6], size=int(rng.integers(1, 4)))),
         ["en", "de", "fr"][int(rng.integers(3))])
        for i in range(n)
    ]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, content string, title string, lang string")


def _build(spark, ixdir, quantize, rows, **kw):
    IndexBuilder(spark, SPEC, analyzer="simple", quantize_norms=quantize,
                 num_segments=3, **kw).build(_frame(spark, rows), ixdir)


@pytest.fixture(scope="module", params=[True, False],
                ids=["quantized_range_layout", "exact_norms"])
def ix(spark, tmp_path_factory, request):
    """Quantized norms with file pruning by term range, and exact norms
    with full scans."""
    ixdir = str(tmp_path_factory.mktemp("driver_topk") / "ix")
    _build(spark, ixdir, request.param, _rows(240, 5), range_layout=request.param,
           range_partitions=4 if request.param else None)
    ix = MaterializedIndex(spark, ixdir)
    assert ix._prune_files == request.param
    return ix


def _search(ix, sim, q, k, driver: bool):
    old = topk.DRIVER_MAX_DF
    topk.DRIVER_MAX_DF = 1 << 62 if driver else -1
    try:
        return [(r["doc_id"], r["score"]) for r in Searcher(ix, sim).search(q, k).collect()]
    finally:
        topk.DRIVER_MAX_DF = old


def assert_same_topk(ix, sim, q, k=10):
    a = _search(ix, sim, q, k, driver=True)
    b = _search(ix, sim, q, k, driver=False)
    assert [d for d, _ in a] == [d for d, _ in b], q
    for (_, x), (_, y) in zip(a, b):
        assert x == pytest.approx(y, rel=1e-9, abs=0), q
    return a


def _q(text):
    return parse_query(text, default_field="content", analyzer="simple")


@pytest.mark.parametrize("sim", ["bm25", "classic", "lm_dirichlet"])
def test_placements_agree_on_every_shape(ix, sim):
    for shape, text in SHAPES.items():
        assert assert_same_topk(ix, sim, _q(text), k=15), shape
    msm = BooleanQuery(tuple(BooleanClause(TermQuery("content", t), Occur.SHOULD)
                             for t in ("w1", "w2", "w3", "w5")), minimum_should_match=2)
    assert assert_same_topk(ix, sim, msm)
    # a miss, a missing MUST and a pure negation answer nothing on both
    for text in ("content:nosuchterm", "content:w0 AND content:nosuchterm",
                 "NOT content:w0"):
        assert assert_same_topk(ix, sim, _q(text)) == []


def test_placements_agree_through_the_lifecycle(spark, tmp_path):
    """After delete_docs (full deletes), update_documents (supersedes), a
    non-expunging merge of the updated segments and a second update
    (merged-origin exact-segment tombstones), both placements see the
    same live postings."""
    ixdir = str(tmp_path / "ix")
    rows = _rows(150, 9)
    _build(spark, ixdir, True, rows)
    queries = [_q(SHAPES[s]) for s in ("term", "or2", "nested", "lang_and", "and_not")]

    def check():
        ix = MaterializedIndex(spark, ixdir)
        for sim in ("bm25", "classic"):
            for q in queries:
                assert_same_topk(ix, sim, q, k=200)
        return ix

    delete_docs(spark, ixdir, [r[0] for r in rows[::7]])
    check()
    upd = [(d, "w1 w1 w2 " + c, t, lang) for d, c, t, lang in rows[1:60:4]]
    update_documents(spark, ixdir, _frame(spark, upd), SPEC, analyzer="simple")
    ix = check()
    segs = sorted(int(r["segment_id"]) for r in
                  ix.term_dict.select("segment_id").distinct().collect())
    merge_segments(spark, ixdir, segs)
    check()
    upd = [(d, "w3 w0 " + c, t, lang) for d, c, t, lang in rows[2:90:5]]
    update_documents(spark, ixdir, _frame(spark, upd), SPEC, analyzer="simple")
    ix = check()
    assert ix._tomb_table.column("exact_segment").null_count < ix._tomb_table.num_rows


def test_driver_search_starts_no_spark_job(spark, spark_jobs, ix):
    plans = len(ix.snapshot_cache.lru["plan"])
    for i, text in enumerate(SHAPES.values()):
        with spark_jobs(f"driver-topk-{i}-{ix.quantized}") as jobs:
            rows = Searcher(ix, "bm25").search(_q(text), 10).collect()
        assert rows and jobs == [], text
    assert len(ix.snapshot_cache.lru["plan"]) == plans  # nothing cached


def test_query_over_the_constant_goes_to_spark(spark, spark_jobs, ix, monkeypatch):
    q = _q(SHAPES["or2"])
    s = Searcher(ix, "bm25")
    df = sum(st.df for st in s._term_stats(q).values())
    monkeypatch.setattr(topk, "DRIVER_MAX_DF", df)
    assert topk.driver_search(s, q, 10) is not None
    monkeypatch.setattr(topk, "DRIVER_MAX_DF", df - 1)
    assert topk.driver_search(s, q, 10) is None
    with spark_jobs(f"spark-topk-{ix.quantized}") as jobs:
        s.search(q, 10).collect()
    assert jobs


def _boost_landing_on(idf, target):
    """A boost b with (idf * b * 1.0) * 1e6 == target exactly (BM25 with
    k1=0 scores idf * boost for freq 1)."""
    b = target / 1e6 / idf
    for _ in range(4096):
        if (idf * b * 1.0) * 1e6 == target:
            return b
        b = np.nextafter(b, np.inf)
    raise AssertionError("no boost lands on the target")


def test_driver_page_then_spark_pages_tile_the_spark_ranking(spark, tmp_path):
    """Two distinct scores in ONE _e6 bucket, the lower landing exactly
    on .5 (HALF_UP rounds it up into the bucket; half-even would not):
    the collector orders the bucket by doc_id alone, so page 1 from the
    driver and later pages from Spark's search_after must cut it where
    the Spark-only pages do."""
    rows = [(i, "alpha pad" if i % 2 == 0 else "gamma pad", "t", "en") for i in range(24)]
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, False, rows)
    ix = MaterializedIndex(spark, ixdir)
    sim = BM25Similarity(k1=0.0)
    s = Searcher(ix, sim)
    cs = s._collection_stats("content")
    st = s._seek_terms({("content", "alpha"), ("content", "gamma")})
    b1 = _boost_landing_on(sim.idf(st[("content", "alpha")].df, cs["max_doc"]), 123456.5)
    b2 = _boost_landing_on(sim.idf(st[("content", "gamma")].df, cs["max_doc"]), 123456.75)
    q = BooleanQuery((BooleanClause(TermQuery("content", "alpha", b1), Occur.SHOULD),
                      BooleanClause(TermQuery("content", "gamma", b2), Occur.SHOULD)))

    def pages(first_driver):
        out, after = [], None
        while True:
            if after is None:
                page = _search(ix, sim, q, 5, driver=first_driver)
            else:
                page = [(r["doc_id"], r["score"]) for r in s.search_after(q, after, 5).collect()]
            if not page:
                return out
            out.extend(page)
            after = (page[-1][1], page[-1][0])

    spark_only = pages(False)
    assert sorted({sc * 1e6 for _, sc in spark_only}) == [123456.5, 123456.75]
    assert [d for d, _ in spark_only] == list(range(24))  # one bucket, doc order
    assert pages(True) == spark_only
