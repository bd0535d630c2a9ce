"""Phrase and fuzzy queries under both top-k placements: a selective
PhraseQuery (exact, sloppy, ordered) is answered on the driver by the
Arrow kernel (search/topk.py) with the Spark placement's matcher, and a
FuzzyQuery expands over the snapshot's term_dict with Arrow and lands in
the boolean kernel.  Both must return the Spark placement's hits, through
deletes, updates and merges, for every similarity; a driver answer
starts no Spark job and caches no plan."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from golucene_spark.index import (
    CorpusSpec, FieldSpec, IndexBuilder, LogicalIndex, MaterializedIndex,
)
from golucene_spark.index.deletes import delete_docs, update_documents
from golucene_spark.index.merge import merge_segments
from golucene_spark.search import Searcher, topk
from golucene_spark.search.ast import FuzzyQuery, PhraseQuery
from golucene_spark.search.multiterm import expand_fuzzy, levenshtein

SPEC = CorpusSpec(
    text_fields=[FieldSpec("content", "content", True),
                 FieldSpec("title", "title", True, positions=False, omit_norms=True)],
    keyword_fields=[FieldSpec("lang", "lang", False)],
    key_cols=["doc_id"], id_col="doc_id", meta_cols=["lang"],
)
# ASCII words plus multi-byte neighbours (whitespace analysis keeps them
# whole): fuzzy distances must count code points, not UTF-8 bytes
WORDS = [f"w{i}" for i in range(24)] + ["café", "cafe", "cafés", "caffè",
                                        "漢字", "漢子", "汉字", "字"]

PHRASES = {
    "exact": PhraseQuery("content", ("w0", "w1")),
    "exact3": PhraseQuery("content", ("w0", "w1", "w2")),
    "slop1": PhraseQuery("content", ("w1", "w0"), slop=1),
    "slop2": PhraseQuery("content", ("w0", "w2"), boost=2.0, slop=2),
    "in_order": PhraseQuery("content", ("w0", "w1", "w3"), slop=2, in_order=True),
    "repeated": PhraseQuery("content", ("w0", "w1", "w0")),
    "repeated_sloppy": PhraseQuery("content", ("w0", "w1", "w0"), slop=1),
    "multibyte": PhraseQuery("content", ("café", "w0")),
    "absent_term": PhraseQuery("content", ("w0", "nosuchterm")),
    "no_positions": PhraseQuery("title", ("w0", "w1")),
}
FUZZY = {
    "edit1": FuzzyQuery("content", "w1", 1),
    "edit2": FuzzyQuery("content", "w12", 2),
    "prefix": FuzzyQuery("content", "w12", 2, prefix_length=2),
    "boosted": FuzzyQuery("content", "w3", 1, boost=3.0),
    "cafe": FuzzyQuery("content", "café", 1),
    "cjk": FuzzyQuery("content", "漢字", 1),
    "empty": FuzzyQuery("content", "zzzzzzzz", 1),
}


def _rows(n, seed):
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(WORDS) + 1) ** 0.7
    p /= p.sum()
    return [
        (int(i), " ".join(rng.choice(WORDS, size=int(rng.integers(4, 40)), p=p)),
         " ".join(rng.choice(WORDS[:4], size=int(rng.integers(2, 5)))),
         ["en", "de"][int(rng.integers(2))])
        for i in range(n)
    ]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, content string, title string, lang string")


def _build(spark, ixdir, rows, quantize=True):
    IndexBuilder(spark, SPEC, analyzer="whitespace", quantize_norms=quantize,
                 num_segments=3, index_positions=True).build(_frame(spark, rows), ixdir)


@pytest.fixture(scope="module", params=[True, False], ids=["quantized", "exact_norms"])
def ix(spark, tmp_path_factory, request):
    ixdir = str(tmp_path_factory.mktemp("driver_phrase") / "ix")
    _build(spark, ixdir, _rows(200, 3), quantize=request.param)
    return MaterializedIndex(spark, ixdir)


def _hits(ix, sim, q, k):
    return [(r["doc_id"], r["score"]) for r in Searcher(ix, sim).search(q, k).collect()]


def assert_placements_agree(ix, sim, q, placement, k=20):
    """The same top-k (ids, and scores to 1e-9) under both placements;
    the driver placement must really answer on the driver."""
    got = {}
    for where in placement():
        assert (topk.driver_search(Searcher(ix, sim), q, k) is not None) == (where == "driver")
        got[where] = _hits(ix, sim, q, k)
    a, b = got["driver"], got["spark"]
    assert [d for d, _ in a] == [d for d, _ in b], q
    for (_, x), (_, y) in zip(a, b):
        assert x == pytest.approx(y, rel=1e-9, abs=0), q
    return a


@pytest.mark.parametrize("sim", ["bm25", "classic", "lm_dirichlet"])
def test_phrase_placements_agree(ix, sim, placement):
    for name, q in PHRASES.items():
        hits = assert_placements_agree(ix, sim, q, placement)
        assert bool(hits) == (name not in ("absent_term", "no_positions")), name


@pytest.mark.parametrize("sim", ["bm25", "classic", "lm_dirichlet"])
def test_fuzzy_placements_agree(ix, sim, placement):
    for name, q in FUZZY.items():
        hits = assert_placements_agree(ix, sim, q, placement)
        assert bool(hits) == (name != "empty"), name


def test_levenshtein_matches_spark_on_code_points(spark, ix):
    terms = sorted({w for r in _rows(200, 3) for w in r[1].split()}) + ["", "漢字漢字", "ab"]
    for q in ("café", "漢字", "w1", "cafés", ""):
        want = [r["d"] for r in spark.createDataFrame([(t,) for t in terms], "t string")
                .select(F.levenshtein("t", F.lit(q)).alias("d")).collect()]
        assert levenshtein(terms, q).tolist() == want, q
    # café -> cafe is one substitution in code points, two in UTF-8 bytes
    assert levenshtein(["cafe", "caffè"], "café").tolist() == [1, 2]


def test_fuzzy_expansion_equals_the_spark_scan(spark, ix):
    """On a MaterializedIndex the candidates come from an Arrow read of
    term_dict; on a LogicalIndex of the same docs, from its TF frame.
    Same expansions (terms, order, boosts), same maxClauseCount error."""
    logical = LogicalIndex(_frame(spark, _rows(200, 3)), SPEC, analyzer="whitespace")
    for q in FUZZY.values():
        args = (q.field, q.term, q.max_edits, q.boost)
        kw = {"prefix_length": q.prefix_length}
        assert expand_fuzzy(ix, *args, **kw) == expand_fuzzy(logical, *args, **kw), q
    assert len(expand_fuzzy(ix, "content", "w1", 2).clauses) > 3
    for index in (ix, logical):
        with pytest.raises(ValueError, match="maxClauseCount is set to 3"):
            expand_fuzzy(index, "content", "w1", 2, max_terms=3)


def test_lifecycle_placements_agree(spark, tmp_path, placement):
    """After delete_docs, update_documents and a non-expunging merge of
    the updated segments, both placements see the same live positions
    and the same dictionary."""
    ixdir = str(tmp_path / "ix")
    rows = _rows(150, 8)
    _build(spark, ixdir, rows)
    queries = [PHRASES[n] for n in ("exact", "slop2", "in_order", "repeated")] + [
        FUZZY["edit1"], FUZZY["cafe"]]

    def check():
        ix = MaterializedIndex(spark, ixdir)
        for sim in ("bm25", "classic", "lm_dirichlet"):
            for q in queries:
                assert_placements_agree(ix, sim, q, placement, k=200)
        return ix

    delete_docs(spark, ixdir, [r[0] for r in rows[::6]])
    check()
    upd = [(d, "w0 w1 w0 w1 café w9 " + c, t, lang) for d, c, t, lang in rows[1:70:3]]
    update_documents(spark, ixdir, _frame(spark, upd), SPEC, analyzer="whitespace")
    ix = check()
    segs = sorted(int(r["segment_id"]) for r in
                  ix.term_dict.select("segment_id").distinct().collect())
    merge_segments(spark, ixdir, segs[-2:])
    check()


def test_driver_phrase_and_fuzzy_start_no_spark_job(spark, spark_jobs, ix):
    fresh = MaterializedIndex(spark, ix.index_dir)  # cold expansions and stats
    plans = len(fresh.snapshot_cache.lru["plan"])
    for i, q in enumerate([PHRASES["exact"], PHRASES["slop2"], PHRASES["in_order"],
                           FUZZY["edit2"], FUZZY["cafe"]]):
        with spark_jobs(f"driver-expand-{i}-{fresh.quantized}") as jobs:
            rows = Searcher(fresh, "bm25").search(q, 10).collect()
        assert rows and jobs == [], q
    assert len(fresh.snapshot_cache.lru["plan"]) == plans
    assert len(fresh.snapshot_cache.lru["expand"]) == 2
