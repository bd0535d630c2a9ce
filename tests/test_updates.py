"""IndexWriter.updateDocument semantics: new segment + supersede
tombstones (before_segment), readers see exactly the newest version."""

import pytest
from pyspark.sql import functions as F

from golucene_spark.index import CorpusSpec, IndexBuilder, MaterializedIndex
from golucene_spark.index.deletes import delete_docs, update_documents
from golucene_spark.search import Searcher, TermQuery


@pytest.fixture()
def uix(spark, tmp_path):
    rows = [
        (0, "alpha original text", "en", "web"),
        (1, "beta original text", "en", "web"),
        (2, "gamma other text", "de", "book"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, CorpusSpec.documents(), analyzer="simple",
                 quantize_norms=False, num_segments=2).build(df, ixdir)
    return ixdir


def test_update_replaces_version(spark, uix, placement):
    new = spark.createDataFrame(
        [(1, "beta replaced contents", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    rec = update_documents(spark, uix, new, CorpusSpec.documents(), analyzer="simple",
                           quantize_norms=False)
    assert rec["kind"] == "update" and rec["n_docs"] == 1
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    # old content no longer matches doc 1; new content does
    for _ in placement():
        assert {r["doc_id"] for r in s.search(TermQuery("text", "original"), 10).collect()} == {0}
        assert {r["doc_id"] for r in s.search(TermQuery("text", "replaced"), 10).collect()} == {1}
    # other docs untouched
    assert s.count(TermQuery("text", "gamma")) == 1
    # document() returns the newest stored version
    ix = MaterializedIndex(spark, uix)
    assert ix.document(1) is not None


def test_update_then_delete_and_second_update(spark, uix):
    spec = CorpusSpec.documents()
    v2 = spark.createDataFrame([(0, "alpha v2", "en", "web")],
                               "doc_id long, text string, lang string, source string")
    update_documents(spark, uix, v2, spec, analyzer="simple", quantize_norms=False)
    v3 = spark.createDataFrame([(0, "alpha v3 final", "en", "web")],
                               "doc_id long, text string, lang string, source string")
    update_documents(spark, uix, v3, spec, analyzer="simple", quantize_norms=False)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    assert s.count(TermQuery("text", "v2")) == 0
    assert s.count(TermQuery("text", "final")) == 1
    # a plain delete kills every version incl. the newest
    delete_docs(spark, uix, [0])
    s2 = Searcher(MaterializedIndex(spark, uix), "bm25")
    assert s2.count(TermQuery("text", "final")) == 0
    assert MaterializedIndex(spark, uix).document(0) is None


def test_update_facets_and_wand_see_new_version(spark, uix, placement):
    from golucene_spark.search import facet_counts
    from golucene_spark.search.wand import wand_topk

    spec = CorpusSpec.documents()
    new = spark.createDataFrame([(2, "gamma moved", "fr", "web")],
                                "doc_id long, text string, lang string, source string")
    update_documents(spark, uix, new, spec, analyzer="simple", quantize_norms=False)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    counts = {r["value"]: r["count"] for r in
              facet_counts(s, TermQuery("text", "text"), "lang").collect()}
    # doc2's old (de) keyword version is superseded; its new version
    # doesn't match 'text' anymore
    assert counts == {"en": 2}
    for _ in placement():
        hits = {r["doc_id"] for r in wand_topk(s, TermQuery("text", "gamma"), 10).collect()}
        assert hits == {2}


def test_update_hydration_no_duplicates(spark, uix):
    spec = CorpusSpec.documents()
    new = spark.createDataFrame([(1, "beta replaced text", "fr", "book")],
                                "doc_id long, text string, lang string, source string")
    update_documents(spark, uix, new, spec, analyzer="simple", quantize_norms=False)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    total, top = s.search_with_total(TermQuery("text", "text"), 10, hydrate=True)
    rows = top.collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)) == total  # one row per hit
    # doc 1's hydrated meta is the NEW version
    meta1 = [r for r in rows if r["doc_id"] == 1][0]
    assert (meta1["lang"], meta1["source"]) == ("fr", "book")
    # sorted + grouped paths dedupe too
    srt = s.search_sorted(TermQuery("text", "text"), [("source", True)], k=10).collect()
    assert len([r["doc_id"] for r in srt]) == len({r["doc_id"] for r in srt})
    from golucene_spark.search import group_search
    grp = group_search(s, TermQuery("text", "text"), "lang").collect()
    assert len({(r["group"], r["doc_id"]) for r in grp}) == len(grp)


def test_plain_merge_does_not_resurrect_updated_docs(spark, uix, placement):
    """ADVICE r2 (high): plain merge relabels rows to a fresh segment id
    ABOVE every update tombstone's before_segment, which used to
    resurrect superseded versions.  The non-expunge path must apply
    segment-scoped tombstones before relabeling."""
    from golucene_spark.index.merge import merge_segments

    spec = CorpusSpec.documents()
    new = spark.createDataFrame(
        [(1, "beta replaced contents", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    update_documents(spark, uix, new, spec, analyzer="simple", quantize_norms=False)
    ix = MaterializedIndex(spark, uix)
    segs = sorted(
        r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()
    )
    # merge ONLY the original segments (the ones holding the stale v1)
    old_segs = [s for s in segs if s < 1_000_000]
    assert len(old_segs) >= 2
    merge_segments(spark, uix, old_segs)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    # stale version must stay dead; live version must survive
    for _ in placement():
        assert {r["doc_id"] for r in s.search(TermQuery("text", "original"), 10).collect()} == {0}
        assert {r["doc_id"] for r in s.search(TermQuery("text", "replaced"), 10).collect()} == {1}
    # plain deletes still apply to the merged segment afterwards
    delete_docs(spark, uix, [0])
    s2 = Searcher(MaterializedIndex(spark, uix), "bm25")
    assert s2.count(TermQuery("text", "original")) == 0


def test_plain_merge_all_segments_with_update(spark, uix, placement):
    """Merging old + update segments together must also keep only the
    live version."""
    from golucene_spark.index.merge import merge_segments

    spec = CorpusSpec.documents()
    new = spark.createDataFrame(
        [(1, "beta replaced contents", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    update_documents(spark, uix, new, spec, analyzer="simple", quantize_norms=False)
    ix = MaterializedIndex(spark, uix)
    segs = sorted(
        r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()
    )
    merge_segments(spark, uix, segs)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    for _ in placement():
        assert {r["doc_id"] for r in s.search(TermQuery("text", "original"), 10).collect()} == {0}
        assert {r["doc_id"] for r in s.search(TermQuery("text", "replaced"), 10).collect()} == {1}
    assert s.count(TermQuery("text", "gamma")) == 1


def test_merge_then_update_supersedes(spark, uix, placement):
    """ADVICE r3 (high): merge FIRST, update AFTER.  Merged segments sit
    at MERGE_ID_BASE (10M+) which is never < a later update tombstone's
    before_segment (~2M+epoch); the scoped tombstone must be translated
    through merged_from_segments so the stale version inside the merged
    segment dies."""
    from golucene_spark.index.merge import merge_segments

    spec = CorpusSpec.documents()
    ix = MaterializedIndex(spark, uix)
    segs = sorted(
        r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()
    )
    merge_segments(spark, uix, segs)
    new = spark.createDataFrame(
        [(1, "beta replaced contents", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    update_documents(spark, uix, new, spec, analyzer="simple", quantize_norms=False)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    # exactly ONE live version of doc 1: old content dead, new content live
    for _ in placement():
        assert {r["doc_id"] for r in s.search(TermQuery("text", "original"), 10).collect()} == {0}
        assert {r["doc_id"] for r in s.search(TermQuery("text", "replaced"), 10).collect()} == {1}
    assert s.count(TermQuery("text", "beta")) == 1  # not two live versions
    assert s.count(TermQuery("text", "gamma")) == 1


def test_merge_of_merge_then_update(spark, uix, placement):
    """Nested merges: tombstone translation must expand merged inputs
    transitively, and a second merge containing a prior merge must route
    through the scoped-expunge path (effective-id comparison)."""
    from golucene_spark.index.merge import merge_segments

    spec = CorpusSpec.documents()
    ix = MaterializedIndex(spark, uix)
    segs = sorted(
        r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()
    )
    merge_segments(spark, uix, segs)  # M1 = merge of all base segments
    # update doc 1 AFTER the first merge
    new = spark.createDataFrame(
        [(1, "beta replaced contents", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    update_documents(spark, uix, new, spec, analyzer="simple", quantize_norms=False)
    # second merge: M1 (stale v1 inside) + the update segment together
    ix2 = MaterializedIndex(spark, uix)
    segs2 = sorted(
        r["segment_id"] for r in ix2.term_dict.select("segment_id").distinct().collect()
    )
    assert any(s >= 10_000_000 for s in segs2)
    merge_segments(spark, uix, segs2)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    for _ in placement():
        assert {r["doc_id"] for r in s.search(TermQuery("text", "replaced"), 10).collect()} == {1}
    assert s.count(TermQuery("text", "original")) == 1  # only doc 0's
    assert s.count(TermQuery("text", "beta")) == 1
    # and a THIRD update after the nested merge still supersedes
    v3 = spark.createDataFrame(
        [(1, "beta final form", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    update_documents(spark, uix, v3, spec, analyzer="simple", quantize_norms=False)
    s3 = Searcher(MaterializedIndex(spark, uix), "bm25")
    assert s3.count(TermQuery("text", "replaced")) == 0
    for _ in placement():
        assert {r["doc_id"] for r in s3.search(TermQuery("text", "final"), 10).collect()} == {1}
    assert s3.count(TermQuery("text", "beta")) == 1


def test_expunge_merge_then_update(spark, uix, placement):
    """Same direction through the expunge path: physically merged
    segment, then an update — the update must win."""
    from golucene_spark.index.merge import merge_segments

    spec = CorpusSpec.documents()
    ix = MaterializedIndex(spark, uix)
    segs = sorted(
        r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()
    )
    merge_segments(spark, uix, segs, expunge_deletes=True)
    new = spark.createDataFrame(
        [(1, "beta replaced contents", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    update_documents(spark, uix, new, spec, analyzer="simple", quantize_norms=False)
    s = Searcher(MaterializedIndex(spark, uix), "bm25")
    for _ in placement():
        assert {r["doc_id"] for r in s.search(TermQuery("text", "replaced"), 10).collect()} == {1}
    assert s.count(TermQuery("text", "beta")) == 1
