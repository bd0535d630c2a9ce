"""Driver-side term-stats seek: ``MaterializedIndex.lookup_term_stats``
reads the snapshot's term_dict files with Arrow (the TermContext role,
core/index/terms.go:60-120) and must return exactly what the Spark twin
``term_stats(...).collect()`` returns, across the whole index lifecycle;
cold term/boolean/phrase planning then starts no Spark job, and the
snapshot-wide stats memo is only ever filled with finished seeks."""

import glob
import os
import threading

import pyarrow.parquet as pq
import pytest

from golucene_spark.corpus import make_corpus
from golucene_spark.index import CorpusSpec, FieldSpec, MaterializedIndex, MultiIndex
from golucene_spark.index.builder import IndexBuilder
from golucene_spark.index.deletes import delete_docs, update_documents
from golucene_spark.index.merge import merge_segments
from golucene_spark.search import Searcher, parse_query
from golucene_spark.search.mlt import interesting_terms
from golucene_spark.streaming.nrt import incremental_index_batch

MISSING = ["zz-not-a-term", "qqqq"]


def _spec():
    return CorpusSpec(
        text_fields=[FieldSpec("content", "content", True)],
        keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"],
        id_col="doc_id",
        meta_cols=["repo", "path", "lang"],
    )


@pytest.fixture(scope="module")
def rows():
    pdf = make_corpus(160, seed=23, max_tokens=120)
    pdf = pdf.reset_index().rename(columns={"index": "doc_id"})
    return [dict(r) for _, r in pdf.iterrows()]


def _build(spark, rows, ixdir, n=100):
    IndexBuilder(spark, _spec(), analyzer="simple", num_segments=3).build(
        spark.createDataFrame(rows[:n]), ixdir)


def _assert_seek_matches_spark(ix, field):
    terms = [r["term"] for r in
             ix.term_dict.filter(f"field = '{field}'").select("term").distinct().collect()]
    assert terms
    want = {
        r["term"]: {k: v for k, v in r.asDict().items() if k != "term"}
        for r in ix.term_stats(field, terms + MISSING).collect()
    }
    assert ix.lookup_term_stats(field, terms + MISSING) == want
    assert not set(MISSING) & set(want)


def test_seek_matches_spark_across_lifecycle(spark, rows, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, rows, ixdir)

    def check():
        ix = MaterializedIndex(spark, ixdir)
        for field in ("content", "lang"):
            _assert_seek_matches_spark(ix, field)
        return ix

    check()
    delete_docs(spark, ixdir, [3, 17, 42])
    check()
    upd = [dict(r, content="seekmarker " + r["content"]) for r in rows[10:20]]
    update_documents(spark, ixdir, spark.createDataFrame(upd), _spec(),
                     analyzer="simple")
    ix = check()
    assert ix.lookup_term_stats("content", ["seekmarker"])["seekmarker"]["df"] == 10
    incremental_index_batch(spark.createDataFrame(rows[100:130]), 0, ixdir,
                            _spec(), analyzer="simple")
    ix = check()
    segs = sorted({r["segment_id"] for r in ix.term_dict.select("segment_id").distinct().collect()})
    merge_segments(spark, ixdir, segs, expunge_deletes=True)
    ix = check()
    assert ix._dead  # the merged-away segments are filtered, not read


def test_seek_reads_chunks_without_spread_columns(spark, rows, tmp_path):
    """A chunk written before the block-spread columns existed reads
    them as null (Spark's mergeSchema result), whichever file is listed
    first."""
    ixdir = str(tmp_path / "ix")
    IndexBuilder(spark, _spec(), analyzer="simple", num_segments=3).build(
        spark.createDataFrame(rows[:100]), ixdir, num_chunks=2)
    chunk = sorted(glob.glob(os.path.join(ixdir, "term_dict", "chunk=*")))[0]
    files = glob.glob(os.path.join(chunk, "*.parquet"))
    t = pq.ParquetDataset(files).read()
    t = t.drop_columns([c for c in t.column_names
                        if c.startswith(("bmf_", "bdlq_"))])
    for f in glob.glob(os.path.join(chunk, "*")) + glob.glob(os.path.join(chunk, ".*")):
        os.remove(f)
    pq.write_table(t.replace_schema_metadata(None), os.path.join(chunk, "part-old.parquet"))

    ix = MaterializedIndex(spark, ixdir)
    assert "bmf_min" in ix._term_dict_ds.schema.names
    _assert_seek_matches_spark(ix, "content")


def test_open_reader_keeps_its_snapshot(spark, rows, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, rows, ixdir)
    old = MaterializedIndex(spark, ixdir)
    term = "seeknrt"
    before = old.lookup_term_stats("content", ["return", term])
    incremental_index_batch(
        spark.createDataFrame([dict(r, content=f"{term} return {r['content']}")
                               for r in rows[100:110]]),
        0, ixdir, _spec(), analyzer="simple")
    assert old.lookup_term_stats("content", ["return", term]) == before
    assert term not in before
    new = MaterializedIndex(spark, ixdir)
    after = new.lookup_term_stats("content", ["return", term])
    assert after[term]["df"] == 10
    assert after["return"]["df"] == before["return"]["df"] + 10


def test_field_stats_read_at_open(spark, rows, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, rows, ixdir)
    want = {r["field"]: r.asDict()
            for r in spark.read.parquet(os.path.join(ixdir, "field_stats")).collect()}
    assert MaterializedIndex(spark, ixdir)._field_stats == want


def test_cold_search_plans_without_spark_jobs(spark, spark_jobs, rows, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, rows, ixdir)
    ix = MaterializedIndex(spark, ixdir)
    for i, qs in enumerate(["content:return", "content:return AND NOT content:buffer",
                            "content:parse OR content:index", '"return nil"',
                            "lang:go AND content:return"]):
        q = parse_query(qs, default_field="content", analyzer="simple")
        with spark_jobs(f"term-seek-plan-{i}") as jobs:
            frame = Searcher(ix, "bm25").search(q, 5)
        assert jobs == [], qs
        frame.collect()


def test_concurrent_searcher_never_reads_an_in_flight_seek(spark, rows, tmp_path):
    """A Searcher whose seek is still running must not expose df=0
    placeholders to another Searcher on the same snapshot."""
    ixdir = str(tmp_path / "ix")
    _build(spark, rows, ixdir)
    q = parse_query("content:return OR content:buffer", default_field="content",
                    analyzer="simple")
    want = Searcher(MaterializedIndex(spark, ixdir), "bm25").search(q, 5).collect()
    assert want

    ix = MaterializedIndex(spark, ixdir)
    seek = ix.lookup_term_stats
    entered, b_done = threading.Event(), threading.Event()
    calls = []

    def slow_seek(field, terms):
        calls.append(field)
        if len(calls) == 1:  # the first seek stalls until B has finished
            entered.set()
            b_done.wait(60)
        return seek(field, terms)

    ix.lookup_term_stats = slow_seek
    got = {}

    def run(name):
        got[name] = Searcher(ix, "bm25").search(q, 5).collect()

    a = threading.Thread(target=run, args=("a",))
    a.start()
    assert entered.wait(60)
    try:
        run("b")
    finally:
        b_done.set()
        a.join(60)
    assert not a.is_alive()
    assert got["b"] == want
    assert got["a"] == want


def test_failed_seek_caches_nothing(spark, rows, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, rows, ixdir)
    ix = MaterializedIndex(spark, ixdir)
    seek = ix.lookup_term_stats

    def broken(field, terms):
        raise OSError("term_dict unreadable")

    ix.lookup_term_stats = broken
    q = parse_query("content:return", default_field="content", analyzer="simple")
    with pytest.raises(OSError):
        Searcher(ix, "bm25").search(q, 5)
    assert len(ix.snapshot_cache.lru["terms"]) == 0
    ix.lookup_term_stats = seek
    assert Searcher(ix, "bm25").search(q, 5).collect()
    cached = ix.snapshot_cache.get("terms", ("content", "return"),
                                   lambda: pytest.fail("the seek was not cached"))
    assert cached.df > 0


def test_multi_index_and_mlt_use_the_seek(spark, rows, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _build(spark, rows, a)
    IndexBuilder(spark, _spec(), analyzer="simple", num_segments=2).build(
        spark.createDataFrame(rows[100:]), b)
    ia, ib = MaterializedIndex(spark, a), MaterializedIndex(spark, b)
    multi = MultiIndex([ia, ib])
    terms = ["return", "buffer"] + MISSING
    got = multi.lookup_term_stats("content", terms)
    want = {r["term"]: {"df": r["df"], "ttf": r["ttf"]}
            for r in multi.term_stats("content", terms).collect()}
    assert got == want and set(got) == {"return", "buffer"}

    s = Searcher(ia, "bm25")
    sel = interesting_terms(s, "content", "return return buffer zz-not-a-term",
                            analyzer="simple")
    df = ia.lookup_term_stats("content", ["return", "buffer"])
    assert {r["term"]: r["df"] for r in sel} == {t: d["df"] for t, d in df.items()}


def test_seek_memo_stress(spark, rows, tmp_path):
    """More threads than cores seeking overlapping term sets through one
    cold snapshot memo: every answer equals the single-threaded seek."""
    import random
    import sys

    ixdir = str(tmp_path / "ix")
    _build(spark, rows, ixdir)
    ix = MaterializedIndex(spark, ixdir)
    vocab = [r["term"] for r in ix.term_dict.filter("field = 'content'")
             .select("term").distinct().collect()][:60] + MISSING
    want = ix.lookup_term_stats("content", vocab)
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        for _ in range(20):
            pairs = {("content", t) for t in rng.sample(vocab, 8)}
            for (_, t), st in Searcher(ix, "bm25")._seek_terms(pairs).items():
                if st.df != want.get(t, {"df": 0})["df"]:
                    errors.append((t, st.df))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
