"""Snapshot-scoped caching semantics: term stats, multi-term expansions,
prepared plans and collection stats live in the index's SnapshotCache
(shared by every Searcher over the snapshot, bounded per kind), and
mutation paths drop them by re-opening the index."""

import random
import shutil
import sys
import threading

import pytest

from golucene_spark.index import (CorpusSpec, IndexBuilder, LogicalIndex,
                                  MaterializedIndex, MultiIndex)
from golucene_spark.search import Searcher, cache, parse_query

QUERIES = ["text:data", "text:data OR text:table", "text:data AND text:query",
           "text:da*", "text:query AND NOT text:table", "text:model~1",
           "text:table OR text:model OR text:join"]


@pytest.fixture(scope="module")
def mix(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ixdir = str(tmp_path_factory.mktemp("memo_ix") / "ix")
    shutil.rmtree(ixdir, ignore_errors=True)
    IndexBuilder(spark, CorpusSpec.documents(), num_segments=4).build(docs, ixdir)
    return MaterializedIndex(spark, ixdir)


def _q(text):
    return parse_query(text, default_field="text", analyzer="standard")


def _rows(frame):
    return [(r.doc_id, r.score) for r in frame.collect()]


def _stats(ix):
    return {kind: {"entries": len(lru), "hits": lru.hits, "misses": lru.misses,
                   "evictions": lru.evictions}
            for kind, lru in ix.snapshot_cache.lru.items()}


def _entries(ix, kind):
    return len(ix.snapshot_cache.lru[kind])


def test_fresh_searchers_share_stats_memo(spark, mix):
    q = _q("text:data")
    s1 = Searcher(mix, "bm25")
    r1 = s1.search(q, 5).collect()
    assert mix.snapshot_cache.get("terms", ("text", "data"),
                                  lambda: pytest.fail("the seek was not cached"))
    s2 = Searcher(mix, "bm25")  # fresh searcher, same snapshot
    assert s2.cache is mix.snapshot_cache
    assert s2.search(q, 5).collect() == r1


def test_expansion_memo_hit_and_key_separation(spark, mix):
    s = Searcher(mix, "bm25")
    q = _q("text:da*")
    r1 = s.search(q, 5).collect()
    n = _entries(mix, "expand")
    assert n >= 1
    # same pattern again: no new memo entry, same results
    assert Searcher(mix, "bm25").search(q, 5).collect() == r1
    assert _entries(mix, "expand") == n
    # different boost is a different expansion (boost folds into clauses)
    rb = Searcher(mix, "bm25").search(_q("text:da*^2"), 5).collect()
    assert _entries(mix, "expand") == n + 1
    assert {r.doc_id for r in rb} == {r.doc_id for r in r1}
    for a, b in zip(sorted(r1, key=lambda r: r.doc_id),
                    sorted(rb, key=lambda r: r.doc_id)):
        assert b.score == pytest.approx(2.0 * a.score, rel=1e-12)


def test_reopen_drops_memos(spark, mix):
    """Mutation paths (deletes/updates/NRT/merge) re-open the index; a
    re-opened snapshot must start with an empty cache."""
    Searcher(mix, "bm25").search(_q("text:data"), 1).collect()
    assert _entries(mix, "terms")
    reopened = MaterializedIndex(spark, mix.index_dir)
    assert reopened.snapshot_cache is not mix.snapshot_cache
    assert all(st["entries"] == 0 for st in _stats(reopened).values())


def test_plan_memo_reuses_frames_and_keys_correctly(spark, mix):
    """The prepared-plan memo (r6): a repeated (query, k, similarity)
    returns the SAME immutable DataFrame (no rebuilt plan), every
    collect recomputes identical rows, and distinct k / similarity /
    boost produce distinct plans."""
    q = _q("text:data OR text:table")
    f1 = Searcher(mix, "bm25").search(q, 5)
    r1 = [(r.doc_id, r.score) for r in f1.collect()]
    f2 = Searcher(mix, "bm25").search(q, 5)  # fresh searcher, same snapshot
    assert f2 is f1  # memo hit: the very same DataFrame object
    assert [(r.doc_id, r.score) for r in f2.collect()] == r1
    assert Searcher(mix, "bm25").search(q, 3) is not f1       # k differs
    assert Searcher(mix, "classic").search(q, 5) is not f1    # sim differs
    qb = _q("text:data^2 OR text:table")
    assert Searcher(mix, "bm25").search(qb, 5) is not f1      # boost differs
    # custom-k1 BM25 must not collide with the default-parameter plan
    from golucene_spark.search.similarity import BM25Similarity

    fk = Searcher(mix, BM25Similarity(k1=0.5)).search(q, 5)
    assert fk is not f1


def test_eviction_at_capacity_keeps_answers(spark, mix, monkeypatch):
    """At capacity 2 every kind evicts: answers equal an uncached run (a
    freshly opened reader per query), no kind holds more than 2
    entries, and each kind's entries are its misses less its evictions."""
    want = [_rows(Searcher(MaterializedIndex(spark, mix.index_dir)).search(_q(t), 5))
            for t in QUERIES]
    monkeypatch.setattr(cache, "SNAPSHOT_CAPACITY", 2)
    ix = MaterializedIndex(spark, mix.index_dir)
    for _ in range(2):
        assert [_rows(Searcher(ix).search(_q(t), 5)) for t in QUERIES] == want
    stats = _stats(ix)
    for kind, st in stats.items():
        assert st["entries"] <= 2, kind
        assert st["entries"] == st["misses"] - st["evictions"], kind
    assert stats["plan"]["evictions"] > 0 and stats["terms"]["evictions"] > 0


def test_seek_over_capacity_returns_every_term(spark, mix, monkeypatch):
    monkeypatch.setattr(cache, "SNAPSHOT_CAPACITY", 2)
    ix = MaterializedIndex(spark, mix.index_dir)
    terms = ["data", "table", "query", "model", "join", "zz-not-a-term"]
    want = ix.lookup_term_stats("text", terms)
    pairs = {("text", t) for t in terms}
    for _ in range(2):  # cold, then with 2 of the terms cached
        got = Searcher(ix)._seek_terms(pairs)
        assert set(got) == pairs
        assert {t: st.df for (_, t), st in got.items()} == {
            t: want.get(t, {"df": 0})["df"] for t in terms}
    assert _entries(ix, "terms") == 2


def test_collection_stats_served_from_cache(spark, mix, spark_jobs):
    rows = [(i, f"alpha beta w{i % 3}", "en", "web") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    lix = LogicalIndex(df, CorpusSpec.documents(), analyzer="simple")
    first = lix.collection_stats_row("text")
    with spark_jobs("snapshot-cache-cstats") as jobs:
        assert lix.collection_stats_row("text") is first
        assert Searcher(lix)._collection_stats("text")["max_doc"] == 12
    assert jobs == []
    assert _stats(lix)["collection"] == {
        "entries": 1, "hits": 2, "misses": 1, "evictions": 0}

    multi = MultiIndex([lix, mix])
    row = multi.collection_stats_row("text")
    assert row["max_doc"] == 12 + mix.collection_stats_row("text")["max_doc"]
    assert multi.collection_stats_row("text") is row
    assert _stats(multi)["collection"]["hits"] == 1


def test_plan_and_seek_stress_at_capacity(spark, mix, monkeypatch):
    """8 threads plan and seek through one cold reader whose cache holds
    2 entries per kind, so entries are evicted while other threads read
    them: no exception, and every answer equals the single-threaded one."""
    ref = Searcher(MaterializedIndex(spark, mix.index_dir))
    want_rows = {t: _rows(ref.search(_q(t), 5)) for t in QUERIES}
    vocab = ["data", "table", "query", "model", "join", "batch", "zz-not-a-term"]
    want_df = {t: st.df for (_, t), st in ref._seek_terms({("text", t) for t in vocab}).items()}
    monkeypatch.setattr(cache, "SNAPSHOT_CAPACITY", 2)
    ix = MaterializedIndex(spark, mix.index_dir)
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for i in range(12):
                if i % 3 == 0:
                    t = rng.choice(QUERIES)
                    if _rows(Searcher(ix).search(_q(t), 5)) != want_rows[t]:
                        errors.append(t)
                    continue
                pairs = {("text", t) for t in rng.sample(vocab, 4)}
                for (_, t), st in Searcher(ix)._seek_terms(pairs).items():
                    if st.df != want_df[t]:
                        errors.append((t, st.df))
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert all(st["entries"] <= 2 for st in _stats(ix).values())
