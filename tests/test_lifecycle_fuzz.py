"""Index-lifecycle interaction fuzz: a seeded random sequence of every
mutating operation the engine supports — NRT adds, updateDocuments,
delete-by-id, delete-by-query, tiered merges — with soundness
invariants asserted after EVERY step, ending in an expunge-merge whose
scores must EXACTLY equal a fresh index built from the surviving live
docs (the reference's semantics: df reflects tombstoned docs until
they are physically expunged, so only the expunged end state is
score-comparable to a clean rebuild).

Each operation is individually gate/pytest-covered; this test exists
for their INTERACTIONS (merge-after-update-after-NRT ordering,
tombstone translation through merge lineage, segment-id namespacing),
which no single-op test composes."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from golucene_spark.corpus import make_corpus
from golucene_spark.index import CorpusSpec, FieldSpec, MaterializedIndex, verify_index
from golucene_spark.index.builder import IndexBuilder, dead_segments
from golucene_spark.index.deletes import delete_docs, delete_by_query, update_documents
from golucene_spark.index.merge import merge_segments
from golucene_spark.search import Searcher, parse_query
from golucene_spark.search.ast import MatchAllQuery, PhraseQuery, TermQuery
from golucene_spark.streaming.nrt import incremental_index_batch


def _spec():
    return CorpusSpec(
        text_fields=[FieldSpec("content", "content", True)],
        keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"],
        id_col="doc_id",
        meta_cols=["repo", "path", "lang"],
    )


def _live_ids(searcher) -> set[int]:
    return {
        r["doc_id"]
        for r in searcher.search(MatchAllQuery(), k=100000).collect()
    }


def _segments(spark, ixdir) -> list[int]:
    ix = MaterializedIndex(spark, ixdir)
    segs = {
        int(r["segment_id"])
        for r in ix.term_dict.select("segment_id").distinct().collect()
    }
    return sorted(segs - dead_segments(ixdir))


def test_lifecycle_fuzz(spark, tmp_path_factory, placement, flush_placement):
    import os as _os
    rng = random.Random(int(_os.environ.get("FUZZ_SEED", "7")))
    ixdir = str(tmp_path_factory.mktemp("lifecycle") / "ix")
    spec = _spec()

    pdf = make_corpus(200, seed=11)
    pdf = pdf.reset_index().rename(columns={"index": "doc_id"})
    rows = {int(r["doc_id"]): dict(r) for _, r in pdf.iterrows()}

    # live state the engine must agree with at every step
    live: dict[int, dict] = {}

    # pandas-backed frames, so a flush may take either placement
    def frame(ids):
        return spark.createDataFrame(pd.DataFrame([rows[i] for i in ids]))

    # the NRT and update steps alternate the flush placement
    flushes: list[str] = []

    def next_flush():
        flushes.append(("driver", "spark")[len(flushes) % 2])
        flush_placement.use(flushes[-1])

    # base build: first 120 docs
    base_ids = list(range(120))
    IndexBuilder(spark, spec, analyzer="simple", quantize_norms=False,
                 num_segments=4).build(frame(base_ids), ixdir)
    live.update({i: rows[i] for i in base_ids})

    next_ids = iter(range(120, 200))
    stream_epoch = 0
    update_gen = 0

    def check():
        ix = MaterializedIndex(spark, ixdir)
        s = Searcher(ix, "bm25")
        got = _live_ids(s)
        assert got == set(live), (
            f"live-doc divergence: engine-only={sorted(got - set(live))[:5]} "
            f"expected-only={sorted(set(live) - got)[:5]}"
        )
        verify_index(spark, ixdir)
        return s

    check()

    executed = []
    import os as _os2
    for step in range(int(_os2.environ.get("FUZZ_STEPS", "12"))):
        op = rng.choice(["nrt", "update", "delete_ids", "delete_query", "merge"])
        if op == "nrt":
            batch = [i for _, i in zip(range(rng.randint(5, 20)), next_ids)]
            if not batch:
                continue
            next_flush()
            rec = incremental_index_batch(
                frame(batch), stream_epoch, ixdir, spec,
                analyzer="simple", quantize_norms=False,
            )
            assert rec["flush"] == flushes[-1], rec
            stream_epoch += 1
            live.update({i: rows[i] for i in batch})
        elif op == "update":
            if not live:
                continue
            targets = rng.sample(sorted(live), min(8, len(live)))
            update_gen += 1
            marker = f"updgen{update_gen}"
            upd = []
            for i in targets:
                r = dict(rows[i])
                r["content"] = f"{marker} fresh {r['content']}"
                upd.append(r)
                live[i] = r
            next_flush()
            rec = update_documents(spark, ixdir, spark.createDataFrame(pd.DataFrame(upd)),
                                   spec, analyzer="simple", quantize_norms=False)
            assert rec["flush"] == flushes[-1], rec
            # the marker token matches EXACTLY the updated docs' newest
            # versions — stale versions must be invisible
            s = Searcher(MaterializedIndex(spark, ixdir), "bm25")
            phrase = PhraseQuery("content", (marker, "fresh"))
            fuzzy = parse_query("content:parse~1", default_field="content",
                                analyzer="simple")
            ranked = []
            for where in placement():
                for q in (TermQuery("content", marker), phrase):
                    hits = {r["doc_id"] for r in s.search(q, 1000).collect()}
                    assert hits == set(targets), (where, q, hits, targets)
                ranked.append([(r["doc_id"], round(r["score"], 9))
                               for r in s.search(fuzzy, 20).collect()])
            assert ranked[0] == ranked[1] and ranked[0], ranked
        elif op == "delete_ids":
            if not live:
                continue
            targets = rng.sample(sorted(live), min(5, len(live)))
            delete_docs(spark, ixdir, targets)
            for i in targets:
                live.pop(i)
        elif op == "delete_query":
            # delete every doc whose newest version contains a mid-df term
            term = rng.choice(["buffer", "tokenize", "goroutine", "vector"])
            q = parse_query(f"content:{term}", default_field="content",
                            analyzer="simple")
            s = Searcher(MaterializedIndex(spark, ixdir), "bm25")
            victims = [{r["doc_id"] for r in s.search(q, 100000).collect()}
                       for _ in placement()]
            assert victims[0] == victims[1], term
            expected_victims = victims[0]
            delete_by_query(spark, ixdir, q)
            for i in expected_victims:
                live.pop(int(i), None)
        elif op == "merge":
            segs = _segments(spark, ixdir)
            if len(segs) < 2:
                continue
            pick = rng.sample(segs, rng.randint(2, min(4, len(segs))))
            merge_segments(spark, ixdir, sorted(pick))
        executed.append(op)
        check()
    # the seed must actually exercise the interactions this test is for
    assert {"nrt", "update", "merge"} <= set(executed), executed
    assert {"delete_ids", "delete_query"} & set(executed), executed
    assert set(flushes) == {"driver", "spark"}, flushes

    # final: expunge-merge everything (single-segment expunge is
    # Lucene's forceMergeDeletes) -> only now are collection/term stats
    # live-only, so scores must EXACTLY match a fresh build over the
    # surviving live docs
    segs = _segments(spark, ixdir)
    assert segs
    merge_segments(spark, ixdir, segs, expunge_deletes=True)
    s_old = check()

    if not live:
        # legitimate end state: the sequence deleted every doc; the
        # expunged index must simply answer nothing (seed 61 found the
        # empty-expunge crash this guards)
        q = parse_query("content:parse", default_field="content",
                        analyzer="simple")
        for _ in placement():
            assert s_old.search(q, 10).count() == 0
        return

    fresh_dir = str(tmp_path_factory.mktemp("lifecycle_fresh") / "ix")
    IndexBuilder(spark, spec, analyzer="simple", quantize_norms=False,
                 num_segments=4).build(
        spark.createDataFrame(list(live.values())), fresh_dir)
    s_new = Searcher(MaterializedIndex(spark, fresh_dir), "bm25")

    for qs in ["content:parse", "content:buffer OR content:index",
               "content:fresh", "content:parse AND NOT content:return",
               'content:"return if"', 'content:"parse for"~2', "content:buffer~1",
               "content:tokenize~2"]:
        q = parse_query(qs, default_field="content", analyzer="simple")
        for where in placement():
            a = [(r["doc_id"], round(r["score"], 9))
                 for r in s_old.search(q, 50).collect()]
            b = [(r["doc_id"], round(r["score"], 9))
                 for r in s_new.search(q, 50).collect()]
            assert a == b, (where, qs, a[:5], b[:5])
