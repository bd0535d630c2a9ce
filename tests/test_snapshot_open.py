"""Opening a MaterializedIndex takes its snapshot from the manifest: the
files of the committed chunks that still hold a live segment, every
committed doc_meta chunk and the tombstone generations, listed once
with Arrow.  The Spark frames are built on first use over exactly those
files, so a reader that builds them late answers as one that built them
at open, a chunk directory no committed record names is read by
neither placement, and an open followed by a driver-placed search
starts no Spark job and builds no frame."""

import os

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder, MaterializedIndex
from golucene_spark.index.builder import read_manifest
from golucene_spark.index.deletes import delete_docs, update_documents
from golucene_spark.index.merge import merge_segments
from golucene_spark.index.trigram import build_trigram_index
from golucene_spark.search import Searcher, parse_query, topk
from golucene_spark.streaming.nrt import incremental_index_batch

FRAMES = ("postings", "term_dict", "doc_stats", "doc_meta", "_tombstones")
QUERIES = ["content:word3", "content:text AND content:word5", "content:body OR content:new",
           'content:"body text"', "content:wrd4~1"]
TERMS = ["word3", "word5", "text", "new", "body"]


def _spec():
    return CorpusSpec(
        text_fields=[FieldSpec("content", "content", True)],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )


def _batch(spark, ids, body="body"):
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": list(ids),
        "content": [f"{body} text {i} word{i % 13} w{i % 29}" for i in ids],
    }))


def _build(spark, ixdir, n, **kw):
    IndexBuilder(spark, _spec(), **kw).build(_batch(spark, range(n)), ixdir)


def _live_segments(spark, ixdir):
    ix = MaterializedIndex(spark, ixdir)
    return sorted(r[0] for r in ix.term_dict.select("segment_id").distinct().collect())


def _sorted_rows(frame, *cols):
    return sorted(tuple(r[c] for c in cols) for r in frame.collect())


def _answers(ix, monkeypatch):
    """Every search under both placements (Spark first, so a lazy
    reader builds its frames there), then the frame-level reads."""
    out = {}
    for where, limit in (("spark", -1), ("driver", 1 << 62)):
        monkeypatch.setattr(topk, "DRIVER_MAX_DF", limit)
        s = Searcher(ix, "bm25")
        out[where] = [[(r["doc_id"], round(r["score"], 9)) for r in
                       s.search(parse_query(q, default_field="content"), 20).collect()]
                      for q in QUERIES]
    out["postings"] = ix.postings.count()
    out["term_stats"] = _sorted_rows(ix.term_stats("content", TERMS), "term", "df", "ttf")
    out["live_doc_meta"] = _sorted_rows(ix.live_doc_meta(), "doc_id", "segment_id")
    return out


def _orphan_chunk(ixdir, src, name, segment_id):
    """A crashed flush: ``src``'s chunk directories copied to
    ``chunk=<name>`` with their rows moved to a new segment, and no
    manifest record."""
    for table in ("postings", "term_dict", "doc_stats", "doc_meta"):
        root = os.path.join(ixdir, table, f"chunk={src}")
        for d, _, files in os.walk(root):
            out = d.replace(f"chunk={src}", f"chunk={name}")
            os.makedirs(out, exist_ok=True)
            for fn in files:
                if fn.startswith((".", "_")):
                    continue
                t = pq.read_table(os.path.join(d, fn))
                i = t.schema.get_field_index("segment_id")
                t = t.set_column(i, t.schema.field(i),
                                 pc.add(t["segment_id"], segment_id - t["segment_id"][0].as_py())
                                 .cast(t.schema.field(i).type))
                pq.write_table(t, os.path.join(out, fn))


def test_deferred_frames_keep_the_snapshot_of_the_open(spark, tmp_path, monkeypatch):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, 120, num_segments=4)
    incremental_index_batch(_batch(spark, range(200, 230)), 0, ixdir, _spec())
    update_documents(spark, ixdir, _batch(spark, [3, 4, 201], body="new"), _spec())
    delete_docs(spark, ixdir, [5, 6, 202])
    build_trigram_index(spark, ixdir)
    want = _answers(MaterializedIndex(spark, ixdir), monkeypatch)

    _orphan_chunk(ixdir, "stream-0", "stream-77", 1_000_077)
    lazy = MaterializedIndex(spark, ixdir)
    eager = MaterializedIndex(spark, ixdir)
    for t in FRAMES + ("trigram",):
        assert getattr(eager, t) is not None, t
    assert not any(t in vars(lazy) for t in FRAMES)

    # commits after the open: an NRT flush, an update, a delete and an
    # expunging merge of every live segment
    incremental_index_batch(_batch(spark, range(300, 320), body="new"), 1, ixdir, _spec())
    update_documents(spark, ixdir, _batch(spark, [7, 8, 203], body="new"), _spec())
    delete_docs(spark, ixdir, [9, 204])
    merge_segments(spark, ixdir, _live_segments(spark, ixdir), expunge_deletes=True)

    assert _answers(lazy, monkeypatch) == want
    assert _answers(eager, monkeypatch) == want
    # the snapshot after the commits differs (the test is not vacuous)
    # and still leaves the orphaned chunk out
    now = MaterializedIndex(spark, ixdir)
    assert now.postings.count() != want["postings"]
    assert not any("stream-77" in f for fs in now._files.values() for f in fs)


def test_open_and_driver_search_on_a_long_history(spark, spark_jobs, tmp_path):
    """Over 30 chunk directories, most of them merged away: the open and
    a driver-placed search start no Spark job, build no frame, and the
    driver reads only live chunks."""
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, 40, num_segments=2)
    for e in range(30):
        incremental_index_batch(_batch(spark, range(100 + 3 * e, 103 + 3 * e)), e, ixdir, _spec())
        if e % 10 == 9:
            delete_docs(spark, ixdir, [100 + 3 * e])
            merge_segments(spark, ixdir, _live_segments(spark, ixdir), expunge_deletes=True)
    incremental_index_batch(_batch(spark, range(400, 403)), 30, ixdir, _spec())
    chunks = os.listdir(os.path.join(ixdir, "postings"))
    assert len(chunks) >= 30

    with spark_jobs("open-and-driver-search") as jobs:
        ix = MaterializedIndex(spark, ixdir)
        hits = Searcher(ix, "bm25").search(
            parse_query("content:word3", default_field="content"), 10).collect()
    assert jobs == []
    assert hits
    assert not [t for t in FRAMES if t in vars(ix)]

    # the chunks with a live segment, found by reading every directory
    dead = set(ix._dead)
    live = set()
    for c in chunks:
        segs = pq.read_table(os.path.join(ixdir, "postings", c),
                             columns=["segment_id"]).column("segment_id").to_pylist()
        if set(segs) - dead:
            live.add(c)
    listed = {os.path.relpath(f, os.path.join(ixdir, "postings")).split(os.sep)[0]
              for f in ix._postings_ds.files}
    assert listed == live and len(live) < len(chunks) / 4
    assert all(f"{os.sep}kind=post{os.sep}" in f for f in ix._postings_ds.files)


def test_trigram_table_and_deletes_keep_file_pruning(spark, tmp_path, placement):
    """On a range_layout index neither the trigram record nor a tombstone
    record counts as a data chunk: pruning stays on, the trigram table
    stays fresh, and pruned reads skip files."""
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, 300, num_segments=4, range_layout=True, range_partitions=8)
    build_trigram_index(spark, ixdir)
    delete_docs(spark, ixdir, [3, 16])
    assert {r.get("kind") for r in read_manifest(ixdir)} >= {"trigram", "delete"}

    ix = MaterializedIndex(spark, ixdir)
    assert ix._prune_files and ix.trigram is not None
    q = parse_query("content:word3", default_field="content")
    got = []
    for _ in placement():
        ix.last_prune_stats = None
        got.append([r["doc_id"] for r in Searcher(ix, "bm25").search(q, 100).collect()])
        total, opened = ix.last_prune_stats
        assert 1 <= opened < total
    assert got[0] == got[1] and 3 not in got[0] and 16 not in got[0] and len(got[0]) == 21
