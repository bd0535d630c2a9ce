"""NRT commits write their small tables with Arrow on the driver: the
field_stats fold, the batch field-stat deltas and the tombstone
generations.  The folded tables must equal a full recompute across the
lifecycle, keep the column types Spark readers saw before, honour
omitNorms, and cost no Spark job where the data already sits on the
driver.  A pandas-backed batch is flushed in process; its chunk must
equal the Spark placement's, table for table."""

import gc
import math
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from golucene_spark.index import CorpusSpec, FieldSpec, MaterializedIndex, verify_index
from golucene_spark.index import deletes
from golucene_spark.index.builder import (
    FIELD_STATS_FILE, IndexBuilder, blocked_postings, blocked_postings_arrow, read_field_stats,
    read_table, tokenize_tf,
)
from golucene_spark.index.deletes import delete_docs, tombstones, update_documents
from golucene_spark.index.merge import merge_segments, merged_origin_ranges, refresh_field_stats
from golucene_spark.search import Searcher, parse_query
from golucene_spark.streaming.nrt import incremental_index_batch

SCHEMA = "doc_id long, title string, content string"


def _spec():
    return CorpusSpec(
        text_fields=[FieldSpec("title", "title", True, omit_norms=True),
                     FieldSpec("content", "content", True)],
        keyword_fields=[], key_cols=["doc_id"], id_col="doc_id", meta_cols=[],
    )


def _rows(ids, title="alpha", body="body"):
    return [(i, f"{title} w{i % 7}", f"{body} text {i} word{i % 13}") for i in ids]


def _build(spark, ixdir, n=200):
    IndexBuilder(spark, _spec(), num_segments=4).build(
        spark.createDataFrame(_rows(range(n)), SCHEMA), ixdir)


def _batch(spark, ids, **kw):
    return spark.createDataFrame(_rows(ids, **kw), SCHEMA)


def _live_segments(spark, ixdir):
    ix = MaterializedIndex(spark, ixdir)
    return [r[0] for r in ix.doc_meta.select("segment_id").distinct().collect()]


def _assert_fold_equals_recompute(spark, ixdir):
    folded = read_field_stats(ixdir)
    refresh_field_stats(spark, ixdir)
    assert folded == read_field_stats(ixdir)
    assert folded["title"]["sum_ttf"] == 0 and folded["content"]["sum_ttf"] > 0


def test_field_stats_fold_equals_recompute_across_lifecycle(spark, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=60)
    rec = incremental_index_batch(_batch(spark, range(100, 110)), 0, ixdir, _spec())
    assert rec["stats_mode"] == "incremental" and rec["omit_norms_fields"] == ["title"]
    _assert_fold_equals_recompute(spark, ixdir)
    update_documents(spark, ixdir, _batch(spark, range(5), body="changed"), _spec())
    _assert_fold_equals_recompute(spark, ixdir)
    delete_docs(spark, ixdir, [7, 8, 101])
    _assert_fold_equals_recompute(spark, ixdir)
    merge_segments(spark, ixdir, _live_segments(spark, ixdir), expunge_deletes=True)
    incremental_index_batch(_batch(spark, range(200, 205)), 1, ixdir, _spec())
    _assert_fold_equals_recompute(spark, ixdir)
    assert read_field_stats(ixdir)["content"]["max_doc"] == 60 + 10 - 3 + 5


def test_commit_tables_keep_spark_column_types(spark, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=40)
    fs_dir = os.path.join(ixdir, "field_stats")
    assert os.listdir(fs_dir) == [FIELD_STATS_FILE]
    want_fs = [("field", "string"), ("doc_count", "bigint"), ("sum_ttf_exact", "bigint"),
               ("sum_ttf", "bigint"), ("sum_df", "bigint"), ("max_doc", "bigint")]
    assert spark.read.parquet(fs_dir).dtypes == want_fs

    # an index whose field_stats an older Spark writer left (part files,
    # _SUCCESS, .crc): the next commit replaces them with the one file
    before = read_field_stats(ixdir)
    legacy = spark.createDataFrame(spark.read.parquet(fs_dir).collect())
    legacy.coalesce(1).write.mode("overwrite").parquet(fs_dir)
    assert len(os.listdir(fs_dir)) > 1
    incremental_index_batch(_batch(spark, range(50, 53)), 0, ixdir, _spec())
    assert os.listdir(fs_dir) == [FIELD_STATS_FILE]
    assert read_field_stats(ixdir)["content"]["doc_count"] == before["content"]["doc_count"] + 3

    delete_docs(spark, ixdir, [1, 2])
    seg = update_documents(spark, ixdir, _batch(spark, [3]), _spec())["segment_id"]
    t = spark.read.option("mergeSchema", "true").parquet(os.path.join(ixdir, "tombstones"))
    assert sorted(t.dtypes) == [("before_segment", "bigint"), ("doc_id", "bigint"),
                                ("gen", "bigint")]
    assert sorted((r["doc_id"], r["before_segment"]) for r in t.collect()) == [
        (1, None), (2, None), (3, seg)]


def test_redelivered_epoch_recomputes_field_stats(spark, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=40)
    batch = _batch(spark, range(50, 56))
    assert incremental_index_batch(batch, 3, ixdir, _spec())["stats_mode"] == "incremental"
    once = read_field_stats(ixdir)
    # the retry overwrites the same chunk; folding its delta again would
    # count the batch twice, so the commit recomputes instead
    assert incremental_index_batch(batch, 3, ixdir, _spec())["stats_mode"] == "recompute"
    assert read_field_stats(ixdir) == once


def test_commit_job_budget(spark, spark_jobs, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=40)
    with spark_jobs("nrt-commit-delete") as jobs:
        delete_docs(spark, ixdir, [1, 2, 3])
    assert jobs == []
    batch = _batch(spark, range(50, 60))
    batch.count()
    with spark_jobs("nrt-commit-flush") as jobs:
        incremental_index_batch(batch, 0, ixdir, _spec())
    assert 0 < len(jobs) <= 9


def test_same_millisecond_deletes_both_stay_deleted(spark, tmp_path, monkeypatch):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=40)
    with monkeypatch.context() as m:
        m.setattr(deletes.time, "time", lambda: 1_700_000_000.0)
        a = delete_docs(spark, ixdir, [4])
        b = delete_docs(spark, ixdir, [9])
    assert a["chunk"] != b["chunk"]
    q = parse_query("title:alpha", default_field="title")
    hits = {r["doc_id"] for r in Searcher(MaterializedIndex(spark, ixdir), "bm25")
            .search(q, 100).collect()}
    assert len(hits) == 38 and not hits & {4, 9}


def _old_tombstones(spark, ixdir):
    """The merged-origin lookup built with createDataFrame, as before."""
    t = (spark.read.option("mergeSchema", "true").parquet(os.path.join(ixdir, "tombstones"))
         .select("doc_id", "before_segment").distinct()
         .withColumn("exact_segment", F.lit(None).cast("long")))
    m = spark.createDataFrame(
        [(int(k), int(v[1])) for k, v in merged_origin_ranges(ixdir).items()],
        "m_seg long, m_maxorig long",
    )
    scoped = t.filter(F.col("before_segment").isNotNull())
    exact = scoped.join(m, scoped["before_segment"] > m["m_maxorig"]).select(
        "doc_id", "before_segment", F.col("m_seg").alias("exact_segment"))
    return t.unionByName(exact)


def test_merged_index_plan_has_no_python_rdd_scan(spark, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=60)
    merge_segments(spark, ixdir, sorted(_live_segments(spark, ixdir))[:2])
    update_documents(spark, ixdir, _batch(spark, range(12), title="gamma"), _spec())
    delete_docs(spark, ixdir, [20])

    def key(rows):
        return sorted(tuple(-1 if v is None else v for v in r) for r in rows)

    got = tombstones(spark, ixdir)
    assert any(r["exact_segment"] is not None for r in got.collect())
    assert key(got.collect()) == key(_old_tombstones(spark, ixdir).collect())

    frame = Searcher(MaterializedIndex(spark, ixdir), "bm25").search(
        parse_query("title:alpha OR title:gamma", default_field="title"), 100)
    hits = frame.collect()
    assert "ExistingRDD" not in frame._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["doc_id"] for r in hits) == [i for i in range(60) if i != 20]
    gamma = parse_query("title:gamma", default_field="title")
    assert {r["doc_id"] for r in Searcher(MaterializedIndex(spark, ixdir), "bm25")
            .search(gamma, 100).collect()} == set(range(12))


def _alpha_scores(spark, ixdir):
    q = parse_query("title:alpha", default_field="title")
    return {round(r["score"], 6)
            for r in Searcher(MaterializedIndex(spark, ixdir), "bm25").search(q, 500).collect()}


def test_omit_norms_score_survives_delete_merge_and_nrt(spark, tmp_path):
    """Every title holds "alpha" once, so with omitNorms each hit scores
    exactly idf = ln(1 + 0.5 / (maxDoc + 0.5)); with norms wrongly back
    on (sum_ttf > 0) the length factor inflates it."""
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=200)
    assert _alpha_scores(spark, ixdir) == {0.002491}
    delete_docs(spark, ixdir, [0])
    merge_segments(spark, ixdir, _live_segments(spark, ixdir), expunge_deletes=True)
    assert read_field_stats(ixdir)["title"]["sum_ttf"] == 0
    assert _alpha_scores(spark, ixdir) == {round(math.log(1 + 0.5 / 199.5), 6)}
    incremental_index_batch(_batch(spark, [0]), 0, ixdir, _spec())
    assert _alpha_scores(spark, ixdir) == {0.002491}


# -- the in-process (driver) flush --------------------------------------------

CHUNK_TABLES = ("postings", "term_dict", "doc_stats", "doc_meta", "term_vectors")


def _option_spec(variant):
    """FieldSpec options a flush writes differently: payloads (with the
    whitespace analyzer) and boost_col, or omit_norms and
    positions=False.  One text field each: verify_index's sha check
    pairs doc_meta's one hash with every doc_stats field."""
    text = {
        "payloads": FieldSpec("content", "content", True, payloads=True, boost_col="boost"),
        "omit_norms": FieldSpec("title", "title", True, omit_norms=True, positions=False),
    }[variant]
    return CorpusSpec(
        text_fields=[text], keyword_fields=[FieldSpec("lang", "lang", False)],
        key_cols=["doc_id"], id_col="doc_id", meta_cols=["lang"],
    )


def _option_pdf(ids, tag="x"):
    return pd.DataFrame({
        "doc_id": list(ids),
        "title": [f"{tag} t{i % 3} t{i % 3} alpha" for i in ids],
        "content": [f"{tag}|2.5 w{i % 5} w{i % 11}|0.5 " + "common " * (1 + i % 4)
                    for i in ids],
        "boost": [1.0 + (i % 3) for i in ids],
        "lang": [None if i % 7 == 0 else ("en", "de")[i % 2] for i in ids],
    })


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def _row_set(frame_rows):
    return sorted(repr({k: _norm(v) for k, v in r.asDict().items()}) for r in frame_rows)


def _chunk(spark, ixdir, chunk):
    """{table: (Spark-read schema, sorted rows)} of one chunk."""
    out = {}
    for t in CHUNK_TABLES:
        p = os.path.join(ixdir, t, f"chunk={chunk}")
        if os.path.isdir(p):
            df = spark.read.parquet(p)
            out[t] = (df.schema, _row_set(df.collect()))
    return out


@pytest.mark.parametrize("variant,wand_tv", [("payloads", True), ("omit_norms", False)])
def test_flush_placements_write_identical_chunks(spark, tmp_path, flush_placement,
                                                 variant, wand_tv):
    spec = _option_spec(variant)
    base = str(tmp_path / "base")
    IndexBuilder(spark, spec, analyzer="whitespace", num_segments=2, wand_layout=wand_tv,
                 store_term_vectors=wand_tv).build(
        spark.createDataFrame(_option_pdf(range(150))), base)
    # 300 docs: "common" and w-terms span several 128-doc blocks
    batch = _option_pdf(range(1000, 1300), tag="y")
    got = {}
    for where in flush_placement():
        ixdir = str(tmp_path / where)
        shutil.copytree(base, ixdir)
        rec = incremental_index_batch(spark.createDataFrame(batch), 0, ixdir, spec,
                                      analyzer="whitespace")
        assert (rec["n_docs"], rec["flush"]) == (300, where)
        got[where] = _chunk(spark, ixdir, rec["chunk"])
        verify_index(spark, ixdir)
        got[where]["field_stats"] = (None, read_field_stats(ixdir))
    assert set(got["driver"]) == set(got["spark"])
    assert ("term_vectors" in got["driver"]) == wand_tv
    for t in got["driver"]:
        assert got["driver"][t] == got["spark"][t], t


def test_content_sha256_equals_spark_sha2(spark, tmp_path, flush_placement):
    spec = _spec()
    # doc_meta hashes the first text field, title
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "title": ["plain", "ünïcode 漢字 ✓", None],
                        "content": ["a", "b", "c"]})
    want = {r["doc_id"]: r["s"] for r in spark.createDataFrame(pdf)
            .select("doc_id", F.sha2("title", 256).alias("s")).collect()}
    assert want[3] is None
    for where in flush_placement():
        ixdir = str(tmp_path / where)
        _build(spark, ixdir, n=20)
        rec = incremental_index_batch(spark.createDataFrame(pdf), 0, ixdir, spec)
        dm = spark.read.parquet(os.path.join(ixdir, "doc_meta", f"chunk={rec['chunk']}"))
        assert {r["doc_id"]: r["content_sha256"] for r in dm.collect()} == want, where


@pytest.mark.parametrize("block_size", [4, 128])
def test_arrow_kernel_equals_blocked_postings(spark, block_size):
    docs = spark.createDataFrame(_option_pdf(range(60))).withColumn(
        "segment_id", (F.col("doc_id") % 2).cast("int"))
    tf = tokenize_tf(docs, _option_spec("payloads"), "whitespace")
    table = tf.toArrow()
    for sentinels, wand in [(True, True), (False, False)]:
        want = blocked_postings(tf, block_size, include_sentinels=sentinels,
                                wand_metadata=wand)
        got = blocked_postings_arrow(table, block_size, include_sentinels=sentinels,
                                     wand_metadata=wand)
        assert [(f.name, f.dataType.simpleString()) for f in from_arrow_schema(got.schema)] \
            == [(f.name, f.dataType.simpleString()) for f in want.schema]
        rows = sorted(repr({k: _norm(v) for k, v in r.items()}) for r in got.to_pylist())
        assert rows == _row_set(want.collect())


def _pandas_batch(spark, ids, **kw):
    return spark.createDataFrame(pd.DataFrame(_rows_pd(ids, **kw)))


def _rows_pd(ids, title="alpha", body="body"):
    return {"doc_id": list(ids), "title": [f"{title} w{i % 7}" for i in ids],
            "content": [f"{body} text {i} word{i % 13}" for i in ids]}


def test_refresh_path_starts_no_spark_job(spark, spark_jobs, tmp_path):
    """A pandas-backed flush and update start no job, and neither does a
    reopen — past Spark's parallel-listing threshold of 32 chunk
    directories, over NRT chunks, update tombstones and a merge — and
    its frames have the schemas mergeSchema inference gives."""
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=40)
    merge_segments(spark, ixdir, sorted(_live_segments(spark, ixdir))[:2])
    with spark_jobs("driver-flush") as jobs:
        incremental_index_batch(_pandas_batch(spark, range(100, 110)), 0, ixdir, _spec())
    assert jobs == []
    with spark_jobs("driver-update") as jobs:
        update_documents(spark, ixdir, _pandas_batch(spark, [1, 2, 101], body="new"), _spec())
    assert jobs == []
    delete_docs(spark, ixdir, [5])
    for e in range(1, 34):
        incremental_index_batch(_pandas_batch(spark, [200 + e]), e, ixdir, _spec())
    assert len(os.listdir(os.path.join(ixdir, "postings"))) > 32
    with spark_jobs("driver-open") as jobs:
        ix = MaterializedIndex(spark, ixdir)
    assert jobs == []

    def inferred(t):
        return spark.read.option("mergeSchema", "true").parquet(os.path.join(ixdir, t))

    assert ix.postings.schema == inferred("postings").drop("kind").schema
    for t in ("term_dict", "doc_stats", "doc_meta"):
        assert getattr(ix, t).schema == inferred(t).schema, t
        want = inferred(t)
        if t != "doc_meta":  # doc_meta keeps merged-away segment ids
            want = want.filter(~F.col("segment_id").isin(ix._dead))
        assert _row_set(getattr(ix, t).collect()) == _row_set(want.collect()), t
    assert read_table(spark, os.path.join(ixdir, "tombstones")).schema == \
        inferred("tombstones").schema
    hits = {r["doc_id"] for r in Searcher(ix, "bm25").search(
        parse_query("content:new", default_field="content"), 100).collect()}
    assert hits == {1, 2, 101}


def test_redelivered_epoch_is_committed_once_in_process(spark, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=40)
    batch = _pandas_batch(spark, range(50, 56))
    assert incremental_index_batch(batch, 3, ixdir, _spec())["stats_mode"] == "incremental"
    once = read_field_stats(ixdir)
    assert incremental_index_batch(batch, 3, ixdir, _spec())["stats_mode"] == "recompute"
    assert read_field_stats(ixdir) == once
    for t in ("postings", "term_dict", "doc_stats", "doc_meta"):
        files = [f for _, _, fs in os.walk(os.path.join(ixdir, t, "chunk=stream-3"))
                 for f in fs]
        assert all(f == "part-0.parquet" for f in files), (t, files)
    dm = pq.read_table(os.path.join(ixdir, "doc_meta", "chunk=stream-3"))
    assert sorted(dm.column("doc_id").to_pylist()) == list(range(50, 56))
    ix = MaterializedIndex(spark, ixdir)
    q = parse_query("content:body", default_field="content")
    assert Searcher(ix, "bm25").search(q, 100).count() == 46


def test_empty_batch_commits_nothing(spark, tmp_path, flush_placement):
    for where in flush_placement():
        ixdir = str(tmp_path / where)
        _build(spark, ixdir, n=20)
        before = sorted(os.listdir(os.path.join(ixdir, "manifest")))
        empty = spark.createDataFrame(pd.DataFrame(_rows_pd([])), SCHEMA)
        assert incremental_index_batch(empty, 0, ixdir, _spec()) is None, where
        assert update_documents(spark, ixdir, empty, _spec()) is None, where
        assert sorted(os.listdir(os.path.join(ixdir, "manifest"))) == before
        for t in ("postings", "term_dict", "doc_stats", "doc_meta"):
            assert not [c for c in os.listdir(os.path.join(ixdir, t))
                        if not c.startswith("chunk=0")], (where, t)


def test_driver_flush_leaves_gc_unfrozen(spark, tmp_path):
    ixdir = str(tmp_path / "ix")
    _build(spark, ixdir, n=20)
    frozen = gc.get_freeze_count()
    incremental_index_batch(_pandas_batch(spark, range(30, 35)), 0, ixdir, _spec())
    assert gc.get_freeze_count() == frozen
