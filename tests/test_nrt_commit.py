"""NRT commits write their small tables with Arrow on the driver: the
field_stats fold, the batch field-stat deltas and the tombstone
generations.  The folded tables must equal a full recompute across the
lifecycle, keep the column types Spark readers saw before, honour
omitNorms, and cost no Spark job where the data already sits on the
driver."""

import math
import os

from pyspark.sql import functions as F

from golucene_spark.index import CorpusSpec, FieldSpec, MaterializedIndex
from golucene_spark.index import deletes
from golucene_spark.index.builder import FIELD_STATS_FILE, IndexBuilder, read_field_stats
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
