"""Deletes (W12): tombstones + query-time anti-join.

The reference buffers delete terms and applies them as a liveDocs
bitmap at flush (core/index/bufferedDeletes.go:33-91, dwpt.go:313-321);
delete-by-query is stubbed there.  Spark-native equivalent: an
append-only tombstones table; readers anti-join posting rows against
it.  Faithful to Lucene's visibility semantics: collection statistics
(maxDoc, df, ttf) still count deleted docs until a merge/expunge
rewrites the segments — exactly numDocs vs maxDoc in Lucene.

A delete's ids already sit on the driver (the caller's list, a flushed
chunk's doc_meta, a collected delete-by-query match set), so each
tombstone generation is one small parquet file written with Arrow on
the driver: ``delete_docs`` starts no Spark job.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def _tombstone_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> dict:
    """Tombstone explicit doc ids (delete-by-id)."""
    return _append_tombstones(index_dir, doc_ids, {"kind": "ids"})


def delete_by_query(spark: SparkSession, index_dir: str, query, searcher=None) -> dict:
    """Tombstone every doc matching a query (the reference's stubbed
    path, bufferedDeletes.go delete-by-query)."""
    from ..search.executor import Searcher
    from .builder import MaterializedIndex

    s = searcher or Searcher(MaterializedIndex(spark, index_dir))
    if isinstance(query, str):
        from ..search.parser import parse_query

        query = parse_query(query)
    ids = [r["doc_id"] for r in s.score_frame(query).select("doc_id").distinct().collect()]
    return _append_tombstones(index_dir, ids, {"kind": "query"})


def _append_tombstones(index_dir: str, doc_ids, info: dict,
                       before_segment: int | None = None) -> dict:
    """Commit one tombstone generation: ``gen=<g>/part-0.parquet``
    (doc_id, before_segment), written under a hidden name and renamed,
    so a reader listing tombstones/ never sees a partial file.  The
    manifest record's ``n`` counts the distinct ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tdir = _tombstone_dir(index_dir)
    os.makedirs(tdir, exist_ok=True)
    # the generation names both the data directory and the manifest
    # record: reserve one no other delete holds (mkdir is atomic), else
    # two deletes in the same millisecond would overwrite each other
    gen = int(time.time() * 1000)
    while True:
        out = os.path.join(tdir, f"gen={gen}")
        try:
            os.mkdir(out)
            break
        except FileExistsError:
            gen += 1
    ids = sorted({int(d) for d in doc_ids})
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "before_segment": pa.array([before_segment] * len(ids), pa.int64()),
    })
    tmp = os.path.join(out, ".part-0.parquet.tmp")
    pq.write_table(table, tmp, store_schema=False)
    os.replace(tmp, os.path.join(out, "part-0.parquet"))
    mdir = os.path.join(index_dir, "manifest")
    os.makedirs(mdir, exist_ok=True)
    rec = {"chunk": f"tombstones-{gen}", "status": "committed", "kind": "delete",
           "n": len(ids), **info}
    tmp = os.path.join(mdir, f".tombstones-{gen}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, os.path.join(mdir, f"tombstones-{gen}.json"))
    return rec


def tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(doc_id, before_segment, exact_segment):

    - before_segment NULL (and exact NULL) kills every version of the
      doc (plain delete);
    - before_segment = V kills only versions in segments < V
      (updateDocument supersede);
    - exact_segment = M kills the doc's versions in exactly segment M —
      synthesized here for MERGED segments: merge relabels inputs to a
      MERGE_ID_BASE+ id that is not ordinally comparable with V, so a
      scoped tombstone is translated through the manifest's
      merged_from_segments: if every transitive original input of M is
      < V, the doc's copies inside M are superseded versions and die.
      (A merged segment whose inputs straddle V cannot exist with live
      stale versions: merge_segments routes such merges through the
      scoped-expunge path, which applies the then-existing scoped
      tombstones physically.)"""
    d = _tombstone_dir(index_dir)
    if not os.path.isdir(d):
        return None
    t = spark.read.option("mergeSchema", "true").parquet(d)
    if "before_segment" not in t.columns:  # pre-update-era tombstones
        t = t.withColumn("before_segment", F.lit(None).cast("long"))
    t = t.select("doc_id", "before_segment").distinct()
    t = t.withColumn("exact_segment", F.lit(None).cast("long"))
    from .merge import merged_origin_ranges

    origin = merged_origin_ranges(index_dir)
    if origin:
        # a literal inline table: a createDataFrame(<list>) here would put
        # a Python-worker RDD scan into every query plan on the index
        m = spark.range(1).select(F.inline(F.array(*(
            F.struct(F.lit(int(k)).cast("long").alias("m_seg"),
                     F.lit(int(v[1])).cast("long").alias("m_maxorig"))
            for k, v in origin.items()
        ))))
        scoped = t.filter(F.col("before_segment").isNotNull())
        exact = scoped.join(
            F.broadcast(m), scoped["before_segment"] > m["m_maxorig"]
        ).select(
            "doc_id", "before_segment", F.col("m_seg").alias("exact_segment")
        )
        t = t.unionByName(exact)
    return t


def filter_live(frame: DataFrame, tomb: DataFrame | None,
                seg_col: str = "segment_id") -> DataFrame:
    """Drop tombstoned rows from ``frame`` (the liveDocs filter).
    With a ``seg_col`` present, update tombstones (before_segment = V)
    drop only rows whose segment < V; without one, only full-delete
    tombstones (before_segment NULL) apply — updated docs' live
    versions always survive."""
    if tomb is None:
        return frame
    if "exact_segment" not in tomb.columns:  # externally built tomb frames
        tomb = tomb.withColumn("exact_segment", F.lit(None).cast("long"))
    if seg_col not in frame.columns:
        full = tomb.filter(
            F.col("before_segment").isNull() & F.col("exact_segment").isNull()
        ).select("doc_id")
        return frame.join(full, "doc_id", "left_anti")
    t = tomb.select(
        F.col("doc_id").alias("_t_doc"),
        F.col("before_segment").alias("_t_seg"),
        F.col("exact_segment").alias("_t_exact"),
    )
    cond = (frame["doc_id"] == t["_t_doc"]) & (
        (t["_t_seg"].isNull() & t["_t_exact"].isNull())
        | (t["_t_exact"].isNull() & (frame[seg_col] < t["_t_seg"]))
        | (frame[seg_col] == t["_t_exact"])
    )
    return frame.join(t, cond, "left_anti")


def update_documents(spark: SparkSession, index_dir: str, df: DataFrame,
                     spec, analyzer: str = "standard",
                     quantize_norms: bool = True) -> dict:
    """IndexWriter.UpdateDocuments (writer.go's delete-then-add): flush
    ``df`` (keyed by spec.id_col) as a NEW segment, then tombstone
    every PRIOR version of those ids (before_segment = the new
    segment), so readers see exactly the new versions — Lucene's
    update visibility, without rewriting any old segment."""
    import json as _json

    from ..streaming.nrt import incremental_index_batch

    assert spec.id_col, "update_documents requires a stable id column"
    mdir = os.path.join(index_dir, "manifest")
    epoch = 0
    if os.path.isdir(mdir):
        for fn in os.listdir(mdir):
            if fn.endswith(".json"):
                with open(os.path.join(mdir, fn)) as f:
                    rec = _json.load(f)
                if rec.get("kind") in ("stream", "update"):
                    epoch = max(epoch, int(rec.get("epoch", 0)) + 1)
    rec = incremental_index_batch(
        df, epoch, index_dir, spec, analyzer, quantize_norms, kind="update"
    )
    # the flushed chunk's doc_meta holds exactly the updated ids
    from .builder import _arrow_dataset

    ids = _arrow_dataset(
        os.path.join(index_dir, "doc_meta", f"chunk={rec['chunk']}")
    ).to_table(columns=["doc_id"]).column("doc_id").to_pylist()
    _append_tombstones(
        index_dir, ids, {"kind": "delete", "reason": "update"},
        before_segment=rec["segment_id"],
    )
    return rec
