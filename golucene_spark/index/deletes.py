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
the driver: ``delete_docs`` starts no Spark job.  A reader reads them
back with Arrow once per open (``tombstone_table``): the driver-side
top-k kernel masks posting rows with that table (``live_mask``), and
Spark plans filter with a literal predicate built from it
(``live_predicate``) while it holds at most LITERAL_TOMBSTONES rows.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .builder import commit_record, read_manifest

# tombstone rows up to which a Spark plan filters liveness with a
# literal predicate (In/InSet over the ids) instead of an anti-join: the
# join broadcasts a hash relation of at least 1 MB per execution however
# few ids it holds; a predicate over a few hundred ids costs nothing
LITERAL_TOMBSTONES = 1024


def _tombstone_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tombstones")


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: list[int]) -> dict:
    """Tombstone explicit doc ids (delete-by-id)."""
    return _append_tombstones(index_dir, doc_ids, {"reason": "ids"})


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
    return _append_tombstones(index_dir, ids, {"reason": "query"})


def _append_tombstones(index_dir: str, doc_ids, info: dict,
                       before_segment: int | None = None) -> dict:
    """Commit one tombstone generation: ``gen=<g>/part-0.parquet``
    (doc_id, before_segment), written under a hidden name and renamed,
    so a reader listing tombstones/ never sees a partial file.  The
    manifest record (kind "delete", named ``tombstones-<g>``) commits
    it; its ``n`` counts the distinct ids and ``info`` adds the
    delete's ``reason``."""
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
    return commit_record(index_dir, f"tombstones-{gen}", {
        "chunk": f"tombstones-{gen}", "status": "committed", "kind": "delete",
        "n": len(ids), **info})


def tombstones(spark: SparkSession, index_dir: str,
               records: list[dict] | None = None, dataset=None) -> DataFrame | None:
    """(doc_id, before_segment, exact_segment):

    - before_segment NULL (and exact NULL) kills every version of the
      doc (plain delete);
    - before_segment = V kills only versions in segments < V
      (updateDocument supersede);
    - exact_segment = M kills the doc's versions in exactly segment M —
      synthesized here for LIVE merged segments: merge relabels inputs to a
      MERGE_ID_BASE+ id that is not ordinally comparable with V, so a
      scoped tombstone is translated through the manifest's
      merged_from_segments: if every transitive original input of M is
      < V, the doc's copies inside M are superseded versions and die.
      (A merged segment whose inputs straddle V cannot exist with live
      stale versions: merge_segments routes such merges through the
      scoped-expunge path, which applies the then-existing scoped
      tombstones physically.)

    ``records``: the manifest already read, else it is read here;
    ``dataset``: the Arrow dataset of their tombstone files, else they
    are listed here (``_tombstone_dataset``).  None when the records
    name no tombstone file."""
    from .builder import read_table

    records = read_manifest(index_dir) if records is None else records
    d = _tombstone_dataset(index_dir, records) if dataset is None else dataset
    if d is None:
        return None
    t = read_table(spark, _tombstone_dir(index_dir), d)
    if "before_segment" not in t.columns:  # pre-update-era tombstones
        t = t.withColumn("before_segment", F.lit(None).cast("long"))
    t = t.select("doc_id", "before_segment").distinct()
    t = t.withColumn("exact_segment", F.lit(None).cast("long"))
    origin = _live_merged_origins(index_dir, records)
    if origin:
        # a literal inline table: a createDataFrame(<list>) here would put
        # a Python-worker RDD scan into every query plan on the index;
        # written as one SQL expression, not one py4j call per literal
        m = spark.range(1).selectExpr("inline(array({}))".format(", ".join(
            f"named_struct('m_seg', {int(k)}L, 'm_maxorig', {int(v[1])}L)"
            for k, v in origin.items()
        )))
        scoped = t.filter(F.col("before_segment").isNotNull())
        exact = scoped.join(
            F.broadcast(m), scoped["before_segment"] > m["m_maxorig"]
        ).select(
            "doc_id", "before_segment", F.col("m_seg").alias("exact_segment")
        )
        t = t.unionByName(exact)
    return t


def _tombstone_dataset(index_dir: str, records: list[dict], files=None):
    """Arrow dataset of the tombstone files the delete records name
    (``files``: already listed), or None when there are none."""
    from .builder import _arrow_dataset, table_files

    return _arrow_dataset(table_files(index_dir, "tombstones", records)
                          if files is None else files)


def tombstone_table(index_dir: str, records: list[dict] | None = None, files=None):
    """The snapshot's tombstones as an Arrow table (doc_id,
    before_segment, exact_segment) with ``tombstones()``'s rows, read
    on the driver, or None when the index has none (``files``: the
    records' tombstone files, already listed).  The exact_segment rows
    for merged segments are synthesized from the manifest as
    ``tombstones()`` does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    records = read_manifest(index_dir) if records is None else records
    t = _tombstone_dataset(index_dir, records, files)
    if t is None:
        return None
    scoped = "before_segment" in t.schema.names  # absent before updates existed
    t = t.to_table(columns=["doc_id"] + (["before_segment"] if scoped else []))
    n = t.num_rows
    base = pa.table({
        "doc_id": t.column("doc_id").cast(pa.int64()),
        "before_segment": (t.column("before_segment").cast(pa.int64()) if scoped
                           else pa.nulls(n, pa.int64())),
        "exact_segment": pa.nulls(n, pa.int64()),
    })
    parts = [base]
    for m, (_, maxorig) in _live_merged_origins(index_dir, records).items():
        hit = base.filter(pc.field("before_segment") > maxorig)
        parts.append(hit.set_column(2, "exact_segment",
                                    pa.array([int(m)] * len(hit), pa.int64())))
    return pa.concat_tables(parts)


def _live_merged_origins(index_dir: str, records: list[dict] | None):
    """``merged_origin_ranges`` of the merge outputs still live: an
    output a later merge consumed holds no row any reader sees, so an
    exact_segment tombstone for it would only grow the table (and push
    ``live_rows`` past LITERAL_TOMBSTONES) with every merge round."""
    from .builder import dead_segments
    from .merge import merged_origin_ranges

    records = read_manifest(index_dir) if records is None else records
    dead = dead_segments(index_dir, records)
    return {m: r for m, r in merged_origin_ranges(index_dir, records).items()
            if m not in dead}


def _tomb_groups(table):
    """(full-delete ids, {before_segment V: ids}, {exact_segment M: ids})
    of a tombstone_table: the three ways a tombstone kills a row."""
    import numpy as np
    import pyarrow.compute as pc

    col = lambda c: pc.fill_null(table.column(c), -1).to_numpy()  # ids >= 0
    doc, before, exact = col("doc_id"), col("before_segment"), col("exact_segment")
    scoped = (before >= 0) & (exact < 0)
    return (
        np.unique(doc[(before < 0) & (exact < 0)]),
        {int(v): np.unique(doc[scoped & (before == v)]) for v in np.unique(before[scoped])},
        {int(m): np.unique(doc[exact == m]) for m in np.unique(exact[exact >= 0])},
    )


def live_mask(table, doc_id, segment_id):
    """NumPy liveness of posting rows (doc_id[i], segment_id[i]) under a
    tombstone_table: the row-wise twin of ``filter_live``'s anti-join."""
    import numpy as np

    doc_id = np.asarray(doc_id)
    segment_id = np.asarray(segment_id)
    full, scoped, exact = _tomb_groups(table)
    dead = np.isin(doc_id, full)
    for v, ids in scoped.items():
        dead |= (segment_id < v) & np.isin(doc_id, ids)
    for m, ids in exact.items():
        dead |= (segment_id == m) & np.isin(doc_id, ids)
    return ~dead


def live_predicate(table, seg_col: str | None = "segment_id"):
    """The liveness filter of ``filter_live`` as one literal Column over
    a tombstone_table: no join, no broadcast.  Without a ``seg_col``
    only full deletes apply, as in filter_live."""
    full, scoped, exact = _tomb_groups(table)
    # one SQL expression: a Column per literal id would cost one py4j
    # round trip each, every time a plan is built
    ids = lambda a: ", ".join(str(int(x)) for x in a)
    keep = [f"doc_id NOT IN ({ids(full)})"] if len(full) else ["TRUE"]
    if seg_col is not None:
        keep += [f"NOT (doc_id IN ({ids(a)}) AND `{seg_col}` < {v})" for v, a in scoped.items()]
        keep += [f"NOT (doc_id IN ({ids(a)}) AND `{seg_col}` = {m})" for m, a in exact.items()]
    return F.expr(" AND ".join(keep))


def live_rows(index, frame: DataFrame, seg_col: str = "segment_id") -> DataFrame:
    """``frame`` without the rows the index's tombstones kill, decided
    from the Arrow ``_tomb_table`` read at open: a literal predicate
    while it holds at most LITERAL_TOMBSTONES rows, else filter_live's
    anti-join against the Spark ``_tombstones`` frame (built only
    then).  Indexes without tombstones return ``frame`` as-is."""
    table = getattr(index, "_tomb_table", None)
    if table is None:
        return frame
    if table.num_rows <= LITERAL_TOMBSTONES:
        return frame.filter(
            live_predicate(table, seg_col if seg_col in frame.columns else None)
        )
    return filter_live(frame, index._tombstones, seg_col)


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
                     quantize_norms: bool = True) -> dict | None:
    """IndexWriter.UpdateDocuments (writer.go's delete-then-add): flush
    ``df`` (keyed by spec.id_col) as a NEW segment, then tombstone
    every PRIOR version of those ids (before_segment = the new
    segment), so readers see exactly the new versions — Lucene's
    update visibility, without rewriting any old segment.  An empty
    ``df`` commits nothing and returns None."""
    from ..streaming.nrt import _flush_batch

    assert spec.id_col, "update_documents requires a stable id column"
    epoch = max((int(rec.get("epoch", 0)) + 1 for rec in read_manifest(index_dir)
                 if rec.get("kind") in ("stream", "update")), default=0)
    flushed = _flush_batch(df, epoch, index_dir, spec, analyzer, quantize_norms,
                           kind="update")
    if flushed is None:
        return None
    rec, ids = flushed
    _append_tombstones(
        index_dir, ids, {"reason": "update"},
        before_segment=rec["segment_id"],
    )
    return rec
