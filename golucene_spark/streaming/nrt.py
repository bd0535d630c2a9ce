"""Near-real-time incremental indexing via Structured Streaming.

The reference has no streaming; its "NRT" is reopen-after-flush caching
(core/store/nrt.go:15-40): a reader opening the latest committed
segment set sees newly flushed docs.  The Spark-native equivalent: a
``readStream`` of new documents, each micro-batch flushed as a fresh
segment chunk (tokenize -> blocked postings -> tables) and committed to
the manifest; a MaterializedIndex reopened after any batch sees
everything committed so far.  Exactly-once comes from foreachBatch
epoch ids naming the chunk directories (idempotent overwrite per
epoch).

A flush has two placements, with the same on-disk chunk:

- in process, on the driver (the reference's DWPT flush,
  core/index/dwpt.go:313-321): a batch that already sits on the driver
  (its plan is a LocalRelation, which ``spark.createDataFrame(<pandas>)``
  makes) with at most DRIVER_FLUSH_ROWS rows is collected without a
  Spark job, inverted with the mapInArrow stage's own per-batch
  inversion (``_tf_invert``), cut into blocks by the Arrow/NumPy twin
  of ``blocked_postings`` (``blocked_postings_arrow``), and each chunk
  file is written with pyarrow under a hidden name and renamed.  It
  starts no Spark job.
- in Spark (streaming micro-batches, larger frames): the build
  pipeline writes postings, term_dict, doc_stats and doc_meta.

The commit is the same for both and starts no Spark job: the batch's
field-stat deltas are summed with Arrow from the chunk's term_dict and
doc_stats, the manifest record is renamed into place, and the folded
field_stats table is written with Arrow on the driver
(``write_field_stats``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F, types as T

from ..index.builder import (
    CorpusSpec,
    _arrow_dataset,
    _check_payload_analyzers,
    _explode_doc_sentinels,
    _omit_norms,
    _tf_invert,
    blocked_postings,
    blocked_postings_arrow,
    commit_record,
    doc_stats_arrow,
    read_field_stats,
    read_manifest,
    read_table,
    term_dict_arrow,
    term_dict_frame,
    term_vectors_arrow,
    tokenize_tf,
    write_field_stats,
    write_term_vectors_chunk,
)

# The largest batch flushed in process on the driver, from the measured
# crossover (BENCH/driver_flush_crossover.json, 4 CPUs): 40 docs flush
# in ~50 ms in process and ~2 s in Spark; at 10k docs the driver still
# wins (3.0 s vs 4.4 s), at 20k Spark does (7.9 s vs 6.1 s).
DRIVER_FLUSH_ROWS = 10_000

# column types the in-process flush takes from collected rows as is
_DRIVER_TYPES = (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                 T.DoubleType, T.FloatType, T.BooleanType)


def incremental_index_batch(
    batch_df: DataFrame,
    epoch_id: int,
    index_dir: str,
    spec: CorpusSpec,
    analyzer: str = "standard",
    quantize_norms: bool = True,
    segment_offset: int | None = None,
    kind: str = "stream",
    store_term_vectors: bool | None = None,
    salt_range: int | None = None,
) -> dict | None:
    """Flush one micro-batch as a new segment (chunk ``<kind>-<epoch>``).

    Idempotent per epoch: re-delivery of the same epoch overwrites the
    same chunk directory and manifest record.  docIDs come from the
    stream's id column (spec.id_col required) so they are stable across
    retries; the segment id is derived from the epoch.  An empty batch
    writes nothing and returns None.

    Chunk names and segment-id ranges are namespaced by ``kind``: a
    checkpointed stream's epoch numbering is independent of the
    update_documents epoch scan, so an 'update' flush and a resumed
    stream reaching the same epoch must never share a chunk directory
    or segment id (they would silently overwrite each other).
    """
    flushed = _flush_batch(batch_df, epoch_id, index_dir, spec, analyzer, quantize_norms,
                           segment_offset, kind, store_term_vectors, salt_range)
    return None if flushed is None else flushed[0]


def _flush_batch(batch_df, epoch_id, index_dir, spec, analyzer="standard",
                 quantize_norms=True, segment_offset=None, kind="stream",
                 store_term_vectors=None, salt_range=None):
    """``incremental_index_batch`` -> (manifest record, the batch's doc
    ids), or None for an empty batch."""
    if spec.id_col is None:
        raise ValueError("incremental indexing requires a stable id column")
    _check_payload_analyzers(spec, analyzer)
    t0 = time.time()
    if segment_offset is None:
        segment_offset = 1_000_000 if kind == "stream" else 2_000_000
    seg_id = segment_offset + int(epoch_id)
    chunk = f"{kind}-{int(epoch_id)}"
    spark = batch_df.sparkSession
    # WAND-v2 metadata is inherited from the base index's layout
    # (manifest wand_layout records) so mixed chunks keep a uniform schema
    wand_meta = any(rec.get("wand_layout") for rec in read_manifest(index_dir))
    # keep the term-vectors store consistent for tv-enabled indexes:
    # None = auto (write the chunk iff the index already has the store),
    # so updateDocument'd docs keep answering getTermVector with the
    # NEW version (old rows die via the before_segment tombstone)
    if store_term_vectors is None:
        store_term_vectors = os.path.isdir(os.path.join(index_dir, "term_vectors"))
    args = (index_dir, chunk, seg_id, spec, analyzer, quantize_norms, wand_meta,
            store_term_vectors)
    local = _local_batch(batch_df, spec)
    if local is not None:
        if local.num_rows == 0:
            return None
        ids, td, ds = _write_chunk_in_process(local, *args)
    else:
        written = _write_chunk_spark(batch_df, *args, salt_range)
        if written is None:
            return None
        ids, td, ds = written
    placement = "spark" if local is None else "driver"

    # this batch's per-field stat deltas, summed on the driver from the
    # chunk's own term_dict/doc_stats rows (chunk-sized, no Spark job,
    # NOT a full doc_stats/term_dict scan per epoch); the manifest
    # records carry them and the global field_stats table is folded
    # incrementally
    def sums(t, aggs):
        return {r["field"]: r for r in t.group_by("field").aggregate(aggs).to_pylist()}

    term_sums = sums(td, [("ttf", "sum"), ("df", "sum")])
    batch_fs: dict[str, dict] = {}
    for f, r in sums(ds, [("length", "count"), ("length", "sum")]).items():
        t = term_sums.get(f, {})
        batch_fs[f] = {
            "doc_count": int(r["length_count"]),
            "sum_ttf_exact": int(r["length_sum"] or 0),
            "sum_ttf": int(t.get("ttf_sum") or 0),
            "sum_df": int(t.get("df_sum") or 0),
        }

    manifest_path = os.path.join(index_dir, "manifest", f"{chunk}.json")
    # re-delivered epoch (exactly-once retry): the chunk data was
    # idempotently overwritten above, but its delta may already be folded
    # into field_stats — fall back to a full recompute in that rare case
    retry = os.path.exists(manifest_path)
    incremental = not retry and os.path.isdir(os.path.join(index_dir, "field_stats"))
    omit_norms = _omit_norms(spec)
    n = len(ids)

    rec = {
        "chunk": chunk,
        "status": "committed",
        "kind": kind,
        "epoch": int(epoch_id),
        "segment_id": seg_id,
        "n_docs": n,
        "flush": placement,
        "quantize_norms": quantize_norms,
        "omit_norms_fields": sorted(omit_norms),
        # the text field doc_meta's content_sha256 hashes (verify_index)
        "sha_field": spec.text_fields[0].name,
        "field_stats": batch_fs,
        "stats_mode": "incremental" if incremental else "recompute",
        "wall_sec": round(time.time() - t0, 3),
    }
    commit_record(index_dir, chunk, rec)

    _refresh_field_stats(spark, index_dir, batch_fs, n, omit_norms, full=not incremental)
    # keep the (optional) trigram side table fresh: delta-append this
    # chunk's terms so infix seeks never fall back to a full dictionary
    # scan on a living index (no-op when the index has no trigram table)
    from ..index.trigram import refresh_trigram_index

    refresh_trigram_index(spark, index_dir, new_terms=td.select(["field", "term"]))
    return rec, ids


def _batch_columns(spec: CorpusSpec) -> list[str]:
    """The batch columns a flush reads."""
    return list(dict.fromkeys(
        [spec.id_col]
        + [f.column for f in spec.text_fields]
        + [f.column for f in spec.keyword_fields]
        + [f.boost_col for f in spec.text_fields if getattr(f, "boost_col", None)]
        + list(spec.meta_cols)
    ))


def _local_batch(batch_df: DataFrame, spec: CorpusSpec) -> pa.Table | None:
    """The batch's flush columns as an Arrow table when the batch already
    sits on the driver: its plan is a LocalRelation (what
    ``spark.createDataFrame(<pandas>)`` makes) of at most
    DRIVER_FLUSH_ROWS rows, and the columns have flat types.  Collecting
    such a plan starts no Spark job.  None otherwise."""
    from pyspark.sql.pandas.types import to_arrow_type

    plan = batch_df._jdf.queryExecution().logical()
    if (plan.getClass().getSimpleName() != "LocalRelation"
            or plan.data().size() > DRIVER_FLUSH_ROWS):
        return None
    fields = {f.name: f for f in batch_df.schema.fields}
    cols = [c for c in _batch_columns(spec) if c in fields]
    if not all(isinstance(fields[c].dataType, _DRIVER_TYPES) for c in cols):
        return None
    rows = batch_df.collect()
    return pa.table({
        c: pa.array([r[c] for r in rows], to_arrow_type(fields[c].dataType))
        for c in cols
    })


def _content_sha256(texts: list) -> pa.Array:
    """Spark's ``sha2(text, 256)``: the hex SHA-256 of the UTF-8 text,
    null for a null text."""
    return pa.array([None if t is None else hashlib.sha256(t.encode("utf-8")).hexdigest()
                     for t in texts], pa.string())


def _write_chunk_in_process(batch: pa.Table, index_dir, chunk, seg_id, spec, analyzer,
                            quantize_norms, wand_meta, store_term_vectors):
    """Write the chunk of a driver-held batch with pyarrow -> (doc ids,
    term_dict rows, doc_stats rows)."""
    n = batch.num_rows
    docs = batch.drop_columns([c for c in ("doc_id", "segment_id") if c in batch.column_names])
    docs = docs.append_column("doc_id", batch[spec.id_col].cast(pa.int64())).append_column(
        "segment_id", pa.array([seg_id] * n, pa.int32()))
    invert = _tf_invert(spec, analyzer, quantize_norms, True)
    tf = pa.Table.from_batches(
        [out for rb in docs.to_batches() for out in invert(rb)], invert.schema)
    blocks = blocked_postings_arrow(tf, include_sentinels=True, wand_metadata=wand_meta)
    is_post = pc.equal(blocks["kind"], "post")
    post = blocks.filter(is_post).drop_columns(["kind"])
    doc = blocks.filter(pc.invert(is_post)).drop_columns(["kind"])
    td = term_dict_arrow(post)
    ds = doc_stats_arrow(doc)
    meta_cols = [c for c in spec.meta_cols if c in docs.column_names]
    dm = docs.select(["segment_id", "doc_id", *meta_cols]).append_column(
        "content_sha256", _content_sha256(batch[spec.text_fields[0].column].to_pylist()))
    _write_chunk(os.path.join(index_dir, "postings", f"chunk={chunk}"),
                 {f"kind={k}": t for k, t in (("post", post), ("doc", doc)) if t.num_rows})
    for table, t in (("term_dict", td), ("doc_stats", ds), ("doc_meta", dm)):
        _write_chunk(os.path.join(index_dir, table, f"chunk={chunk}"), {"": t})
    if store_term_vectors:
        _write_chunk(os.path.join(index_dir, "term_vectors", f"chunk={chunk}"),
                     {"": term_vectors_arrow(post)})
    return dm["doc_id"].to_pylist(), td, ds


def _write_chunk(path: str, parts: dict[str, pa.Table]) -> None:
    """Commit one table's chunk directory from the driver: each part
    (``{subdir: table}``) is written under a hidden name; then the files
    an earlier attempt left (a Spark write's part files, _SUCCESS and
    .crc files, a previous flush) are removed, and the new files renamed
    in.  A re-delivered epoch replaces the chunk, never adds to it."""
    tmps = {}
    for sub, table in parts.items():
        d = os.path.join(path, sub)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".part-0.parquet.{uuid.uuid4().hex}.tmp")
        pq.write_table(table, tmp, store_schema=False)
        tmps[tmp] = os.path.join(d, "part-0.parquet")
    for root, dirs, files in os.walk(path, topdown=False):
        for fn in files:
            if os.path.join(root, fn) not in tmps:
                os.remove(os.path.join(root, fn))
        for sub in dirs:
            if not os.listdir(os.path.join(root, sub)):
                os.rmdir(os.path.join(root, sub))
    for tmp, final in tmps.items():
        os.replace(tmp, final)


def _write_chunk_spark(batch_df, index_dir, chunk, seg_id, spec, analyzer, quantize_norms,
                       wand_meta, store_term_vectors, salt_range):
    """Write the chunk with Spark jobs -> (doc ids, term_dict rows,
    doc_stats rows), or None (nothing left behind) for an empty batch."""
    docs = batch_df.withColumn("doc_id", F.col(spec.id_col).cast("long")).withColumn(
        "segment_id", F.lit(seg_id).cast("int")
    )
    # doc_meta first: its read-back gives the batch's ids (and size)
    # without a count job, and an empty batch stops here
    meta_cols = [c for c in spec.meta_cols if c in docs.columns]
    dm_dir = os.path.join(index_dir, "doc_meta", f"chunk={chunk}")
    docs.select(
        "segment_id", "doc_id", *meta_cols,
        F.sha2(F.col(spec.text_fields[0].column), 256).alias("content_sha256"),
    ).write.mode("overwrite").parquet(dm_dir)
    dm = _arrow_dataset(dm_dir)
    ids = [] if dm is None else dm.to_table(columns=["doc_id"]).column("doc_id").to_pylist()
    if not ids:
        shutil.rmtree(dm_dir)
        return None

    spark = batch_df.sparkSession
    tf = tokenize_tf(docs, spec, analyzer, quantize_norms)
    # same single-pass layout as IndexBuilder: one partitioned write,
    # term_dict/doc_stats derived from the written parquet.
    # salt_range: same hot-term skew defusal as IndexBuilder — a LARGE
    # micro-batch (backfill/bulk-append through the NRT path) with a
    # term in every doc must not funnel that term's collect_list
    # through one reducer
    (blocked_postings(tf, include_sentinels=True, wand_metadata=wand_meta,
                      salt_range=salt_range)
     .write.mode("overwrite").partitionBy("kind")
     .parquet(os.path.join(index_dir, "postings", f"chunk={chunk}")))
    written = read_table(spark, os.path.join(index_dir, "postings", f"chunk={chunk}"))
    td = term_dict_frame(written)
    td.write.mode("overwrite").parquet(os.path.join(index_dir, "term_dict", f"chunk={chunk}"))
    _explode_doc_sentinels(written).write.mode("overwrite").parquet(
        os.path.join(index_dir, "doc_stats", f"chunk={chunk}"))
    if store_term_vectors:
        write_term_vectors_chunk(written, index_dir, chunk)

    def rows(table, schema):
        d = _arrow_dataset(os.path.join(index_dir, table, f"chunk={chunk}"))
        return schema.empty_table() if d is None else d.to_table(columns=schema.names)

    return (ids, rows("term_dict", _TD_SUMS), rows("doc_stats", _DS_SUMS))


# the term_dict and doc_stats columns a commit sums
_TD_SUMS = pa.schema([("field", pa.string()), ("term", pa.string()),
                      ("ttf", pa.int64()), ("df", pa.int64())])
_DS_SUMS = pa.schema([("field", pa.string()), ("length", pa.int32())])


def _refresh_field_stats(spark, index_dir, batch_fs: dict, n_new_docs: int,
                         omit_norms: set[str], full: bool = False) -> None:
    """Fold one batch's per-field deltas into the (tiny) field_stats
    table on the driver.  ``full=True`` (epoch retry, or no prior table)
    recomputes from doc_stats/term_dict instead — the only case that
    scans them."""
    fs_path = os.path.join(index_dir, "field_stats")
    if full or not os.path.isdir(fs_path):
        from ..index.merge import refresh_field_stats

        refresh_field_stats(spark, index_dir)
        return
    old = read_field_stats(index_dir)
    max_doc = max((int(v["max_doc"]) for v in old.values()), default=0) + n_new_docs
    cols = ("doc_count", "sum_ttf_exact", "sum_ttf", "sum_df")
    rows = [
        {"field": f, "max_doc": max_doc,
         **{c: int(old.get(f, {}).get(c) or 0) + int(batch_fs.get(f, {}).get(c) or 0)
            for c in cols}}
        for f in set(old) | set(batch_fs)
    ]
    write_field_stats(index_dir, rows, omit_norms)


def start_incremental_index(
    stream_df: DataFrame,
    index_dir: str,
    spec: CorpusSpec,
    analyzer: str = "standard",
    quantize_norms: bool = True,
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
    available_now: bool = False,
):
    """Attach the incremental indexer to a streaming DataFrame.

    Returns the StreamingQuery; callers drive it with
    ``processAllAvailable()`` (tests), ``awaitTermination()`` with
    ``available_now=True`` (bounded replay), or leave it running."""
    writer = stream_df.writeStream.foreachBatch(
        lambda bdf, eid: incremental_index_batch(
            bdf, eid, index_dir, spec, analyzer, quantize_norms
        )
    ).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
