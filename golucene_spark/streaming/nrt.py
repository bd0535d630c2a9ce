"""Near-real-time incremental indexing via Structured Streaming.

The reference has no streaming; its "NRT" is reopen-after-flush caching
(core/store/nrt.go:15-40): a reader opening the latest committed
segment set sees newly flushed docs.  The Spark-native equivalent: a
``readStream`` of new documents, each micro-batch flushed as a fresh
segment chunk through the SAME build pipeline (tokenize -> blocked
postings -> tables) and committed to the manifest; a MaterializedIndex
reopened after any batch sees everything committed so far.  Exactly-once
comes from foreachBatch epoch ids naming the chunk directories
(idempotent overwrite per epoch).

Spark writes only the chunk itself (postings, term_dict, doc_stats,
doc_meta).  The commit's small tables start no Spark job: the batch's
field-stat deltas are summed with Arrow from the chunk's own term_dict
and doc_stats files, and the folded field_stats table is written with
Arrow on the driver (``write_field_stats``).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.builder import (
    CorpusSpec,
    IndexBuilder,
    _arrow_dataset,
    _omit_norms,
    blocked_postings,
    read_field_stats,
    tokenize_tf,
    write_field_stats,
)


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
    retries; the segment id is derived from the epoch.

    Chunk names and segment-id ranges are namespaced by ``kind``: a
    checkpointed stream's epoch numbering is independent of the
    update_documents epoch scan, so an 'update' flush and a resumed
    stream reaching the same epoch must never share a chunk directory
    or segment id (they would silently overwrite each other).
    """
    if spec.id_col is None:
        raise ValueError("incremental indexing requires a stable id column")
    n = batch_df.count()
    if n == 0:
        return None
    t0 = time.time()
    if segment_offset is None:
        segment_offset = 1_000_000 if kind == "stream" else 2_000_000
    seg_id = segment_offset + int(epoch_id)
    docs = batch_df.withColumn("doc_id", F.col(spec.id_col).cast("long")).withColumn(
        "segment_id", F.lit(seg_id).cast("int")
    )
    chunk = f"{kind}-{int(epoch_id)}"
    tf = tokenize_tf(docs, spec, analyzer, quantize_norms)
    spark = batch_df.sparkSession

    # same single-pass layout as IndexBuilder: one partitioned write,
    # term_dict/doc_stats derived from the written parquet.  WAND-v2
    # metadata is inherited from the base index's layout (manifest
    # wand_layout records) so mixed chunks keep a uniform schema.
    wand_meta = False
    mdir0 = os.path.join(index_dir, "manifest")
    if os.path.isdir(mdir0):
        for fn in os.listdir(mdir0):
            if fn.endswith(".json"):
                with open(os.path.join(mdir0, fn)) as f:
                    if json.load(f).get("wand_layout"):
                        wand_meta = True
                        break
    # salt_range: same hot-term skew defusal as IndexBuilder — a LARGE
    # micro-batch (backfill/bulk-append through the NRT path) with a
    # term in every doc must not funnel that term's collect_list
    # through one reducer
    (blocked_postings(tf, include_sentinels=True, wand_metadata=wand_meta,
                      salt_range=salt_range)
     .write.mode("overwrite").partitionBy("kind")
     .parquet(os.path.join(index_dir, "postings", f"chunk={chunk}")))
    written = spark.read.parquet(os.path.join(index_dir, "postings", f"chunk={chunk}"))
    td = (
        written.filter(F.col("kind") == "post")
        .groupBy("segment_id", "field", "term")
        .agg(
            F.max("df_seg").alias("df"),
            F.max("ttf_seg").alias("ttf"),
            F.when(F.max("df_seg") == 1, F.min(F.element_at("doc_ids", 1))).alias("pulsed_doc"),
            F.when(F.max("df_seg") == 1, F.min(F.element_at("freqs", 1))).alias("pulsed_freq"),
            F.min("block_max_freq").alias("bmf_min"),
            F.max("block_max_freq").alias("bmf_max"),
            F.min("block_min_dlq").alias("bdlq_min"),
            F.max("block_min_dlq").alias("bdlq_max"),
        )
    )
    td.write.mode("overwrite").parquet(os.path.join(index_dir, "term_dict", f"chunk={chunk}"))
    from ..index.builder import _explode_doc_sentinels

    ds = _explode_doc_sentinels(written)
    ds.write.mode("overwrite").parquet(os.path.join(index_dir, "doc_stats", f"chunk={chunk}"))
    # keep the term-vectors store consistent for tv-enabled indexes:
    # None = auto (write the chunk iff the index already has the store),
    # so updateDocument'd docs keep answering getTermVector with the
    # NEW version (old rows die via the before_segment tombstone)
    if store_term_vectors is None:
        store_term_vectors = os.path.isdir(os.path.join(index_dir, "term_vectors"))
    if store_term_vectors:
        from ..index.builder import write_term_vectors_chunk

        write_term_vectors_chunk(written, index_dir, chunk)

    meta_cols = [c for c in spec.meta_cols if c in docs.columns]
    docs.select(
        "segment_id", "doc_id", *meta_cols,
        F.sha2(F.col(spec.text_fields[0].column), 256).alias("content_sha256"),
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "doc_meta", f"chunk={chunk}"))

    # this batch's per-field stat deltas, summed on the driver from the
    # chunk's own just-written doc_stats/term_dict files (chunk-sized
    # reads, no Spark job, NOT a full doc_stats/term_dict scan per
    # epoch); the manifest records carry them and the global
    # field_stats table is folded incrementally
    def chunk_sums(table, aggs):
        cols = sorted({"field", *(c for c, _ in aggs)})
        t = _arrow_dataset(os.path.join(index_dir, table, f"chunk={chunk}")).to_table(columns=cols)
        return {r["field"]: r for r in t.group_by("field").aggregate(aggs).to_pylist()}

    term_sums = chunk_sums("term_dict", [("ttf", "sum"), ("df", "sum")])
    batch_fs: dict[str, dict] = {}
    for f, r in chunk_sums("doc_stats", [("length", "count"), ("length", "sum")]).items():
        t = term_sums.get(f, {})
        batch_fs[f] = {
            "doc_count": int(r["length_count"]),
            "sum_ttf_exact": int(r["length_sum"] or 0),
            "sum_ttf": int(t.get("ttf_sum") or 0),
            "sum_df": int(t.get("df_sum") or 0),
        }

    mdir = os.path.join(index_dir, "manifest")
    manifest_path = os.path.join(mdir, f"{chunk}.json")
    # re-delivered epoch (exactly-once retry): the chunk data was
    # idempotently overwritten above, but its delta may already be folded
    # into field_stats — fall back to a full recompute in that rare case
    retry = os.path.exists(manifest_path)
    incremental = not retry and os.path.isdir(os.path.join(index_dir, "field_stats"))
    omit_norms = _omit_norms(spec)

    rec = {
        "chunk": chunk,
        "status": "committed",
        "kind": kind,
        "epoch": int(epoch_id),
        "segment_id": seg_id,
        "n_docs": n,
        "quantize_norms": quantize_norms,
        "omit_norms_fields": sorted(omit_norms),
        "field_stats": batch_fs,
        "stats_mode": "incremental" if incremental else "recompute",
        "wall_sec": round(time.time() - t0, 3),
    }
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{chunk}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, manifest_path)

    _refresh_field_stats(spark, index_dir, batch_fs, n, omit_norms, full=not incremental)
    # keep the (optional) trigram side table fresh: delta-append this
    # chunk's terms so infix seeks never fall back to a full dictionary
    # scan on a living index (no-op when the index has no trigram table)
    from ..index.trigram import refresh_trigram_index

    refresh_trigram_index(spark, index_dir, new_terms=td.select("field", "term"))
    return rec


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
