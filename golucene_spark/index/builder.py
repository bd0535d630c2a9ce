"""Partition-parallel inverted-index build.

Re-expresses the reference write path (core/index/writer.go,
documentsWriter.go, defaultIndexingChain.go, termsHashConsumerPerField.go)
as one Spark plan:

    docs ->(assign segment + docID)-> mapInPandas tokenize/invert
         ->(groupBy segment,field,term)-> blocked posting lists
         -> parquet tables {postings, term_dict, doc_stats, doc_meta,
                            field_stats} + manifest

Design points vs the reference:
- The DWPT thread pool (documentsWriter.go:33-60) becomes Spark
  partitions; a *segment* is a deterministic hash bucket of documents,
  so segment membership is stable across reruns (resume-safe).
- Per-doc inversion (defaultIndexingChain.go:270-394) happens inside a
  vectorized pandas stage: token streams never leave Python row-by-row.
- The in-RAM TermsHash + flush sort (termsHashConsumerPerField.go:288-369,
  :506) becomes one groupBy(segment,field,term) shuffle + sort_array —
  Spark's partial aggregation replaces the hand-rolled byte pools.
- Posting lists are chunked into 128-doc blocks with block metadata
  (max freq / min quantized dl / doc range) mirroring the Lucene41
  block + skip-list layout (core/codec/lucene41/postingsWriter.go:278-320,
  skipWriter.go:36-150); the metadata powers block-max pruning at query
  time.  Bit-packing itself is delegated to Parquet encodings
  (forUtil.go's job).
- Norms: one byte per doc, SmallFloat 3.15 quantization of
  1/sqrt(length) (defaultIndexingChain.go:497-506, search.go:499-507);
  the decoded quantized length is denormalized into each posting block
  so scoring never joins the (huge) doc_stats table.
- Commit protocol (writer.go:1021-1266, segmentInfos.go:21-199): chunked
  writes into chunk=K subdirectories + a manifest row per segment with
  lineage + metrics; an interrupted build resumes by skipping committed
  chunks (north-rule checkpoint/resume).
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..analysis import get_analyzer
from ..search.cache import SnapshotCache
from . import smallfloat

BLOCK_SIZE = 128  # core/codec/lucene41/postingsFormat.go:22

DOC_SENTINEL_FIELD = "__doc__"

TF_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), True),
        T.StructField("freq", T.IntegerType(), False),
        T.StructField("positions", T.BinaryType(), True),
        T.StructField("dlq", T.DoubleType(), False),
        T.StructField("norm_byte", T.IntegerType(), False),
    ]
)

# payload-carrying variant: only specs with a FieldSpec(payloads=True)
# pay for the extra per-posting blob column
TF_SCHEMA_PAYLOADS = T.StructType(
    TF_SCHEMA.fields[:6]
    + [T.StructField("payloads", T.BinaryType(), True)]
    + TF_SCHEMA.fields[6:]
)


def _spec_has_payloads(spec) -> bool:
    return any(getattr(f, "payloads", False) for f in spec.text_fields)


@dataclass(frozen=True)
class FieldSpec:
    """Per-field index configuration — the per-field codec/IndexOptions
    dispatch (C10): the reference routes each field through a
    per-field consumer chain (defaultIndexingChain.go's PerField,
    codec/perfield/); here each field carries its own options and the
    inversion stage dispatches on them.

    ``positions=False``: DOCS_AND_FREQS only — position blobs are
    omitted for this field (phrase queries need positions).
    ``omit_norms=True``: no length normalization — norms encode 1.0
    and the field's collection sum_ttf reads as 0, so BM25 degrades to
    idf*(k1+1)*freq/(freq+k1) and classic to norm(1), exactly the
    omitNorms scoring of keyword fields (field.go:194-271).

    ``boost`` / ``boost_col``: index-time boost folded into the norm as
    ``boost/sqrt(length)`` before SmallFloat encoding — the reference's
    per-field boost (core/document/field.go:16-29) feeding lengthNorm
    at core/search/search.go:499-507.  ``boost_col`` names a source
    column holding a per-document multiplier (Lucene's per-field-
    instance boost); the effective boost is boost * boost_col value.
    Ignored when omit_norms (no norm is written to fold it into)."""

    name: str              # index field name
    column: str            # source column
    tokenized: bool = True  # TextField vs StringField (field.go:194-271)
    positions: bool = True  # index positions (DOCS_AND_FREQS_AND_POSITIONS)
    omit_norms: bool = False
    # per-field analyzer override (the PerFieldAnalyzerWrapper role of
    # core Lucene's analysis/miscellaneous); None = the index analyzer
    analyzer: str | None = None
    boost: float = 1.0
    boost_col: str | None = None
    # per-position payloads (termsHashConsumerPerField.go:268-282 writes
    # payload bytes into the prox stream).  With payloads=True, tokens of
    # the form ``term|<float>`` are split DelimitedPayloadTokenFilter-
    # style ('|' delimiter, float encoder; bare tokens get 1.0) and the
    # per-occurrence float32 payloads are stored packed alongside the
    # positions blob.  Requires positions indexing (prox-stream data)
    # AND the ``whitespace`` analyzer for this field: every other
    # analyzer tokenizes '|' away (the delimiter would be destroyed
    # BEFORE the payload split, silently indexing junk numeric terms
    # with payload 1.0) — tokenize_tf validates this at build time.
    payloads: bool = False


@dataclass
class CorpusSpec:
    """Shape of the input table and how its columns map to index fields."""

    text_fields: list = dc_field(default_factory=lambda: [FieldSpec("content", "content", True)])
    keyword_fields: list = dc_field(
        default_factory=lambda: [
            FieldSpec("repo", "repo", False),
            FieldSpec("path", "path", False),
            FieldSpec("commit", "commit", False),
            FieldSpec("lang", "lang", False),
        ]
    )
    key_cols: list = dc_field(default_factory=lambda: ["repo", "path", "commit"])
    id_col: str | None = None  # pre-existing stable doc id column
    meta_cols: list = dc_field(default_factory=lambda: ["repo", "path", "commit", "lang"])

    @staticmethod
    def source_code():
        return CorpusSpec()

    @staticmethod
    def documents():
        """The driver's documents table (doc_id, text, lang, source, ...)."""
        return CorpusSpec(
            text_fields=[FieldSpec("text", "text", True)],
            keyword_fields=[FieldSpec("lang", "lang", False), FieldSpec("source", "source", False)],
            key_cols=["doc_id"],
            id_col="doc_id",
            meta_cols=["lang", "source"],
        )


SEGMENT_STRIDE = 1 << 40  # ~1.1e12 docs per segment, 2^23 segments in int64


def assign_doc_ids(df: DataFrame, spec: CorpusSpec, num_segments: int) -> DataFrame:
    """Stable global docIDs: segment = hash bucket of the key columns,
    doc_id = segment_id * SEGMENT_STRIDE + row_number over the
    deterministic key sort within the segment.

    Striding replaces the reference's dense cumulative docBase
    (compositeReader.go:126-161): segments keep disjoint ORDERED id
    ranges (so merge-by-concatenation still holds) without the global
    count barrier a cumulative base needs — at 10^12-file scale a
    pre-count pass over the input is a whole extra scan.  Never
    monotonically_increasing_id (unstable across reruns)."""
    from pyspark.sql import Window

    if spec.id_col:
        return df.withColumn("doc_id", F.col(spec.id_col).cast("long")).withColumn(
            "segment_id", F.pmod(F.xxhash64(F.col(spec.id_col)), F.lit(num_segments)).cast("int")
        )
    seg = F.pmod(F.xxhash64(*[F.col(c) for c in spec.key_cols]), F.lit(num_segments)).cast("int")
    w = Window.partitionBy("segment_id").orderBy(*spec.key_cols)
    return (
        df.withColumn("segment_id", seg)
        .withColumn(
            "doc_id",
            F.col("segment_id").cast("long") * SEGMENT_STRIDE
            + F.row_number().over(w)
            - 1,
        )
    )


def _tf_invert(spec: CorpusSpec, analyzer_name: str, quantize: bool, index_positions: bool):
    """Per-doc inversion (tokenize + term-freq + norms) of one Arrow
    batch: ``invert(rb)`` yields the batch's TF record batches.

    Pure function of its batch, with no process-wide side effects: the
    mapInArrow stage (``_tf_arrow_fn``) runs it on the workers and the
    in-process NRT flush runs it on the driver.  Emits one row per
    (doc, field, term) plus a '__doc__' sentinel row per (doc, text
    field) carrying length + a Python-side sha256 of the text
    (cross-checked against the JVM-side sha2 in doc_meta by
    verify_index).

    Output batches are assembled directly as Arrow arrays from the NumPy
    reduce results (pa.ListArray.from_arrays for positions) — no per-
    element Python objects on the way out.
    """
    import pyarrow as pa

    text_fields = [
        (f.name, f.column, getattr(f, "positions", True), getattr(f, "omit_norms", False),
         getattr(f, "analyzer", None), float(getattr(f, "boost", 1.0)),
         getattr(f, "boost_col", None), getattr(f, "payloads", False))
        for f in spec.text_fields
    ]
    kw_fields = [(f.name, f.column) for f in spec.keyword_fields]
    has_payloads = _spec_has_payloads(spec)
    pa_schema = pa.schema(
        [
            ("segment_id", pa.int32()),
            ("doc_id", pa.int64()),
            ("field", pa.string()),
            ("term", pa.string()),
            ("freq", pa.int32()),
            ("positions", pa.binary()),
        ]
        + ([("payloads", pa.binary())] if has_payloads else [])
        + [
            ("dlq", pa.float64()),
            ("norm_byte", pa.int32()),
        ]
    )

    def _const_str(value: str, n: int) -> "pa.Array":
        return pa.DictionaryArray.from_arrays(
            pa.array(np.zeros(n, dtype=np.int32)), pa.array([value])
        ).cast(pa.string())

    def _null_positions(n: int) -> "pa.Array":
        return pa.nulls(n, pa.binary())

    def _mk(seg, doc, field_arr, term_arr, freq, positions, dlq, nb,
            payloads=None):
        arrays = [
            pa.array(seg.astype(np.int32)),
            pa.array(doc.astype(np.int64)),
            field_arr,
            term_arr,
            pa.array(freq.astype(np.int32)),
            positions,
        ]
        if has_payloads:
            arrays.append(
                payloads if payloads is not None else _null_positions(len(freq))
            )
        arrays += [
            pa.array(dlq.astype(np.float64)),
            pa.array(nb.astype(np.int32)),
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=pa_schema)

    # Cap the NumPy working-set per slice: this sandbox's page-fault path
    # is slow and globally serialized, so each worker keeps a small
    # reusable pool instead of faulting in batch-sized temporaries.
    slice_rows = int(os.environ.get("GOLUCENE_TF_SLICE_ROWS", "2048"))

    analyzers: dict = {}  # built on first use, in the process that inverts

    def invert(rb0):
        if not analyzers:
            analyzers.update({
                fname: get_analyzer(f_ana or analyzer_name)
                for fname, _c, _p, _o, f_ana, _b, _bc, _pl in text_fields
            })
        for off in range(0, rb0.num_rows, slice_rows) or [0]:
            rb = rb0.slice(off, slice_rows)
            n = rb.num_rows
            if n == 0:
                continue
            yield from _one(rb, n, analyzers)

    def _one(rb, n, analyzers):
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            doc_ids = cols["doc_id"].to_numpy(zero_copy_only=False)
            seg_ids = cols["segment_id"].to_numpy(zero_copy_only=False)
            for fname, col, f_positions, f_omit_norms, _f_ana, f_boost, f_boost_col, f_payloads in text_fields:
                texts = cols[col].to_pylist()
                terms, rows, pos = analyzers[fname].analyze_batch(texts)
                pay = None
                if f_payloads and len(terms):
                    # DelimitedPayloadTokenFilter ('|', float encoder):
                    # split at the LAST delimiter; bare tokens carry 1.0
                    parts = pd.Series(terms, dtype=object).str.rpartition("|")
                    pre = parts[0].to_numpy(dtype=object)
                    payvals = pd.to_numeric(parts[2], errors="coerce").to_numpy(
                        dtype=np.float64
                    )
                    has = (pre != "") & ~np.isnan(payvals)
                    terms = np.where(has, pre, terms)
                    pay = np.where(has, payvals, 1.0).astype(np.float32)
                if len(terms):
                    # per-doc TF via factorize + stable argsort reduce
                    codes, uniq = pd.factorize(terms, sort=False)
                    uniq = np.asarray(uniq, dtype=object)
                    key = rows * np.int64(len(uniq)) + codes
                    order = np.argsort(key, kind="stable")
                    sk = key[order]
                    b0 = np.flatnonzero(np.concatenate(([True], sk[1:] != sk[:-1])))
                    freq = np.diff(np.concatenate((b0, [len(sk)]))).astype(np.int32)
                    g_row = rows[order][b0]
                    g_term = pa.array(uniq, type=pa.string()).take(
                        pa.array(codes[order][b0].astype(np.int64))
                    )
                    if index_positions and f_positions:
                        # packed little-endian int32 per posting (the
                        # delta-varint byte-slice idea of W4, zero-copy
                        # via Arrow binary offsets); decode with
                        # np.frombuffer(buf, '<i4')
                        pos_bytes = pos[order].astype("<i4").tobytes()
                        offsets = (np.concatenate((b0, [len(sk)])) * 4).astype(np.int32)
                        positions = pa.Array.from_buffers(
                            pa.binary(), len(b0),
                            [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(pos_bytes)],
                        )
                    else:
                        positions = _null_positions(len(b0))
                    if pay is not None:
                        # packed float32 per posting, same grouping/order
                        # as the positions blob (prox-stream layout)
                        pay_bytes = pay[order].astype("<f4").tobytes()
                        pay_offsets = (np.concatenate((b0, [len(sk)])) * 4).astype(np.int32)
                        pay_blob = pa.Array.from_buffers(
                            pa.binary(), len(b0),
                            [None, pa.py_buffer(pay_offsets.tobytes()),
                             pa.py_buffer(pay_bytes)],
                        )
                    else:
                        pay_blob = None
                    dl = np.bincount(rows, minlength=n).astype(np.int64)
                else:
                    g_row = np.array([], dtype=np.int64)
                    g_term = pa.array([], type=pa.string())
                    freq = np.array([], dtype=np.int32)
                    positions = _null_positions(0)
                    pay_blob = None
                    dl = np.zeros(n, dtype=np.int64)
                if f_omit_norms:
                    # omitNorms: every doc's norm encodes 1.0; scoring
                    # sees dlq=1 (keyword-field degradation)
                    nb = np.full(n, 124, dtype=np.int64)  # encode(1.0)
                    dlq_doc = np.ones(n, dtype=np.float64)
                else:
                    # index-time boost folded into the norm (lengthNorm =
                    # boost/sqrt(length), search.go:499-507); the decoded
                    # view BM25 scores against is then length/boost^2
                    if f_boost_col is not None:
                        bvals = cols[f_boost_col].to_numpy(zero_copy_only=False).astype(np.float64)
                        bvals = np.where(np.isfinite(bvals), bvals, 1.0)
                        boost_arr = f_boost * bvals
                    else:
                        boost_arr = f_boost
                    nb = smallfloat.encode_norm_from_length(dl, boost_arr)
                    if quantize:
                        dlq_doc = smallfloat.quantized_doc_length(nb).astype(np.float64)
                    else:
                        boost_sq = np.asarray(boost_arr, dtype=np.float64) ** 2
                        dlq_doc = dl.astype(np.float64) / boost_sq
                if len(g_row):
                    yield _mk(
                        seg_ids[g_row], doc_ids[g_row], _const_str(fname, len(g_row)),
                        g_term, freq, positions, dlq_doc[g_row], nb[g_row],
                        pay_blob,
                    )
                # sentinel doc rows: term = sha256(text), freq = doc length
                shas = pa.array(
                    [hashlib.sha256((t or "").encode("utf-8")).hexdigest() for t in texts]
                )
                yield _mk(
                    seg_ids, doc_ids, _const_str(DOC_SENTINEL_FIELD + fname, n),
                    shas, dl, _null_positions(n), dlq_doc, nb,
                )
            for fname, col in kw_fields:
                vals = cols[col]
                mask = pa.compute.is_valid(vals).to_numpy(zero_copy_only=False)
                m = int(mask.sum())
                if m:
                    idx = np.flatnonzero(mask)
                    yield _mk(
                        seg_ids[idx],
                        doc_ids[idx],
                        _const_str(fname, m),
                        vals.take(pa.array(idx)),
                        np.ones(m, dtype=np.int32),
                        _null_positions(m),
                        np.full(m, 1.0),
                        np.full(m, 124),  # encode(1.0)
                    )

    invert.schema = pa_schema
    return invert


def _tf_arrow_fn(spec: CorpusSpec, analyzer_name: str, quantize: bool, index_positions: bool):
    """mapInArrow fn: ``_tf_invert`` over the stage's batches, plus the
    worker-only post-fork GC hygiene.  Never call it on the driver:
    ``gc.freeze()`` there would pin every live driver object, py4j
    JavaObject cycles that are garbage but not yet collected included,
    so their JVM objects would never be freed."""
    invert = _tf_invert(spec, analyzer_name, quantize, index_positions)

    def fn(batches):
        # post-fork hygiene (once per worker process): pyspark workers
        # are forked from a daemon; cyclic GC writing to inherited
        # object headers triggers a COW storm that this VM's kernel
        # serializes.  Freeze the inherited heap so GC never touches it.
        import gc

        if not globals().get("_GC_FROZEN"):
            gc.freeze()
            globals()["_GC_FROZEN"] = True
        for rb in batches:
            yield from invert(rb)

    return fn


def _check_payload_analyzers(spec: CorpusSpec, analyzer: str) -> None:
    for f in spec.text_fields:
        if getattr(f, "payloads", False):
            eff = getattr(f, "analyzer", None) or analyzer
            if eff != "whitespace":
                raise ValueError(
                    f"FieldSpec(name={f.name!r}, payloads=True) requires the "
                    f"'whitespace' analyzer (got {eff!r}): other analyzers "
                    "tokenize the '|' payload delimiter away before the "
                    "DelimitedPayload split can see it"
                )


def tokenize_tf(docs: DataFrame, spec: CorpusSpec, analyzer: str = "standard",
                quantize: bool = True, index_positions: bool = True) -> DataFrame:
    """docs (with doc_id, segment_id) -> flat TF rows (incl. sentinels)."""
    _check_payload_analyzers(spec, analyzer)
    cols = ["segment_id", "doc_id"] + sorted(
        {f.column for f in spec.text_fields}
        | {f.column for f in spec.keyword_fields}
        | {f.boost_col for f in spec.text_fields if getattr(f, "boost_col", None)}
    )
    schema = TF_SCHEMA_PAYLOADS if _spec_has_payloads(spec) else TF_SCHEMA
    return docs.select(*cols).mapInArrow(
        _tf_arrow_fn(spec, analyzer, quantize, index_positions), schema
    )


def blocked_postings(tf: DataFrame, block_size: int = BLOCK_SIZE,
                     salt_range: int | None = None,
                     include_sentinels: bool = False,
                     wand_metadata: bool = False) -> DataFrame:
    """Flat TF rows -> per-(segment,field,term) 128-doc posting blocks with
    block-max metadata.  Pure Catalyst (whole-stage codegen), one shuffle.

    ``salt_range``: skew defusal for hot terms (merge.go:494-641's concern
    re-expressed).  When set, the collect_list groups by an additional
    range-salt ``doc_id div salt_range`` so no single reducer ever holds
    more than salt_range postings of a hot term; buckets are doc-range-
    disjoint so block ordering and metadata stay exact (blocks at bucket
    tails may hold <128 docs).  df/ttf per term are re-aggregated across
    buckets via the tiny per-term window."""
    from pyspark.sql import Window

    flat = tf if include_sentinels else tf.filter(
        ~F.col("field").startswith(DOC_SENTINEL_FIELD)
    )
    has_payloads = "payloads" in tf.columns
    plist = F.sort_array(
        F.collect_list(F.struct(
            "doc_id", "freq", "dlq", "norm_byte", "positions",
            *(["payloads"] if has_payloads else []),
        ))
    )
    if salt_range:
        g0 = (
            # integer division: float division loses precision past 2^53
            # (doc_id = segment_id * 2^40 + row), misplacing boundary docs
            flat.withColumn("salt", F.expr(f"doc_id div {int(salt_range)}"))
            .groupBy("segment_id", "field", "term", "salt")
            .agg(
                plist.alias("plist"),
                F.count("*").alias("df_bucket"),
                F.sum("freq").alias("ttf_bucket"),
            )
        )
        w = Window.partitionBy("segment_id", "field", "term")
        g = g0.select(
            "segment_id",
            "field",
            "term",
            "salt",
            "plist",
            F.sum("df_bucket").over(w).alias("df_seg"),
            F.sum("ttf_bucket").over(w).alias("ttf_seg"),
            F.count("*").over(w).alias("n_buckets"),
        )
    else:
        g = (
            flat.groupBy("segment_id", "field", "term")
            .agg(
                plist.alias("plist"),
                F.count("*").alias("df_seg"),
                F.sum("freq").alias("ttf_seg"),
            )
            .withColumn("salt", F.lit(0).cast("long"))
            .withColumn("n_buckets", F.lit(1).cast("long"))
        )
    nblocks = F.ceil(F.size("plist") / block_size).cast("int")
    # block ids stay unique + doc-ordered across salt buckets
    blocks_per_bucket = (salt_range // block_size + 1) if salt_range else 1
    blk = F.explode(
        F.transform(
            F.sequence(F.lit(0), nblocks - 1),
            lambda b: F.struct(
                (F.col("salt") * blocks_per_bucket + b).cast("long").alias("block_id"),
                F.slice("plist", b * block_size + 1, block_size).alias("chunk"),
            ),
        )
    )
    e = g.select(
        "segment_id", "field", "term", "df_seg", "ttf_seg", "n_buckets", blk.alias("b")
    ).select(
        "segment_id",
        "field",
        "term",
        "df_seg",
        "ttf_seg",
        "n_buckets",
        F.col("b.block_id").alias("block_id"),
        F.col("b.chunk").alias("chunk"),
    )
    doc_ids = F.transform("chunk", lambda x: x["doc_id"])
    freqs = F.transform("chunk", lambda x: x["freq"])
    dlqs = F.transform("chunk", lambda x: x["dlq"])
    nbs = F.transform("chunk", lambda x: x["norm_byte"])
    poss = F.transform("chunk", lambda x: x["positions"])
    pays = F.transform("chunk", lambda x: x["payloads"]) if has_payloads else None
    out = e.select(
        "segment_id",
        "field",
        "term",
        "df_seg",
        "ttf_seg",
        "n_buckets",
        "block_id",
        doc_ids.alias("doc_ids"),
        freqs.cast("array<int>").alias("freqs"),
        dlqs.alias("dlqs"),
        nbs.cast("array<int>").alias("norm_bytes"),
        poss.alias("positions"),
        *([pays.alias("payloads")] if has_payloads else []),
        F.size("chunk").alias("block_len"),
        F.array_max(freqs).cast("int").alias("block_max_freq"),
        F.array_min(dlqs).alias("block_min_dlq"),
        # block-max WAND companions (pay-as-you-go, ``wand_metadata``):
        # with the block's max dlq, metadata alone yields a LOWER bound
        # on the best docs inside the block (every max-freq doc has
        # dlq <= block_max_dlq), and the count of docs attaining max
        # freq says how many docs that bound certifies — the top-k
        # threshold then seeds from metadata with no posting decode.
        # Every build pays block_max_freq/block_min_dlq (term-dict
        # spreads need them); only WAND-layout builds pay the rest.
        *([F.array_max(dlqs).alias("block_max_dlq")] if wand_metadata else []),
        F.element_at(doc_ids, 1).alias("block_first_doc"),
        F.element_at(doc_ids, -1).alias("block_last_doc"),
        F.when(F.col("field").startswith(DOC_SENTINEL_FIELD), "doc")
        .otherwise("post")
        .alias("kind"),
    )
    if wand_metadata:
        # separate projection so the comparison reuses the computed
        # block_max_freq column instead of re-evaluating array_max per
        # element inside the lambda
        out = out.withColumn(
            "block_max_freq_cnt",
            F.size(F.filter(F.col("freqs"), lambda x: x == F.col("block_max_freq"))),
        )
    return out


def _list_of(offsets, values, nullable: bool):
    return pa.ListArray.from_arrays(
        offsets, values, type=pa.list_(pa.field("element", values.type, nullable)))


def blocked_postings_arrow(tf: "pa.Table", block_size: int = BLOCK_SIZE,
                           include_sentinels: bool = False,
                           wand_metadata: bool = False) -> "pa.Table":
    """The Arrow/NumPy twin of ``blocked_postings`` (without salting):
    flat TF rows -> the same 128-doc posting blocks, row for row and
    column for column (``kind`` included), sorted by (segment_id, field,
    term, block_id).  One sort, then every block column is a reduceat
    over the block starts; the in-process NRT flush runs it on the
    driver."""
    import pyarrow.compute as pc

    if not include_sentinels:
        tf = tf.filter(pc.invert(pc.starts_with(tf["field"], DOC_SENTINEL_FIELD)))
    tf = tf.sort_by([("segment_id", "ascending"), ("field", "ascending"),
                     ("term", "ascending"), ("doc_id", "ascending")]).combine_chunks()
    n = tf.num_rows
    col = lambda c: tf[c].chunk(0) if tf[c].num_chunks else pa.array([], tf[c].type)
    # a row starts a (segment, field, term) group when any key changes
    seg = col("segment_id").to_numpy()
    same = np.zeros(n, dtype=bool)
    same[1:] = seg[1:] == seg[:-1]
    for c in ("field", "term"):
        codes = pc.fill_null(col(c).dictionary_encode().indices, -1).to_numpy()
        same[1:] &= codes[1:] == codes[:-1]
    starts = np.flatnonzero(~same)
    group = np.cumsum(~same) - 1
    rank = np.arange(n) - starts[group]
    bs = np.flatnonzero(rank % block_size == 0)  # block starts
    lens = np.diff(np.append(bs, n))
    bg = group[bs]
    freq, dlq, doc = (col(c).to_numpy() for c in ("freq", "dlq", "doc_id"))
    df = np.diff(np.append(starts, n))
    ttf = np.add.reduceat(freq.astype(np.int64), starts)
    bmf = np.maximum.reduceat(freq, bs)
    offsets = pa.array(np.append(bs, n).astype(np.int32))
    field = col("field").take(pa.array(bs))
    out = {
        "segment_id": pa.array(seg[bs], pa.int32()),
        "field": field,
        "term": col("term").take(pa.array(bs)),
        "df_seg": pa.array(df[bg], pa.int64()),
        "ttf_seg": pa.array(ttf[bg], pa.int64()),
        "n_buckets": pa.array(np.ones(len(bs), dtype=np.int64)),
        "block_id": pa.array((rank[bs] // block_size).astype(np.int64)),
        "doc_ids": _list_of(offsets, col("doc_id"), False),
        "freqs": _list_of(offsets, col("freq"), False),
        "dlqs": _list_of(offsets, col("dlq"), False),
        "norm_bytes": _list_of(offsets, col("norm_byte"), False),
        "positions": _list_of(offsets, col("positions"), True),
    }
    if "payloads" in tf.column_names:
        out["payloads"] = _list_of(offsets, col("payloads"), True)
    out["block_len"] = pa.array(lens.astype(np.int32))
    out["block_max_freq"] = pa.array(bmf.astype(np.int32))
    out["block_min_dlq"] = pa.array(np.minimum.reduceat(dlq, bs), pa.float64())
    if wand_metadata:
        out["block_max_dlq"] = pa.array(np.maximum.reduceat(dlq, bs), pa.float64())
    out["block_first_doc"] = pa.array(doc[bs], pa.int64())
    out["block_last_doc"] = pa.array(doc[bs + lens - 1], pa.int64())
    out["kind"] = pc.if_else(pc.starts_with(field, DOC_SENTINEL_FIELD), "doc", "post")
    if wand_metadata:
        out["block_max_freq_cnt"] = pa.array(np.add.reduceat(
            (freq == np.repeat(bmf, lens)).astype(np.int32), bs), pa.int32())
    return pa.table(out)


def term_dict_frame(written: DataFrame) -> DataFrame:
    """term_dict rows of written posting blocks (their kind=post rows):
    per (segment, field, term) df/ttf, singleton pulsing
    (postingsWriter.go:388-392: a df==1 term carries its only doc inline
    in the dictionary) and the block-metadata spread that lets WAND
    detect degenerate (uniform upper-bound) terms from the term stats
    it already reads."""
    return (
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


def term_dict_arrow(post: "pa.Table") -> "pa.Table":
    """The Arrow twin of ``term_dict_frame`` over
    ``blocked_postings_arrow``'s kind=post blocks, where each term's
    blocks are contiguous and start at block_id 0."""
    first = np.flatnonzero(post["block_id"].to_numpy() == 0)
    at = lambda c: post[c].to_numpy()[first]
    spread = lambda c, fn: fn.reduceat(post[c].to_numpy(), first)
    df = at("df_seg")
    single = df != 1
    return pa.table({
        "segment_id": pa.array(at("segment_id"), pa.int32()),
        "field": post["field"].take(pa.array(first)),
        "term": post["term"].take(pa.array(first)),
        "df": pa.array(df, pa.int64()),
        "ttf": pa.array(at("ttf_seg"), pa.int64()),
        "pulsed_doc": pa.array(at("block_first_doc"), pa.int64(), mask=single),
        "pulsed_freq": pa.array(at("block_max_freq"), pa.int32(), mask=single),
        "bmf_min": pa.array(spread("block_max_freq", np.minimum), pa.int32()),
        "bmf_max": pa.array(spread("block_max_freq", np.maximum), pa.int32()),
        "bdlq_min": pa.array(spread("block_min_dlq", np.minimum), pa.float64()),
        "bdlq_max": pa.array(spread("block_min_dlq", np.maximum), pa.float64()),
    })


def doc_stats_arrow(doc_blocks: "pa.Table") -> "pa.Table":
    """doc_stats rows of kind=doc sentinel blocks: the Arrow twin of
    ``_explode_doc_sentinels`` (one row per doc, identical texts in a
    segment included)."""
    import pyarrow.compute as pc

    parent = pc.list_parent_indices(doc_blocks["doc_ids"])
    flat = lambda c: pc.list_flatten(doc_blocks[c])
    return pa.table({
        "segment_id": doc_blocks["segment_id"].take(parent),
        "doc_id": flat("doc_ids"),
        "field": pc.utf8_slice_codeunits(doc_blocks["field"], len(DOC_SENTINEL_FIELD)).take(parent),
        "length": flat("freqs"),
        "norm_byte": flat("norm_bytes"),
        "dlq": flat("dlqs"),
        "content_sha256": doc_blocks["term"].take(parent),
    })


def term_vectors_arrow(post: "pa.Table") -> "pa.Table":
    """The term-vectors rows of kind=post blocks, doc-major: the Arrow
    twin of ``write_term_vectors_chunk``'s relayout."""
    import pyarrow.compute as pc

    parent = pc.list_parent_indices(post["doc_ids"])
    flat = lambda c: pc.list_flatten(post[c])
    return pa.table({
        "segment_id": post["segment_id"].take(parent),
        "doc_id": flat("doc_ids"),
        "field": post["field"].take(parent),
        "term": post["term"].take(parent),
        "freq": flat("freqs"),
        "positions": flat("positions"),
    }).sort_by([("doc_id", "ascending"), ("field", "ascending"), ("term", "ascending")])

def _collect_term_ranges(spark: SparkSession, index_dir: str,
                         chunk: int | str) -> dict | None:
    """Per-file (field, term) tuple ranges of a chunk's kind=post files
    — the FST terms index (.tip) role at table level: a reader consults
    this tiny map to open ONLY the files whose range can contain a
    query (field, term) (realized file-level pruning, beyond Parquet's
    in-task row-group pruning).

    EXACT lexicographic tuple bounds, not column-wise footer stats: one
    small job aggregates min/max of struct(field, term) per
    input_file_name() over just those two columns.  Because the write
    path range-partitions on (kind, field, term), files hold DISJOINT
    key ranges, so at most one file's [lo, hi] interval can contain any
    probe tuple — pruning is deterministic.  (Column-wise stats could
    not express this: a file mixing fields has a term range spanning
    every field's vocabulary, and even per-row-group [field, term]
    column ranges false-positive across a field boundary — measured
    flaky at sf0.1.)  Value shape: {"tuple": [[fmin, tmin], [fmax,
    tmax]]}; legacy manifests carry a bare [min_term, max_term] list."""
    post_dir = os.path.join(index_dir, "postings", f"chunk={chunk}", "kind=post")
    if not os.path.isdir(post_dir):
        return None
    rows = (
        spark.read.parquet(post_dir)
        .select(
            F.input_file_name().alias("_f"),
            F.struct("field", "term").alias("_ft"),
        )
        .groupBy("_f")
        .agg(F.min("_ft").alias("_lo"), F.max("_ft").alias("_hi"))
        .collect()
    )
    from urllib.parse import unquote

    def _uri_to_path(uri: str) -> str:
        # input_file_name() returns a percent-encoded URI ("file:/x",
        # "file:///x") — decode so manifest keys resolve back to real
        # filesystem paths.  LOCAL-ONLY by design: non-file schemes pass
        # through unchanged, because stripping scheme+authority from a
        # remote URI while index_dir stays scheme-qualified would make
        # the relpath below emit '../..' garbage keys (ADVICE r5); a
        # remote-store deployment should key ranges on full URIs.
        # Parsed by hand, not urlparse: Hadoop leaves '#'/'?' raw in
        # local paths, which urlparse would truncate as fragment/query;
        # plain non-URI paths pass through UNdecoded (a literal '%20'
        # dir must stay).
        head = uri.split("/", 1)[0]
        if ":" not in head:
            return uri
        if head.split(":", 1)[0] != "file":
            return uri
        rest = uri.split(":", 1)[1]
        if rest.startswith("//"):  # file://authority/path
            tail = rest[2:]
            rest = "/" + tail.split("/", 1)[1] if "/" in tail else "/"
        return unquote(rest)

    out: dict = {}
    for r in rows:
        rel = os.path.relpath(_uri_to_path(r["_f"]), index_dir)
        out[rel] = {"tuple": [[r["_lo"]["field"], r["_lo"]["term"]],
                              [r["_hi"]["field"], r["_hi"]["term"]]]}
    return out or None


def _ranges_may_contain(ranges, field: str, terms: list[str]) -> bool:
    """True when a file's recorded ranges cannot rule out holding a
    posting for (field, term in terms).  Handles the exact tuple shape,
    the interim round-5 row-group shape, and legacy bare
    [min_term, max_term] lists."""
    if isinstance(ranges, (list, tuple)):
        lo, hi = ranges
        return any(lo <= t <= hi for t in terms)
    tup = ranges.get("tuple")
    if tup:
        (fmin, tmin), (fmax, tmax) = tup
        return any((fmin, tmin) <= (field, t) <= (fmax, tmax) for t in terms)
    rgs = ranges.get("rg")
    if rgs:
        return any(
            fmin <= field <= fmax and tmin <= t <= tmax
            for fmin, fmax, tmin, tmax in rgs
            for t in terms
        )
    lo, hi = ranges["term"]
    return any(lo <= t <= hi for t in terms)


def _explode_doc_sentinels(written: DataFrame) -> DataFrame:
    """kind=doc sentinel blocks -> one doc_stats row per doc.

    Sentinel rows are keyed by term=sha256(text), so docs with IDENTICAL
    text in a segment share one posting list; taking element_at(...,1)
    would silently drop all but the first such doc (wrong maxDoc/avgdl
    for every query).  Explode the zipped block arrays instead."""
    return written.filter(F.col("kind") == "doc").select(
        "segment_id",
        F.expr(f"substring(field, {len(DOC_SENTINEL_FIELD) + 1})").alias("field"),
        F.col("term").alias("content_sha256"),
        F.explode(F.arrays_zip("doc_ids", "freqs", "norm_bytes", "dlqs")).alias("e"),
    ).select(
        "segment_id",
        F.col("e.doc_ids").alias("doc_id"),
        "field",
        F.col("e.freqs").cast("int").alias("length"),
        F.col("e.norm_bytes").alias("norm_byte"),
        F.col("e.dlqs").alias("dlq"),
        "content_sha256",
    )


def write_term_vectors_chunk(written: DataFrame, index_dir: str, chunk: str) -> None:
    """Doc-major relayout of one chunk's written postings into the
    term-vectors store (the .tvd/.tvx role) — derived by re-reading the
    written parquet, never a second tokenize: explode the 128-doc
    blocks back to per-posting rows, then range-partition + sort by
    doc_id so every getTermVector is one row-group-pruned point read.
    Shared by the batch builder and the NRT/update flush path."""
    tv = (
        written.filter(F.col("kind") == "post")
        .select(
            "segment_id", "field", "term",
            F.explode(F.arrays_zip("doc_ids", "freqs", "positions")).alias("e"),
        )
        .select(
            "segment_id",
            F.col("e.doc_ids").alias("doc_id"),
            "field",
            "term",
            F.col("e.freqs").cast("int").alias("freq"),
            F.col("e.positions").alias("positions"),
        )
    )
    (tv.repartitionByRange("doc_id")
       .sortWithinPartitions("doc_id", "field", "term")
       .write.mode("overwrite")
       .parquet(os.path.join(index_dir, "term_vectors", f"chunk={chunk}")))


class IndexBuilder:
    """Materialized index build with chunked commit + resume.

    Layout under ``index_dir``:
      manifest/ (json lines, one file per committed chunk)
      doc_meta/chunk=K/  postings/chunk=K/  term_dict/chunk=K/
      doc_stats/chunk=K/  field_stats/
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: CorpusSpec | None = None,
        analyzer: str = "standard",
        num_segments: int | None = None,
        block_size: int = BLOCK_SIZE,
        quantize_norms: bool = True,
        index_positions: bool = True,
        salt_range: int | None = None,
        range_layout: bool = False,
        range_partitions: int | None = None,
        store_term_vectors: bool = False,
        wand_layout: bool = False,
    ):
        self.spark = spark
        self.spec = spec or CorpusSpec.source_code()
        self.analyzer = analyzer
        self.num_segments = num_segments
        self.block_size = block_size
        self.quantize_norms = quantize_norms
        self.index_positions = index_positions
        self.salt_range = salt_range
        # range_layout: add a repartitionByRange(term) before the postings
        # write so parquet FILES cover disjoint term ranges -> file-level
        # pruning on term lookups (the BlockTree .tip role at table level).
        # Default off: costs a second shuffle; worth it for indexes served
        # by many point queries.
        self.range_layout = range_layout
        self.range_partitions = range_partitions
        # store_term_vectors: also write a DOC-major copy of the inverted
        # rows (term_vectors/ table) — the .tvd/.tvx term-vectors store
        # (codec/lucene42/termVectors.go; its reader panics in the
        # reference).  Term-major postings can't answer getTermVector
        # without a full scan, exactly why Lucene keeps a second layout;
        # here the per-doc seek (.tvx) is Parquet row-group min/max stats
        # on doc_id after repartitionByRange(doc_id).
        self.store_term_vectors = store_term_vectors
        # wand_layout: also write per-block block_max_dlq +
        # block_max_freq_cnt (the block-max WAND v2 metadata).
        # Pay-as-you-go: every build paid ~15% wall for it in round 3
        # even when WAND was never used; without it wand_topk falls back
        # to the exact exhaustive plan.
        self.wand_layout = wand_layout

    # -- manifest helpers (the segments_N generation protocol analogue) --
    def _committed_chunks(self, index_dir) -> dict[int, dict]:
        return {rec["chunk"]: rec for rec in read_manifest(index_dir)
                if rec.get("status") == "committed"}

    def _commit_chunk(self, index_dir, rec: dict):
        commit_record(index_dir, f"chunk-{rec['chunk']:05d}", rec)

    def build(
        self,
        df: DataFrame,
        index_dir: str,
        num_chunks: int = 1,
        resume: bool = True,
    ) -> dict:
        """Build (or resume) the index.  Returns build metrics."""
        in_parts = df.rdd.getNumPartitions()
        nseg = self.num_segments or max(in_parts, 8)
        docs = assign_doc_ids(df, self.spec, nseg)
        # Scale-adaptive tokenize parallelism: with a pre-assigned id
        # column assign_doc_ids is narrow, so the tokenize stage inherits
        # the INPUT partitioning — a corpus delivered as one file (or a
        # handful of unsplittable row groups) would invert on a single
        # core while the rest of the cluster idles.  Spread it when the
        # scan cannot feed every core; at real scale inputs already carry
        # >= cores partitions and this is a no-op.  (The key_cols path
        # shuffles in the docID window anyway.)
        par = self.spark.sparkContext.defaultParallelism
        if self.spec.id_col and in_parts < par:
            docs = docs.repartition(par)
        # doc_meta pass on a SLIM frame: hash the content BEFORE the
        # docID-assignment shuffle so the window never carries the text
        # column (measured ~20x smaller shuffle payload at 1M docs); the
        # deterministic key sort gives identical doc_ids to the main pass
        meta_cols = [c for c in self.spec.meta_cols if c in df.columns]
        id_keys = [self.spec.id_col] if self.spec.id_col else list(self.spec.key_cols)
        slim_cols = list(dict.fromkeys(id_keys + meta_cols))
        sha_col = F.sha2(F.col(self.spec.text_fields[0].column), 256).alias("content_sha256")
        meta_docs = assign_doc_ids(df.select(*slim_cols, sha_col), self.spec, nseg)
        committed = self._committed_chunks(index_dir) if resume else {}
        metrics = {"chunks_built": 0, "chunks_skipped": 0, "docs": 0, "segments": nseg}

        for chunk in range(num_chunks):
            if chunk in committed:
                metrics["chunks_skipped"] += 1
                metrics["docs"] += committed[chunk]["n_docs"]
                continue
            t0 = time.time()
            stage_sec = {}

            def _timed(name, fn):
                ts = time.time()
                out = fn()
                stage_sec[name] = round(time.time() - ts, 3)
                return out

            part = docs if num_chunks == 1 else docs.filter(
                F.pmod(F.col("segment_id"), num_chunks) == chunk
            )
            # no persist: caching the full-content docs frame costs more
            # (one serialized multi-GB cache write) than recomputing the
            # assignment window in the two consumers, and caching the
            # input is impossible at real scale anyway

            # ONE tokenize pass, ONE shuffle, ONE partitioned write:
            # sentinel (per-doc) rows ride the same shuffle and land in
            # kind=doc subdirectories; term_dict and doc_stats are then
            # derived from the written parquet (cheap re-reads) instead
            # of caching the 10-100x larger flat TF frame.
            tf = tokenize_tf(
                part, self.spec, self.analyzer, self.quantize_norms, self.index_positions
            )
            post = blocked_postings(
                tf, self.block_size, self.salt_range, include_sentinels=True,
                wand_metadata=self.wand_layout,
            )
            if self.range_layout:
                # explicit partition count: AQE coalescing would merge a
                # small build into one file, defeating file-level pruning
                if self.range_partitions:
                    post = post.repartitionByRange(
                        self.range_partitions, "kind", "field", "term"
                    )
                else:
                    post = post.repartitionByRange("kind", "field", "term")

            def _write_postings():
                (post.sortWithinPartitions("kind", "field", "term", "segment_id", "block_id")
                     .write.mode("overwrite")
                     .partitionBy("kind")
                     .parquet(os.path.join(index_dir, "postings", f"chunk={chunk}")))

            mpart = meta_docs if num_chunks == 1 else meta_docs.filter(
                F.pmod(F.col("segment_id"), num_chunks) == chunk
            )
            dm = mpart.select("segment_id", "doc_id", *meta_cols, "content_sha256")

            def _write_doc_meta():
                # the independent doc_meta pass, then the per-segment doc
                # counts from its (tiny, narrow) read-back — one row per
                # doc by construction, countDistinct for update-safety
                dm.write.mode("overwrite").parquet(
                    os.path.join(index_dir, "doc_meta", f"chunk={chunk}")
                )
                return {
                    int(r["segment_id"]): int(r["cnt"])
                    for r in read_table(
                        self.spark, os.path.join(index_dir, "doc_meta", f"chunk={chunk}")
                    ).groupBy("segment_id").agg(
                        F.countDistinct("doc_id").alias("cnt")
                    ).collect()
                }

            # Overlap independent actions (guide §2.6: concurrent jobs
            # back-fill each other's stragglers; the scheduler is happy
            # to run them at once).  doc_meta never depends on postings;
            # term_dict and doc_stats both derive from the WRITTEN
            # postings but not on each other.  Every write still
            # completes before the manifest commit, so resume semantics
            # are unchanged.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                meta_fut = pool.submit(_timed, "doc_meta_write", _write_doc_meta)
                _timed("postings_write", _write_postings)

                written = read_table(
                    self.spark, os.path.join(index_dir, "postings", f"chunk={chunk}")
                )
                td = term_dict_frame(written)

                def _write_term_dict():
                    (td.sortWithinPartitions("field", "term")
                       .write.mode("overwrite")
                       .parquet(os.path.join(index_dir, "term_dict", f"chunk={chunk}")))

                def _write_doc_stats():
                    ds = _explode_doc_sentinels(written)
                    ds.write.mode("overwrite").parquet(
                        os.path.join(index_dir, "doc_stats", f"chunk={chunk}")
                    )

                td_fut = pool.submit(_timed, "term_dict_write", _write_term_dict)
                _timed("doc_stats_write", _write_doc_stats)
                td_fut.result()

                if self.store_term_vectors:
                    _timed(
                        "term_vectors_write",
                        lambda: write_term_vectors_chunk(written, index_dir, str(chunk)),
                    )
                seg_counts = meta_fut.result()
            n_docs = sum(seg_counts.values())
            term_ranges = (
                _collect_term_ranges(self.spark, index_dir, chunk)
                if self.range_layout else None
            )
            self._commit_chunk(
                index_dir,
                {
                    "chunk": chunk,
                    "status": "committed",
                    "n_docs": n_docs,
                    **({"term_ranges": term_ranges} if term_ranges else {}),
                    "segments": seg_counts,
                    "analyzer": self.analyzer,
                    "quantize_norms": self.quantize_norms,
                    "block_size": self.block_size,
                    "salt_range": self.salt_range,
                    "wand_layout": self.wand_layout,
                    "omit_norms_fields": sorted(_omit_norms(self.spec)),
                    # the text field doc_meta's content_sha256 hashes
                    "sha_field": self.spec.text_fields[0].name,
                    "num_segments": nseg,
                    "num_chunks": num_chunks,
                    "wall_sec": round(time.time() - t0, 3),
                    "stage_sec": stage_sec,
                },
            )
            metrics["chunks_built"] += 1
            metrics["docs"] += n_docs

        # collection statistics (search.go:192-226): one tiny aggregate
        t_fs = time.time()
        write_field_stats(
            index_dir,
            field_stats_rows(
                read_table(self.spark, os.path.join(index_dir, "doc_stats")),
                read_table(self.spark, os.path.join(index_dir, "term_dict")),
                metrics["docs"],
            ),
            _omit_norms(self.spec),
        )
        metrics["field_stats_sec"] = round(time.time() - t_fs, 3)
        return metrics


class LogicalIndex:
    """A lazily-computed index over a corpus DataFrame — the whole
    build+query composes into one Catalyst plan (used by the driver
    correctness gate and small interactive queries).  Same semantics as
    the materialized tables."""

    def __init__(self, docs: DataFrame, spec: CorpusSpec, analyzer: str = "standard",
                 quantize_norms: bool = True, num_segments: int = 1,
                 index_positions: bool = False):
        self.spark = docs.sparkSession
        self.spec = spec
        self.quantized = quantize_norms
        self.snapshot_cache = SnapshotCache()
        docs = assign_doc_ids(docs, spec, num_segments)
        self._tf_all = tokenize_tf(docs, spec, analyzer, quantize_norms,
                                   index_positions=index_positions)
        self.tf = self._tf_all.filter(~F.col("field").startswith(DOC_SENTINEL_FIELD))
        self.doc_stats = self._tf_all.filter(F.col("field").startswith(DOC_SENTINEL_FIELD)).select(
            "segment_id",
            "doc_id",
            F.expr(f"substring(field, {len(DOC_SENTINEL_FIELD) + 1})").alias("field"),
            F.col("freq").cast("int").alias("length"),
            "norm_byte",
            "dlq",
            F.col("term").alias("content_sha256"),
        )

    def postings_for_terms(self, field: str, terms: list[str],
                           with_positions: bool = False,
                           with_payloads: bool = False) -> DataFrame:
        cols = ["term", "doc_id", "freq", "dlq", "norm_byte"]
        if with_positions:
            cols.append("positions")
        if with_payloads and "payloads" in self.tf.columns:
            cols.append("payloads")
        return self.tf.filter((F.col("field") == field) & F.col("term").isin(terms)).select(*cols)

    def term_stats(self, field: str, terms: list[str]) -> DataFrame:
        return (
            self.tf.filter((F.col("field") == field) & F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("freq").alias("ttf"))
        )

    def lookup_term_stats(self, field: str, terms: list[str]) -> dict[str, dict]:
        return {r["term"]: {"df": r["df"], "ttf": r["ttf"]}
                for r in self.term_stats(field, terms).collect()}

    def cache(self):
        self._tf_all = self._tf_all.persist()
        return self

    def collection_stats_row(self, field: str) -> dict:
        """(max_doc, doc_count, sum_ttf) for the field: one Spark job per
        field per snapshot, cached in the snapshot cache."""
        def compute():
            r = self.doc_stats.agg(
                F.countDistinct("doc_id").alias("max_doc"),
                F.sum(F.when(F.col("field") == field, 1).otherwise(0)).alias("doc_count"),
                F.sum(F.when(F.col("field") == field, F.col("length"))).alias("sum_ttf"),
            ).collect()[0]
            omit = any(
                f.name == field and getattr(f, "omit_norms", False)
                for f in self.spec.text_fields
            )
            return {
                "max_doc": int(r["max_doc"]),
                "doc_count": int(r["doc_count"] or 0),
                "sum_ttf": 0 if omit else int(r["sum_ttf"] or 0),
            }

        return self.snapshot_cache.get("collection", field, compute)


def read_manifest(index_dir: str) -> list[dict]:
    """The manifest's records (one JSON file each: build chunks, NRT and
    update flushes, merges, tombstone generations, the trigram table),
    in file-name order; [] for an index without a manifest."""
    mdir = os.path.join(index_dir, "manifest")
    if not os.path.isdir(mdir):
        return []
    out = []
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                out.append(json.load(f))
    return out


def commit_record(index_dir: str, name: str, rec: dict) -> dict:
    """Commit one manifest record as ``manifest/<name>.json``: written
    under a hidden name and renamed into place, so a reader never reads
    a partial record.  Every writer commits through here, after the
    files the record names are complete."""
    mdir = os.path.join(index_dir, "manifest")
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{name}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, os.path.join(mdir, f"{name}.json"))
    return rec


def dead_segments(index_dir: str, records: list[dict] | None = None) -> set[int]:
    """Segment ids superseded by merge records in the manifest
    (``records``: the manifest already read, else it is read here).

    Order-independent: a segment is dead iff SOME merge consumed it.
    (_allocate_segment_id guarantees a merge's output id is never among
    its own inputs, so no per-record discard is needed — a discard keyed
    on manifest listing order would resurrect a merge output that a
    later merge consumed, duplicating every doc it holds.)"""
    return {
        int(s)
        for rec in (read_manifest(index_dir) if records is None else records)
        if rec.get("kind") == "merge"
        for s in rec.get("merged_from_segments", [])
    }


def _tombstone_record(rec: dict) -> bool:
    # by name: older delete records carry kind "ids" or "query"
    return str(rec.get("chunk")).startswith("tombstones-")


def data_records(records: list[dict]) -> list[dict]:
    """The committed records of segment-data chunks: build chunks, NRT
    and update flushes, merges (not tombstone generations, not the
    trigram table)."""
    return [r for r in records if r.get("status") == "committed"
            and r.get("kind") != "trigram" and not _tombstone_record(r)]


def segments_in(ids, negate: bool = False):
    """The Column ``segment_id [NOT] IN (ids)`` as one SQL expression
    (a Column per literal id would cost one py4j round trip each)."""
    return F.expr(f"segment_id {'NOT ' if negate else ''}IN ({', '.join(str(int(s)) for s in ids)})")


def _record_live(rec: dict, dead: set[int]) -> bool:
    """Whether a data record's chunk holds a segment no merge consumed:
    a merge's output, a flush's segment, or any of a build chunk's
    segments (a record naming none of them counts as live)."""
    if rec.get("kind") == "merge":
        segs = [rec["new_segment_id"]]
    elif "segment_id" in rec:
        segs = [rec["segment_id"]]
    elif "segments" in rec:
        segs = list(rec["segments"])
    else:
        return True
    return any(int(s) not in dead for s in segs)


def _list_data_files(dirs: list[str], kind: str | None = None) -> list[str]:
    """The data files under ``dirs``, sorted: one Arrow filesystem
    listing per directory, a missing one lists nothing.  Names starting
    with "." or "_" are skipped at every level, as Spark and Arrow skip
    them (in-flight temp files, _SUCCESS, a crashed job's _temporary/).
    ``kind``: only that ``kind=`` partition's files (a layout without
    the partition keeps every file)."""
    import pyarrow.fs as pafs

    fs = pafs.LocalFileSystem()
    out = []
    for d in dirs:
        for info in fs.get_file_info(pafs.FileSelector(d, recursive=True, allow_not_found=True)):
            if info.type != pafs.FileType.File:
                continue
            parts = os.path.relpath(info.path, d).split(os.sep)
            if any(p.startswith((".", "_")) for p in parts):
                continue
            if kind and any(p.startswith("kind=") and p != f"kind={kind}" for p in parts):
                continue
            out.append(info.path)
    return sorted(out)


def table_files(index_dir: str, table: str, records: list[dict],
                dead: set[int] | None = None, kind: str | None = None) -> list[str]:
    """The data files of ``table`` in the snapshot the manifest
    ``records`` commit (``dead``: their dead_segments, if already
    computed; ``kind``: only that postings partition), the segments_N
    role (segmentInfos.go:21-135): an open reads exactly the files its
    commit point names.

    - postings, term_dict, doc_stats: the chunks of the data records
      that still hold a live segment; when those have no file, every
      committed chunk's (all dead, so a reader's dead-segment filter
      empties them and the frame keeps the table's schema)
    - doc_meta, term_vectors: every committed build and flush chunk
      (merges never rewrite them)
    - tombstones: the generation of every delete record

    A chunk directory no committed record names (a flush in flight, or
    one that crashed before its commit) is never listed."""
    if table == "tombstones":
        return _list_data_files([
            os.path.join(index_dir, "tombstones", "gen=" + r["chunk"].split("-", 1)[1])
            for r in records if _tombstone_record(r) and r.get("status") == "committed"
        ])
    data = data_records(records)
    chunk = lambda r: os.path.join(index_dir, table, f"chunk={r['chunk']}")
    if table in ("doc_meta", "term_vectors"):
        return _list_data_files([chunk(r) for r in data if r.get("kind") != "merge"])
    dead = dead_segments(index_dir, records) if dead is None else dead
    return (_list_data_files([chunk(r) for r in data if _record_live(r, dead)], kind)
            or _list_data_files([chunk(r) for r in data], kind))


def _arrow_dataset(path):
    """pyarrow dataset over a Spark-written parquet directory (its data
    files listed here, ``_list_data_files``) or a list of its files;
    None when there is no data file.  The schema is the UNION of the
    files' schemas (what Spark's mergeSchema resolves): a column absent
    from some chunk reads as null in that chunk's rows."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    files = _list_data_files([path]) if isinstance(path, str) else path
    if not files:
        return None
    d = ds.dataset(files, format="parquet")
    frags = list(d.get_fragments())
    # unify_schemas also relaxes a list's element nullability, which
    # Spark writes differently before and after a merge
    schema = pa.unify_schemas([f.physical_schema for f in frags])
    return ds.FileSystemDataset(frags, schema, d.format, d.filesystem)


# session confs read_table holds while Spark resolves a table's files:
# check them on the driver however many there are (Spark lists more
# than parallelPartitionDiscovery.threshold paths with a job, and an
# explicit file counts as a path), and keep the listing out of the
# session's shared file-status cache (each read lists under a fresh
# cache client, so its entries are never hit again and only leave at
# the cache's 250 MB bound: every reopen would grow the driver heap)
_READ_CONF = {
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(1 << 30),
    "spark.sql.hive.manageFilesourcePartitions": "false",
}
_READ_LOCK = threading.Lock()


def read_table(spark: SparkSession, path: str, dataset=None) -> DataFrame:
    """The Spark frame of an index table, built without a Spark job.
    ``spark.read`` gets the table's data files by name (``dataset``'s,
    else every data file under ``path``, listed with Arrow:
    ``_arrow_dataset``), ``path`` as the base path their partition
    columns (chunk, kind, gen) are inferred from, and the Arrow union
    of their footers as the data schema (what mergeSchema infers, read
    on the driver instead of by Spark's inference job); it resolves the
    files under ``_READ_CONF``.  A directory without data files, or a
    column type Spark cannot take from Arrow, falls back to the
    inferring read."""
    from pyspark.sql.pandas.types import from_arrow_schema

    d = _arrow_dataset(path) if dataset is None else dataset
    if d is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    try:
        reader = spark.read.schema(from_arrow_schema(d.schema))
    except TypeError:
        reader = spark.read.option("mergeSchema", "true")
    reader = reader.option("basePath", path)
    # the file index reads the confs when it resolves the files, i.e.
    # in this call; the lock keeps concurrent reads from restoring each
    # other's values
    with _READ_LOCK:
        old = {k: spark.conf.get(k) for k in _READ_CONF}
        for k, v in _READ_CONF.items():
            spark.conf.set(k, v)
        try:
            return reader.parquet(*d.files)
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)


def read_field_stats(index_dir: str) -> dict[str, dict]:
    """{field: field_stats row} read on the driver (the table is one
    tiny file; a Spark collect of it costs two orders of magnitude
    more)."""
    rows = _arrow_dataset(os.path.join(index_dir, "field_stats")).to_table().to_pylist()
    return {r["field"]: r for r in rows}


# the field_stats table: one row per field, one file
FS_SCHEMA = pa.schema([
    ("field", pa.string()), ("doc_count", pa.int64()), ("sum_ttf_exact", pa.int64()),
    ("sum_ttf", pa.int64()), ("sum_df", pa.int64()), ("max_doc", pa.int64()),
])
FIELD_STATS_FILE = "part-0.parquet"


def _omit_norms(spec) -> set[str]:
    return {f.name for f in spec.text_fields if getattr(f, "omit_norms", False)}


def omit_norms_fields(index_dir: str) -> set[str]:
    """The omitNorms fields the manifest's build/NRT records declare
    (a merge has no spec to read them from)."""
    return {f for rec in read_manifest(index_dir) for f in rec.get("omit_norms_fields", ())}


def field_stats_rows(doc_stats: DataFrame, term_dict: DataFrame, max_doc: int) -> list[dict]:
    """Per-field collection stats of the given doc_stats/term_dict rows,
    collected (at most one row per field): fields with doc_stats rows,
    with null sum_ttf/sum_df where term_dict has none.  One aggregate
    over the union of both tables: a join of two per-field aggregates
    broadcasts a 16 MB hash relation for a few rows, and the collected
    frame keeps it in the driver heap until Python's cyclic GC frees
    the frame (py4j holds JVM objects in reference cycles)."""
    null = F.lit(None).cast("long")
    fs = doc_stats.select(
        "field", F.lit(1).alias("doc"), F.col("length").cast("long").alias("length"),
        null.alias("ttf"), null.alias("df"),
    ).unionByName(term_dict.select(
        "field", F.lit(None).cast("int").alias("doc"), null.alias("length"),
        F.col("ttf").cast("long").alias("ttf"), F.col("df").cast("long").alias("df"),
    )).groupBy("field").agg(
        F.count("doc").alias("doc_count"), F.sum("length").alias("sum_ttf_exact"),
        F.sum("ttf").alias("sum_ttf"), F.sum("df").alias("sum_df"),
    )
    return [{**r.asDict(), "max_doc": max_doc} for r in fs.collect() if r["doc_count"]]


def write_field_stats(index_dir: str, rows: list[dict], omit_norms: set[str]) -> None:
    """Commit the field_stats table from the driver: one Arrow file,
    written under a hidden name and renamed onto FIELD_STATS_FILE, so a
    reader never sees a partial table.  Fields in ``omit_norms`` store
    sum_ttf = 0, so the scorer degrades to the no-norms denominator
    (the same path as keyword fields).  Files an older Spark writer left
    in the directory (part files, _SUCCESS, .crc, a crashed job's
    _temporary/) are removed after the rename."""
    import shutil

    import pyarrow.parquet as pq

    d = os.path.join(index_dir, "field_stats")
    os.makedirs(d, exist_ok=True)
    rows = sorted(
        ({**r, "sum_ttf": 0} if r["field"] in omit_norms else r for r in rows),
        key=lambda r: r["field"],
    )
    tmp = os.path.join(d, f".{FIELD_STATS_FILE}.tmp")
    # no Arrow schema blob or column statistics: a one-row-per-field
    # table is never pruned, and the two would double the file
    pq.write_table(pa.Table.from_pylist(rows, schema=FS_SCHEMA), tmp,
                   store_schema=False, write_statistics=False)
    os.replace(tmp, os.path.join(d, FIELD_STATS_FILE))
    for fn in os.listdir(d):
        path = os.path.join(d, fn)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif fn != FIELD_STATS_FILE:
            os.remove(path)


# postings_arrays' rows
_POSTING_ROWS = pa.schema([
    ("term", pa.string()), ("doc_id", pa.int64()), ("freq", pa.int32()),
    ("dlq", pa.float64()), ("norm_byte", pa.int32()),
])


# term_dict block-metadata spread columns and how term stats fold them
# across segments (WAND's degenerate-bounds early-out reads the result)
_SPREAD_AGGS = (("bmf_min", "min"), ("bmf_max", "max"),
                ("bdlq_min", "min"), ("bdlq_max", "max"))


class MaterializedIndex:
    """Reader over an index built by IndexBuilder (term-pruned scans).

    The snapshot is the set of files the manifest names at open, the
    segments_N visibility protocol (segmentInfos.go:21-135, nrt.go:15-40):
    the chunks of the committed records that still hold a live segment,
    every committed doc_meta chunk (merges never rewrite doc_meta), the
    tombstone generations of the delete records and a fresh trigram
    table (``table_files``).  The open reads the manifest, lists those
    files once with Arrow and reads the tombstones; it starts no Spark
    job.  A chunk directory without a committed record (a flush in
    flight, or one that crashed) is not part of the snapshot, and rows
    of segments a merge superseded inside a live build chunk are
    filtered out at read.

    Both search placements read the files listed at open, each built on
    first use: the driver-side Arrow datasets (``_term_dict_ds`` for the
    term-stats seek, ``_postings_ds`` for the driver top-k kernel) and
    the Spark frames (``postings``, ``term_dict``, ``doc_stats``,
    ``doc_meta``, ``_tombstones``, ``trigram``), so a commit after the
    open never shows through and a driver-placed search builds no
    frame.  Assigning a frame on an open index (``ix.postings = ...``)
    changes only what the Spark placement reads; the driver placement
    keeps reading the files listed at open."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from .deletes import tombstone_table
        from .trigram import trigram_files

        self.spark = spark
        self.index_dir = index_dir
        records = self._records = read_manifest(index_dir)
        dead = dead_segments(index_dir, records)
        self._dead = sorted(dead)
        self._files = {t: table_files(index_dir, t, records, dead, "post" if t == "postings" else None)
                       for t in ("postings", "term_dict", "doc_stats", "doc_meta", "tombstones")}
        # optional trigram side table (sublinear seek for prefix-less
        # wildcard/regexp patterns); no files when absent or stale
        self._files["trigram"] = trigram_files(index_dir, records)
        # W12 deletes: tombstoned docs filtered at read time (liveDocs);
        # stats intentionally keep counting them until expunge (Lucene's
        # numDocs vs maxDoc semantics).  Read with Arrow: the driver
        # kernel's liveness mask and the Spark plans' literal liveness
        # predicate
        self._tomb_table = tombstone_table(index_dir, records, self._files["tombstones"])
        self.last_multiterm_stats: dict | None = None
        # quantize_norms (from a record that actually carries it —
        # merge/tombstone records don't) + file-level term ranges (the
        # .tip role: range_layout builds record per-file [min_term,
        # max_term]; pruning is enabled only when EVERY live data chunk
        # carries ranges, else full scan)
        self.quantized = bool(next(
            (r["quantize_norms"] for r in records if "quantize_norms" in r), True))
        live = [r for r in data_records(records) if _record_live(r, dead)]
        self._term_ranges: dict[str, list] = {}
        for rec in live:
            self._term_ranges.update(rec.get("term_ranges") or {})
        self._prune_files = bool(live) and all(r.get("term_ranges") for r in live)
        self.last_prune_stats: tuple | None = None
        self._field_stats = read_field_stats(index_dir)
        self.snapshot_cache = SnapshotCache()

    # -- the snapshot's tables, built on first use over the files listed
    # at open (functools.cached_property: assignment replaces them) --

    @functools.cached_property
    def _postings_ds(self):
        # the kind=post posting files, the driver top-k kernel's source
        return _arrow_dataset(self._files["postings"])

    @functools.cached_property
    def _term_dict_ds(self):
        # driver-side terms index (the .tip/.tim seek role)
        return _arrow_dataset(self._files["term_dict"])

    def _frame(self, table: str, dataset=None) -> DataFrame:
        """Spark frame over the snapshot's files of ``table``
        (``dataset``: an Arrow dataset of some of them), without the
        rows of dead segments where the table has them."""
        d = _arrow_dataset(self._files[table]) if dataset is None else dataset
        if d is None:
            raise ValueError(f"the manifest of {self.index_dir} names no {table} file")
        df = read_table(self.spark, os.path.join(self.index_dir, table), d)
        if self._dead and table in ("postings", "term_dict", "doc_stats"):
            df = df.filter(segments_in(self._dead, negate=True))
        return df

    @functools.cached_property
    def postings(self) -> DataFrame:
        return self._frame("postings", self._postings_ds).drop("kind")

    @functools.cached_property
    def term_dict(self) -> DataFrame:
        return self._frame("term_dict", self._term_dict_ds)

    @functools.cached_property
    def doc_stats(self) -> DataFrame:
        return self._frame("doc_stats")

    @functools.cached_property
    def doc_meta(self) -> DataFrame:
        return self._frame("doc_meta")

    @functools.cached_property
    def _tombstones(self) -> DataFrame | None:
        # the Spark twin of _tomb_table (filter_live's anti-join side)
        from .deletes import tombstones

        if self._tomb_table is None:
            return None
        return tombstones(self.spark, self.index_dir, self._records,
                          _arrow_dataset(self._files["tombstones"]))

    @functools.cached_property
    def trigram(self) -> DataFrame | None:
        from .trigram import load_trigram_index

        return load_trigram_index(self.spark, self.index_dir, self._files["trigram"])

    def _pruned_postings(self, field: str, terms: list[str]):
        """The snapshot's posting files whose manifest term_ranges can
        hold (field, term in terms), as an Arrow dataset (file-level
        pruning, the FST .tip seek re-expressed); None when the index
        has no ranges to prune by."""
        import pyarrow.dataset as ds

        src = self._postings_ds
        if src is None or not self._prune_files:
            return None
        frags = [f for f in src.get_fragments()
                 if (rel := os.path.relpath(f.path, self.index_dir)) in self._term_ranges
                 and _ranges_may_contain(self._term_ranges[rel], field, terms)]
        self.last_prune_stats = (len(self._term_ranges), len(frags))
        return ds.FileSystemDataset(frags, src.schema, src.format, src.filesystem)

    def postings_frame(self, field: str, terms: list[str]) -> DataFrame:
        """Block-level posting rows for the given terms, reading ONLY
        the parquet files whose [min_term, max_term] range can contain
        one of them (``_pruned_postings``).  Falls back to the full
        term-pruned scan when ranges are unavailable."""
        pruned = self._pruned_postings(field, terms)
        if pruned is None:
            df = self.postings
        elif not pruned.files:
            return self.postings.filter(F.lit(False))
        else:
            df = self._frame("postings", pruned).drop("kind")
        return df.filter((F.col("field") == field) & F.col("term").isin(terms))

    def postings_for_terms(self, field: str, terms: list[str],
                           min_score_ub=None, score_ub_fn=None,
                           with_positions: bool = False,
                           with_payloads: bool = False) -> DataFrame:
        """Exploded (term, doc_id, freq, dlq[, positions][, payloads]) for
        the given terms.  Optional block-max pruning:
        score_ub_fn(block_max_freq, block_min_dlq, term) -> Column upper
        bound; blocks below min_score_ub are skipped before decode (the
        WAND move)."""
        p = self.postings_frame(field, terms)
        if min_score_ub is not None and score_ub_fn is not None:
            p = p.filter(score_ub_fn(F.col("block_max_freq"), F.col("block_min_dlq"), F.col("term")) >= min_score_ub)
        with_payloads = with_payloads and "payloads" in p.columns
        zcols = (
            ["doc_ids", "freqs", "dlqs", "norm_bytes"]
            + (["positions"] if with_positions else [])
            + (["payloads"] if with_payloads else [])
        )
        z = F.arrays_zip(*zcols)
        out = p.select("segment_id", "term", F.explode(z).alias("e")).select(
            "segment_id",
            "term",
            F.col("e.doc_ids").alias("doc_id"),
            F.col("e.freqs").alias("freq"),
            F.col("e.dlqs").alias("dlq"),
            F.col("e.norm_bytes").alias("norm_byte"),
            *( [F.col("e.positions").alias("positions")] if with_positions else [] ),
            *( [F.col("e.payloads").alias("payloads")] if with_payloads else [] ),
        )
        from .deletes import live_rows

        return live_rows(self, out).drop("segment_id")

    def postings_arrays(self, field: str, terms: list[str], with_positions: bool = False):
        """The Arrow twin of ``postings_for_terms``: a pyarrow Table
        (term, doc_id, freq, dlq, norm_byte[, positions]) of the live
        postings of (field, terms), read on the driver from the posting
        files listed at open.  Same file pruning (manifest term_ranges),
        dead segments and tombstones (full deletes, update supersedes,
        merged-origin exact segments) as the Spark frame.  ``positions``
        is the packed position blob per posting (null for a field
        indexed without positions)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        src = self._pruned_postings(field, terms)
        if src is None:
            src = self._postings_ds
        schema = _POSTING_ROWS
        lists = ["doc_ids", "freqs", "dlqs", "norm_bytes"]
        if with_positions:
            schema = schema.append(pa.field("positions", pa.binary()))
            lists.append("positions")
        if src is None or not terms:
            return schema.empty_table()
        flt = (pc.field("field") == field) & pc.field("term").isin(list(terms))
        if self._dead:
            flt &= ~pc.field("segment_id").isin(self._dead)
        blocks = src.to_table(columns=["segment_id", "term", *lists], filter=flt)
        parent = pc.list_parent_indices(blocks.column("doc_ids"))
        rows = pa.table(
            [pc.take(blocks.column("term"), parent)]
            + [pc.list_flatten(blocks.column(c)) for c in lists],
            names=schema.names,
        ).cast(schema)
        if self._tomb_table is not None:
            from .deletes import live_mask

            seg = pc.take(blocks.column("segment_id"), parent).to_numpy()
            rows = rows.filter(pa.array(live_mask(
                self._tomb_table, rows.column("doc_id").to_numpy(), seg)))
        return rows

    def lookup_term_stats(self, field: str, terms: list[str]) -> dict[str, dict]:
        """TermContext seek (core/index/terms.go:60-120) on the driver:
        {term: {df, ttf[, bmf_min, bmf_max, bdlq_min, bdlq_max]}} for the
        terms the snapshot holds, summed over live segments.  A vectorized
        read of the term_dict files listed at open, filtered by the
        (field, term) predicate, and Arrow's group_by folds the
        per-segment rows.  The predicate prunes nothing: pyarrow 16.1
        skips no row group on an ``isin`` and each chunk file is one row
        group, so the seek decodes the field and term columns of every
        term_dict file of the snapshot.  No Spark job; the same rows as
        ``term_stats(field, terms).collect()``."""
        import pyarrow.compute as pc

        if not terms or self._term_dict_ds is None:
            return {}
        flt = (pc.field("field") == field) & pc.field("term").isin(list(terms))
        if self._dead:
            flt &= ~pc.field("segment_id").isin(self._dead)
        names = self._term_dict_ds.schema.names
        aggs = [("df", "sum"), ("ttf", "sum")] + [
            a for a in _SPREAD_AGGS if a[0] in names
        ]
        rows = (
            self._term_dict_ds.to_table(columns=["term", *(c for c, _ in aggs)], filter=flt)
            .group_by("term").aggregate(aggs).to_pylist()
        )
        return {r["term"]: {c: r[f"{c}_{fn}"] for c, fn in aggs} for r in rows}

    def term_stats(self, field: str, terms: list[str]) -> DataFrame:
        # the Spark twin of lookup_term_stats (gates and the driver
        # contract read it as a DataFrame)
        spread = [
            getattr(F, fn)(c).alias(c)
            for c, fn in _SPREAD_AGGS if c in self.term_dict.columns
        ]
        return (
            self.term_dict.filter((F.col("field") == field) & F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"), *spread)
        )

    def live_doc_meta(self) -> DataFrame:
        """doc_meta with ONE row per doc — the newest version (highest
        segment) when updates created several.  Without tombstones the
        frame is returned as-is (no window shuffle on the common
        path)."""
        dm = self.doc_meta
        if self._tomb_table is None:
            return dm
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(F.desc("segment_id"))
        return (
            dm.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def document(self, doc_id: int) -> dict | None:
        """Stored-field retrieval by docID (IndexReader.Document,
        core/document/document.go:75): the doc_meta row as a dict, or
        None for an unknown/deleted doc.  For updated docs the NEWEST
        version (highest segment) is returned."""
        if self._tomb_table is not None:
            from .deletes import _tomb_groups

            if int(doc_id) in _tomb_groups(self._tomb_table)[0]:  # fully deleted
                return None
        rows = (
            self.doc_meta.filter(F.col("doc_id") == int(doc_id))
            .orderBy(F.desc("segment_id")).limit(1).collect()
        )
        return rows[0].asDict() if rows else None

    def doc_values(self, column: str) -> DataFrame:
        """Per-document values column (the NumericDocValues/
        SortedDocValues role — core/index/defaultIndexingChain.go:386-391
        panics in the reference; core Lucene 4.10 serves sort/facet from
        the .dvd column store).  Here the columnar doc_meta table IS the
        doc-values store: this returns the live (doc_id, value) frame —
        newest version per doc under updates, tombstones applied — with
        the column projection pushed to the parquet scan.  search_sorted
        and facet_counts consume the same store."""
        if column not in self.doc_meta.columns:
            raise ValueError(f"no stored column {column!r} in doc_meta "
                             f"(have {self.doc_meta.columns})")
        return self.live_doc_meta().select(
            "doc_id", F.col(column).alias("value")
        )

    def term_vectors_frame(self, field: str | None = None,
                           doc_ids: list[int] | None = None) -> DataFrame:
        """Doc-major term-vector rows (doc_id, field, term, freq,
        positions) — the term-vectors store written by
        ``IndexBuilder(store_term_vectors=True)`` (the .tvd/.tvx role,
        codec/lucene42/termVectors.go; the reference's reader panics).
        doc_id predicates push into the range-partitioned parquet so a
        point read touches one row group.  Rows are NOT dropped when
        their segment is merged away (doc_ids are stable across merges;
        this table is doc-addressed), but liveDocs/update tombstones DO
        apply — a superseded version's rows vanish exactly like its
        postings.  Reads the committed chunks of the snapshot's
        manifest."""
        d = _arrow_dataset(table_files(self.index_dir, "term_vectors", self._records))
        if d is None:
            raise ValueError(
                "index was built without store_term_vectors=True"
            )
        tv = read_table(self.spark, os.path.join(self.index_dir, "term_vectors"), d)
        if field is not None:
            tv = tv.filter(F.col("field") == field)
        if doc_ids is not None:
            tv = tv.filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
        from .deletes import live_rows

        return live_rows(self, tv).drop("chunk")

    def term_vector(self, doc_id: int, field: str | None = None) -> list[dict]:
        """getTermVector(docID[, field]) (IndexReader role): the doc's
        terms with freq and decoded positions, sorted by (field, term)
        — TermsEnum order.  Deleted docs return []."""
        import numpy as np

        rows = self.term_vectors_frame(field=field, doc_ids=[doc_id]).collect()
        out = [
            {
                "field": r["field"],
                "term": r["term"],
                "freq": int(r["freq"]),
                "positions": []
                if r["positions"] is None
                else np.frombuffer(r["positions"], "<i4").tolist(),
            }
            for r in rows
        ]
        return sorted(out, key=lambda d: (d["field"], d["term"]))

    def collection_stats_row(self, field: str) -> dict:
        if field in self._field_stats:
            return self._field_stats[field]
        # keyword (StringField) fields carry no norms/doc_stats rows:
        # omitNorms semantics -> sum_ttf 0 (scorer degrades to the
        # NoNorms denominator), max_doc from any text field
        max_doc = max((int(r["max_doc"]) for r in self._field_stats.values()), default=0)
        return {"field": field, "max_doc": max_doc, "doc_count": 0, "sum_ttf": 0}
