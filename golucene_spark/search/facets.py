"""Faceting: per-value match counts over a keyword field (the Lucene
facet module's SortedSetDocValues counting, not ported by the
reference — its keyword postings already ARE the docvalues we need).

Execution shape: the (small) matching-doc frame joins the facet
field's postings (term = facet value, one row per (value, doc)) and a
groupBy(value).count() ranks the values.  At scale the match frame is
the broadcast side; the postings scan prunes to the single facet field
via partition/predicate pushdown."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def field_postings(index, field: str) -> DataFrame:
    """(term, doc_id) pairs for every posting of ``field`` — keyword
    docvalues view of the index (live docs only)."""
    if hasattr(index, "indexes"):  # MultiIndex: docBase-shifted union
        out = None
        for i, ix in enumerate(index.indexes):
            f = field_postings(ix, field).withColumn(
                "doc_id", F.col("doc_id") + F.lit(index.doc_base(i))
            )
            out = f if out is None else out.unionByName(f)
        return out
    if hasattr(index, "tf"):  # LogicalIndex
        return index.tf.filter(F.col("field") == field).select("term", "doc_id")
    p = index.postings.filter(F.col("field") == field)
    out = p.select("segment_id", "term", F.explode("doc_ids").alias("doc_id"))
    from ..index.deletes import live_rows

    return live_rows(index, out).drop("segment_id")


def facet_counts(searcher, query, facet_field: str, k: int = 10,
                 broadcast_matches: bool = False) -> DataFrame:
    """Top-k facet values (value, count) over the docs matching
    ``query``; ties rank by value ascending (deterministic).

    ``broadcast_matches=True`` hints the match set as the broadcast
    side — right for selective queries; leave False for hot queries
    whose match set can be billions of docs (AQE then picks the join
    strategy from the measured sizes)."""
    if isinstance(query, str):
        from .parser import parse_query

        query = parse_query(query)
    docs = searcher.score_frame(query).select("doc_id")
    if broadcast_matches:
        docs = F.broadcast(docs)
    p = field_postings(searcher.index, facet_field)
    return (
        p.join(docs, "doc_id")
        .groupBy(F.col("term").alias("value"))
        .agg(F.count("*").cast("long").alias("count"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(k)
    )


def range_facet_counts(searcher, query, value_expr: str,
                       ranges: list[tuple]) -> DataFrame:
    """Range faceting (the Lucene facet module's LongRangeFacetCounts /
    DoubleRangeFacetCounts role): per named interval, the count of
    matching docs whose doc-values expression falls inside it.

    ``ranges`` is a list of (label, lo, hi) with lo inclusive and hi
    exclusive; None bounds are open.  ``value_expr`` is a SQL expression
    over the stored doc_meta columns.  One hash join of the match frame
    to the pruned doc_meta projection, one conditional-sum aggregate —
    every range is counted in the same single pass (no per-range scans),
    and empty ranges still report 0."""
    if isinstance(query, str):
        from .parser import parse_query

        query = parse_query(query)
    if not hasattr(searcher.index, "doc_meta"):
        raise ValueError("range_facet_counts needs a materialized index with doc_meta")
    docs = searcher.score_frame(query).select("doc_id")
    meta = searcher._live_meta()
    val = F.expr(value_expr).cast("double")
    joined = docs.join(meta, "doc_id").select(val.alias("_v"))
    aggs = []
    for label, lo, hi in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("_v") >= float(lo))
        if hi is not None:
            cond = cond & (F.col("_v") < float(hi))
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(str(label))
        )
    wide = joined.agg(*aggs)
    # unpivot to (range, count) rows, preserving the given range order
    pairs = []
    for i, (label, _lo, _hi) in enumerate(ranges):
        pairs.append(F.struct(F.lit(i).alias("ord"), F.lit(str(label)).alias("range"),
                              F.col(str(label)).alias("count")))
    return (
        wide.select(F.explode(F.array(*pairs)).alias("e"))
        .select(F.col("e.range").alias("range"), F.col("e.count").alias("count"),
                F.col("e.ord").alias("ord"))
        .orderBy("ord")
        .drop("ord")
    )
