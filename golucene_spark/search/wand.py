"""Block-max WAND top-k pruning (SURVEY §4 "custom" row).

Lucene 4.10 predates block-max WAND; we add it on top of the Lucene41-
style block layout: each 128-doc posting block carries (block_max_freq,
block_min_dlq, block_max_dlq), giving both an upper bound (ub) on any
contained doc's BM25 contribution and a LOWER bound (lb) on the block's
best doc (the max-freq doc has dlq <= block_max_dlq).  Single-action
exact algorithm:

  theta    within one term, blocks hold disjoint doc sets, so the k
           best per-term block lbs certify k distinct docs scoring
           >= the k-th lb — a valid threshold computed from metadata
           alone (max over terms with >= k blocks), in-plan
  prune    keep only blocks where ub(term, block) + sum of other
           terms' max ubs >= theta; any doc living exclusively in
           pruned blocks is provably below theta (a doc with true score
           >= theta therefore appears in >= 1 surviving block, so the
           surviving-block doc set is a superset of the true top-k)
  rescore  one pushdown-filtered decode of every block overlapping a
           surviving doc-id interval; partial sums of non-candidate
           docs are provably < theta and cannot displace true hits

The pipeline is two driver actions — one metadata-only collect of the
surviving block spans (no posting decode), one exact rescore whose
doc-id interval filter pushes into the scan.  A degenerate-bounds early-out (block
metadata spread riding the driver-side term-stats seek) falls back to the
single-job exhaustive plan when block ubs cannot separate (uniform
corpora), so WAND never pays its overhead where pruning is impossible.

Results are identical to exhaustive scoring (pruning only discards
provably sub-threshold docs); tests assert equality and that decoded
blocks < total blocks on skewed corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ast import BooleanQuery, Occur, TermQuery
from .executor import Searcher, norm_bytes

# early-out: when the summed per-term block-ub lower bound sits within
# this fraction of the summed upper bound, block metadata cannot
# separate blocks and the exhaustive single-job plan is cheaper
UNIFORM_UB_FRACTION = 0.9

# corpus-size guard: engage WAND only when the exhaustive plan would
# decode at least this many postings (sum of the query terms' df).
# Below it the postings are page-cache-trivial and the exhaustive
# single-scan plan's constant factor wins regardless of how much WAND
# prunes.  Fitted from BENCH/wand.json (skewed corpus, this host):
# exhaustive_sec ~ 0.17 + 0.047/M postings; fused-WAND ~ 0.94 + 0.009/M
# (a near-constant scheduler floor — its decode is ~49 blocks at every
# size) -> crossover ~ 20M postings.  A real cluster against cold
# object storage pays per-byte IO the page cache hides here and would
# set this one to two orders of magnitude lower.
WAND_MIN_POSTINGS = 20_000_000

# cap on the number of doc-range buckets for the in-plan surviving-
# block semi-join: surviving blocks reduce to the set of buckets they
# cover; a block is rescored iff its own bucket range overlaps the set.
# Granularity adapts to the corpus (>= one 128-doc block, <= this many
# buckets overall) so the broadcast set stays <= ~512KB no matter how
# weak the pruning is.
MAX_BUCKETS = 65_536


def _flat_should_terms(query) -> list[TermQuery] | None:
    """Extract [TermQuery...] when the query is a single term or a flat
    pure-SHOULD same-field OR; else None (caller falls back)."""
    if isinstance(query, TermQuery):
        return [query]
    if isinstance(query, BooleanQuery) and query.clauses:
        tqs = []
        for c in query.clauses:
            if c.occur is not Occur.SHOULD or not isinstance(c.query, TermQuery):
                return None
            tqs.append(c.query)
        if len({t.field for t in tqs}) == 1 and len({t.term for t in tqs}) == len(tqs):
            return tqs
    return None


def wand_topk(searcher: Searcher, query, k: int = 10,
              stats_out: dict | None = None,
              min_postings: int | None = None) -> DataFrame:
    """Exact top-k with block-max pruning; falls back to the exhaustive
    plan for query shapes without a pruning path.  ``stats_out``: when a
    dict is passed, decode-work counters are recorded in it
    (blocks_total / blocks_surviving / blocks_decoded_rescore).
    ``min_postings`` overrides the WAND_MIN_POSTINGS corpus-size guard
    (0 = always engage; tests and crossover benchmarks)."""
    q = query.rewrite() if hasattr(query, "rewrite") else query
    tqs = _flat_should_terms(q)
    index = searcher.index
    if tqs is None or searcher.sim.name != "bm25" or not hasattr(index, "postings"):
        return searcher.search(q, k)
    if getattr(index, "_tomb_table", None) is not None:
        # the metadata threshold certifies docs that may be tombstoned:
        # a dead max-freq doc would push theta above the true k-th LIVE
        # score and wrongly prune blocks holding live hits — deleted
        # indexes take the (exact, liveDocs-filtered) exhaustive plan
        return searcher.search(q, k)

    field = tqs[0].field
    stats = searcher._term_stats(q)
    cs = searcher._collection_stats(field)
    avgdl = searcher.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
    k1, b = searcher.sim.k1, searcher.sim.b

    # per-term folded weight: idf * boost * (k1+1) — the score_col's w
    weights = {}
    for t in tqs:
        st = stats[(field, t.term)]
        if st.df > 0:
            weights[t.term] = searcher.sim.idf(st.df, cs["max_doc"]) * t.boost
    if not weights:
        return searcher.search(q, k)
    terms = list(weights)

    # corpus-size guard (zero extra jobs — df rides the memoized term
    # stats): when the exhaustive plan's decode work is page-cache
    # trivial, its single simple scan beats any pruning machinery.
    est_postings = sum(stats[(field, t)].df for t in terms)
    if est_postings < (
        WAND_MIN_POSTINGS if min_postings is None else min_postings
    ):
        if stats_out is not None:
            stats_out["early_out"] = "postings_below_io_threshold"
        return searcher.search(q, k)

    # degenerate-bounds early-out (zero extra jobs): the term_dict rows
    # already read by the term-stats seek above carry each term's
    # block-metadata spread (min/max of block_max_freq, block_min_dlq).
    # When every block's upper bound sits within a few percent of the
    # term's max, the threshold can never separate blocks and WAND would
    # pay its full overhead to prune nothing — run the single-job
    # exhaustive plan.
    def _ub(w, f, d):
        f = float(f)
        return w * (k1 + 1.0) * f / (f + k1 * (1.0 - b + b * float(d) / avgdl))

    spread_known = all(
        stats[(field, t)].bmf_min is not None
        and stats[(field, t)].bdlq_min is not None
        for t in terms
    )
    if spread_known:
        hi = sum(
            _ub(weights[t], stats[(field, t)].bmf_max, stats[(field, t)].bdlq_min)
            for t in terms
        )
        lo = sum(
            _ub(weights[t], stats[(field, t)].bmf_min, stats[(field, t)].bdlq_max)
            for t in terms
        )
        if hi > 0 and lo >= UNIFORM_UB_FRACTION * hi:
            if stats_out is not None:
                stats_out["early_out"] = "uniform_block_bounds"
            return searcher.search(q, k)

    wmap = F.create_map(
        *[x for kk, v in weights.items() for x in (F.lit(kk), F.lit(v * (k1 + 1.0)))]
    )
    mf = F.col("block_max_freq").cast("double")
    ub_col = (
        F.element_at(wmap, F.col("term"))
        * mf
        / (mf + k1 * (1.0 - b + b * F.col("block_min_dlq") / avgdl))
    )
    term_blocks = (
        index.postings_frame(field, terms)
        if hasattr(index, "postings_frame")
        else index.postings.filter((F.col("field") == field) & F.col("term").isin(terms))
    )
    if "block_max_freq_cnt" not in term_blocks.columns:
        # pre-block_max_dlq index layout: no metadata lower bound to seed
        # the threshold from; the exhaustive plan is the cheaper exact path
        return searcher.search(q, k)
    # mixed chunk sets (mergeSchema over wand + non-wand chunks) pass the
    # column check but carry NULL metadata rows; the theta fold coalesces
    # their cnt to 0 (they certify nothing, prune soundness unaffected)
    # rather than letting a NULL poison the accumulator into an empty
    # top-k (ADVICE r4)
    # metadata lower bound on the best score inside a block: the doc
    # attaining block_max_freq has dlq <= block_max_dlq, so its score is
    # >= w * max_freq / (max_freq + k1*(1-b+b*block_max_dlq/avgdl))
    lb_col = (
        F.element_at(wmap, F.col("term"))
        * mf
        / (mf + k1 * (1.0 - b + b * F.col("block_max_dlq") / avgdl))
    )
    blocks = term_blocks.select(
        "term", "segment_id", "block_id", "block_len",
        "block_first_doc", "block_last_doc",
        F.coalesce(F.col("block_max_freq_cnt"), F.lit(0)).alias(
            "block_max_freq_cnt"
        ),
        ub_col.alias("ub"), lb_col.alias("lb"),
    )
    if stats_out is not None:
        stats_out["blocks_total"] = blocks.count()
    return _wand_fused(searcher, q, k, weights, avgdl, term_blocks, blocks,
                       stats_out)


def _wand_fused(searcher, q, k, weights, avgdl, term_blocks, blocks,
                stats_out) -> DataFrame:
    """One composed Catalyst plan / ONE driver action — no data-dependent
    driver round-trips, no decoded seeding phase, no collected spans.

    The threshold comes from block METADATA alone: within one term,
    blocks hold disjoint doc sets, so the k best per-term block lower
    bounds certify k distinct docs scoring >= the k-th bound — a valid
    theta (per term; the plan takes the max over terms).  Every block
    whose ub + (sum of other terms' max ubs) < theta is provably unable
    to contribute a top-k doc.  Surviving blocks reduce in-plan to the
    SET of doc-range buckets they cover (one broadcast scalar row); a
    block is decoded for the exact rescore iff its own bucket range
    overlaps that set — an arrays_overlap probe against a broadcast
    hash set, never a per-interval predicate or nested-loop join."""
    # scalar row 1: theta + total_ub + per-term max ub, ONE aggregation
    # subtree (per-term sorted fold over that term's block metadata)
    arr = F.array_sort(
        F.collect_list(F.struct("lb", F.col("block_max_freq_cnt").alias("cnt")))
    )  # asc by lb; fold DESC via reverse
    fold = F.aggregate(
        F.reverse(arr),
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(float("-inf")).alias("theta"),
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["cnt"]).alias("cum"),
            F.when(
                (acc["cum"] < k) & (acc["cum"] + x["cnt"] >= k), x["lb"]
            ).otherwise(acc["theta"]).alias("theta"),
        ),
    )["theta"]
    per_term = blocks.groupBy("term").agg(
        F.max("ub").alias("term_max_ub"), fold.alias("theta_t"),
        F.min("block_first_doc").alias("t_min_doc"),
        F.max("block_last_doc").alias("t_max_doc"),
    )
    # bucket granularity derives from the ACTUAL doc-id span of the
    # query's blocks, not countDistinct(doc_id): user-supplied doc ids
    # are not required to be dense, and a distinct-count granularity
    # under sparse ids would explode F.sequence past Spark's array
    # limit and blow the <=512KB broadcast bound (ADVICE r4).  Bucket
    # count stays <= MAX_BUCKETS for any id distribution.
    scalar1 = per_term.agg(
        F.sum("term_max_ub").alias("total_ub"),
        F.max("theta_t").alias("theta"),
        F.map_from_entries(
            F.collect_list(F.struct("term", "term_max_ub"))
        ).alias("tmu"),
        F.greatest(
            F.lit(128).cast("long"),
            (
                (F.max("t_max_doc") - F.min("t_min_doc"))
                / F.lit(MAX_BUCKETS)
            ).cast("long")
            + 1,
        ).alias("_bb"),
    )

    surviving = (
        blocks.crossJoin(F.broadcast(scalar1))
        .filter(
            F.col("ub") + F.col("total_ub") - F.element_at("tmu", F.col("term"))
            >= F.col("theta")
        )
    )
    # scalar row 2: the doc-range buckets covered by surviving blocks
    bucket_seq = F.sequence(
        F.expr("block_first_doc div _bb"), F.expr("block_last_doc div _bb")
    )
    scalar2 = surviving.select(
        F.col("_bb"), F.explode(bucket_seq).alias("bk")
    ).agg(
        F.collect_set("bk").alias("bucket_set"),
        F.max("_bb").alias("_bb"),
    )
    if stats_out is not None:
        stats_out["blocks_surviving"] = surviving.count()

    # exact rescore of every block overlapping a surviving bucket.
    # A doc outside every surviving block may receive a PARTIAL score
    # here (some of its blocks excluded) — harmless: such a doc's full
    # score is provably < theta (every block holding it was pruned), so
    # a partial sum can never displace a true top-k doc, all of which
    # live in surviving blocks and get full sums.
    needed = term_blocks.crossJoin(F.broadcast(scalar2)).filter(
        F.arrays_overlap(bucket_seq, F.col("bucket_set"))
    )
    if stats_out is not None:
        stats_out["blocks_decoded_rescore"] = needed.count()
    flat = needed.select(
        "term",
        F.explode(F.arrays_zip("doc_ids", "freqs", "dlqs", "norm_bytes")).alias("e"),
    ).select(
        "term",
        F.col("e.doc_ids").alias("doc_id"),
        F.col("e.freqs").alias("freq"),
        F.col("e.dlqs").alias("dlq"),
        F.col("e.norm_bytes").alias("norm_byte"),
    )
    from ..index.deletes import live_rows

    index = searcher.index
    flat = live_rows(index, flat)
    idf_map = F.create_map(*[x for kk, v in weights.items() for x in (F.lit(kk), F.lit(v))])
    score = searcher.sim.score_col(
        F.col("freq").cast("double"), F.col("dlq"), norm_bytes(index),
        F.element_at(idf_map, F.col("term")), avgdl, 1.0,
    )
    from .executor import _score_e6

    return (
        flat.select("doc_id", score.alias("score"))
        .groupBy("doc_id").agg(F.sum("score").alias("score"))
        # same keyset as Searcher.search/search_after: on sub-1e-6
        # score ties the fused and fallback paths must agree
        .orderBy(F.desc(_score_e6()), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
    )
