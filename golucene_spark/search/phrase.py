"""PhraseQuery (Q18): exact-phrase matching over indexed positions.

The reference indexes positions (W4, termsHashConsumerPerField.go:268-282)
but has no phrase scorer (SURVEY §2.4 Q18 marked v2).  We implement the
Lucene semantics: phrase frequency = number of positions p such that
term_i occurs at p+i for all i; the doc is scored by the query's
similarity with freq=phraseFreq and idf = sum of the terms' idfs
(Lucene's PhraseWeight sums idfs via Similarity.idfExplain(terms)).

Execution shape: conjunction (only docs containing ALL terms survive)
-> one matcher over the whole batch at once (``slot_freqs``): each
slot's position blobs are decoded from the Arrow buffers into a single
int64 array keyed by (row_index << 32) + (position - term_offset), so
one intersection (exact) or one window count (sloppy) per query term
replaces any per-doc Python loop.  Two placements share that matcher:
a selective phrase is answered on the driver by the top-k kernel
(search/topk.py) over ``MaterializedIndex.postings_arrays``; otherwise
Spark runs the conjunction, the exact match as array_intersect in
whole-stage codegen and the sloppy match in a mapInArrow stage.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F, types as T

from .ast import PhraseQuery
from .executor import norm_bytes


def _flat_rows_adj(blobs, term_offset: int):
    """Arrow binary array of packed little-endian int32 position blobs
    (row i's blob at index i; null = no positions) -> (rows, adjusted
    positions) int64 arrays.  One np.frombuffer over the array's data
    buffer, cut by its offsets: no per-row Python work and no copy of
    the blobs."""
    if blobs.null_count:
        blobs = pc.fill_null(blobs, b"")
    n = len(blobs)
    _, off_buf, data = blobs.buffers()
    wide = pa.types.is_large_binary(blobs.type)
    offs = np.frombuffer(off_buf, np.int64 if wide else np.int32, n + 1,
                         offset=blobs.offset * (8 if wide else 4)).astype(np.int64)
    nbytes = int(offs[-1] - offs[0])
    flat = (np.frombuffer(data, "<i4", nbytes >> 2, offset=int(offs[0]))
            if nbytes else np.empty(0, "<i4")).astype(np.int64)
    rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(offs) >> 2)
    return rows, flat - term_offset


def slot_freqs(slots, slop: int = 0, in_order: bool = False) -> np.ndarray:
    """Phrase frequency per row of ``slots`` (one Arrow binary array of
    position blobs per query slot, row-aligned: row r of every slot is
    the same doc).  The one matcher of both placements: the Spark
    sloppy stage runs it per Arrow batch, the driver top-k kernel over
    the query's conjunction."""
    m = len(slots[0])
    flats = [_flat_rows_adj(b, i) for i, b in enumerate(slots)]
    if slop or in_order:
        return _batch_sloppy_freqs(flats, m, slop, in_order)
    return _batch_exact_freqs(flats, m)


def _batch_exact_freqs(flats, m: int) -> np.ndarray:
    """Exact phrase frequency per row: the number of DISTINCT start
    positions p with a slot-i occurrence at p + i for every i (the
    array_intersect semantics of the Spark placement), as one
    intersection of (row << 32) + (pos - i) keys per slot."""
    shift = np.int64(len(flats))  # adjusted positions are >= -(n - 1)
    keys = None
    for rows, adj in flats:
        k = np.unique((rows << 32) + (adj + shift))
        keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
    return np.bincount(keys >> 32, minlength=m).astype(np.float64)


def _batch_sloppy_freqs(flats, m: int, slop: int, in_order: bool) -> np.ndarray:
    """Per-row sloppy frequencies for a whole batch — polynomial in the
    number of positions, never in (2*slop+1)^(n-1).

    Semantics (unchanged): every alignment tuple (one adjusted position
    adj_i = pos_i - i per term) with spread = max(adj) - min(adj) <= slop
    contributes 1/(1+spread); ``in_order`` additionally requires the
    adjusted positions to be non-decreasing in term order (pos strictly
    increasing — ordered SpanNearQuery).

    Unordered: window telescoping.  With A(s) = sum over window starts L
    of prod_i count_i([L, L+s]), the number of tuples with exact spread s
    is N(s) = A(s) - 2*A(s-1) + A(s-2) (a spread-r tuple lies in exactly
    s-r+1 windows of span s).  Counts come from two searchsorted calls
    per term over sorted (row, adj) keys; candidate starts are the
    sparsest term's positions minus 0..slop.  O(P * slop * n * log P).

    Ordered: anchored DP over window offsets.  For chain starts L (term-0
    positions), D_i[cand, j] = number of non-decreasing partial chains
    through terms 0..i ending at offset j <= slop; each term applies a
    prefix-cumsum then a membership mask.  A chain's weight keys off its
    final offset (spread = adj_last - adj_0).  O(P_0 * slop * n * log P).
    """
    n = len(flats)
    freqs = np.zeros(m, dtype=np.float64)
    # shift adjusted positions so every tuple coordinate and candidate
    # window start stays non-negative inside the (row << 32) + adj keys
    # (adj_i >= -(n-1); unordered starts reach adj - slop)
    shift = np.int64(n + slop)
    keys = []
    for rows_i, adj_i in flats:
        k = (rows_i << 32) + (adj_i + shift)
        k.sort()
        keys.append(k)
        if k.size == 0:
            return freqs
    S = slop + 1
    weights = 1.0 / (1.0 + np.arange(S, dtype=np.float64))

    offs = np.arange(S, dtype=np.int64)

    if in_order:
        rows0, adj0 = flats[0]
        cand_key = (rows0 << 32) + (adj0 + shift)
        cand_rows = rows0
        D = np.zeros((cand_key.size, S), dtype=np.float64)
        D[:, 0] = 1.0
        probes = cand_key[:, None] + offs[None, :]  # (C, S), shared by all terms
        for i in range(1, n):
            D = np.cumsum(D, axis=1)
            # ONE 2-D searchsorted per term instead of S sequential probes
            idx = np.searchsorted(keys[i], probes)
            hit = (idx < keys[i].size) & (
                keys[i][np.minimum(idx, keys[i].size - 1)] == probes
            )
            D *= hit
        return np.bincount(cand_rows, weights=D @ weights, minlength=m)

    # unordered: anchor candidates on the sparsest term
    a = min(range(n), key=lambda i: keys[i].size)
    cand_key = np.unique(
        np.concatenate([keys[a] - j for j in range(S)])
    )
    cand_rows = (cand_key >> 32).astype(np.int64)
    W = np.ones((cand_key.size, S), dtype=np.float64)
    ends = cand_key[:, None] + offs[None, :] + 1  # (C, S)
    for i in range(n):
        lo = np.searchsorted(keys[i], cand_key)
        W *= np.searchsorted(keys[i], ends) - lo[:, None]
    A = np.zeros((m, S), dtype=np.float64)
    np.add.at(A, cand_rows, W)  # one scatter for all spreads
    for s in range(S):
        n_s = A[:, s].copy()
        if s >= 1:
            n_s -= 2.0 * A[:, s - 1]
        if s >= 2:
            n_s += A[:, s - 2]
        freqs += n_s * weights[s]
    return freqs


def phrase_freq_frame(index, field: str, terms: list[str], slop: int = 0,
                      in_order: bool = False) -> DataFrame:
    """(doc_id, freq, dlq, norm_byte) for docs matching the phrase.

    slop=0: exact adjacency (Lucene ExactPhraseScorer semantics) —
    integer freq = number of start positions where every term_i sits at
    p+i.

    slop>0: set-oriented sloppy frequency — every alignment tuple (one
    position per term) whose offset-adjusted spread is <= slop
    contributes sloppyFreq = 1/(1 + spread) (similarities.go's
    1/(distance+1)); a deterministic order-independent analogue of
    Lucene's greedy SloppyPhraseScorer (the reference has no phrase
    scorer at all: queryParser.go:58 panics).  Vectorized over the whole
    Arrow batch via window telescoping / anchored DP
    (_batch_sloppy_freqs) — polynomial in total positions, no per-doc
    Python loop and no exponential offset-vector enumeration."""
    if slop or in_order:
        return _sloppy_freq_frame(index, field, terms, slop, in_order)
    return _exact_freq_frame(index, field, terms)


def _conjunction_base(index, field: str, terms: list[str]):
    """Docs containing ALL terms, with one position-blob column per
    query slot.  ONE term-pruned scan (In(term, ...) pushdown) + ONE
    partial-agg groupBy — not n scans and n-1 shuffle joins: the doc has
    exactly one live postings row per term, so pivoting the rows into a
    term->positions map and requiring all terms present IS the
    conjunction."""
    uniq = list(dict.fromkeys(terms))
    p = index.postings_for_terms(field, uniq, with_positions=True)
    # per-slot max(when(term = t, positions)): declarative aggregates
    # keep the pivot inside whole-stage-codegen HashAggregate (a
    # collect_list map pivot would drop to ObjectHashAggregate); at most
    # one row per (doc, term) exists, so max IS the value
    slot = {t: F.max(F.when(F.col("term") == t, F.col("positions")))
            for t in uniq}
    upos = {t: f"_p_{j}" for j, t in enumerate(uniq)}
    cond = None
    for t in uniq:
        c = F.col(upos[t]).isNotNull()  # conjunction: every term present
        cond = c if cond is None else (cond & c)
    agg = p.groupBy("doc_id").agg(
        *[slot[t].alias(upos[t]) for t in uniq],
        F.first("dlq").alias("dlq"),
        F.first("norm_byte").alias("norm_byte"),
    ).filter(cond)
    return agg.select(
        "doc_id",
        *[F.col(upos[t]).alias(f"pos{i}") for i, t in enumerate(terms)],
        "dlq",
        "norm_byte",
    )


def _multi_conjunction_base(index, field: str, term_sets):
    """MultiPhraseQuery conjunction: slot i matches a doc when ANY of
    its terms occurs — per-slot union of the terms' postings with the
    doc's matching position blobs CONCATENATED (packed order is
    irrelevant, the matcher sorts).  Same single-scan shape as
    _conjunction_base: one In(term,...) pruned scan, one groupBy; the
    per-slot union folds the collected (term, positions) rows filtered
    through a term->slot map literal."""
    slots_of: dict[str, list] = {}
    for i, ts in enumerate(term_sets):
        for t in dict.fromkeys(ts):
            slots_of.setdefault(t, []).append(i)  # a term may serve many slots
    smap = F.create_map(*[
        x for t, ii in slots_of.items()
        for x in (F.lit(t), F.array(*[F.lit(j) for j in ii]))
    ])
    p = index.postings_for_terms(field, list(slots_of), with_positions=True)
    rows = F.collect_list(
        F.struct(F.element_at(smap, F.col("term")).alias("slots"), F.col("positions"))
    )
    agg = p.groupBy("doc_id").agg(
        rows.alias("_rows"),
        F.first("dlq").alias("dlq"),
        F.first("norm_byte").alias("norm_byte"),
    )
    def slot_blob(i):
        return F.aggregate(
            F.filter(F.col("_rows"), lambda r: F.array_contains(r["slots"], i)),
            F.lit(b"").cast("binary"),
            lambda a, r: F.concat(a, F.coalesce(r["positions"], F.lit(b""))),
        )
    out = agg.select(
        "doc_id",
        *[slot_blob(i).alias(f"pos{i}") for i in range(len(term_sets))],
        "dlq",
        "norm_byte",
    )
    # conjunction: every slot must have at least one occurrence
    cond = None
    for i in range(len(term_sets)):
        c = F.length(F.col(f"pos{i}")) > 0
        cond = c if cond is None else (cond & c)
    return out.filter(cond)


def multi_phrase_freq_frame(index, field: str, term_sets, slop: int = 0,
                            in_order: bool = False) -> DataFrame:
    """(doc_id, freq, dlq, norm_byte) for docs matching a
    MultiPhraseQuery: same matcher as phrase_freq_frame, with each
    slot's candidate positions the union of its terms' occurrences."""
    base = _multi_conjunction_base(index, field, term_sets)
    n = len(term_sets)
    if slop or in_order:
        return _sloppy_from_base(base, n, slop, in_order)
    # slots are UNIONS of term position blobs: two terms of one slot may
    # occupy the same position (e.g. a shingle and its first unigram), so
    # keys within a slot are not unique — array_intersect's distinct
    # semantics in _exact_from_base dedupe them by construction.
    return _exact_from_base(base, n)


def _sloppy_freq_frame(index, field: str, terms: list[str], slop: int,
                       in_order: bool = False) -> DataFrame:
    return _sloppy_from_base(
        _conjunction_base(index, field, terms), len(terms), slop, in_order
    )


def _sloppy_from_base(base, n: int, slop: int,
                      in_order: bool = False) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("freq", T.DoubleType()),
            T.StructField("dlq", T.DoubleType()),
            T.StructField("norm_byte", T.IntegerType()),
        ]
    )

    def compute(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            freqs = slot_freqs([rb.column(f"pos{i}") for i in range(n)], slop, in_order)
            keep = pa.array(freqs > 0)
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id"), pa.array(freqs), rb.column("dlq"),
                 rb.column("norm_byte")],
                names=["doc_id", "freq", "dlq", "norm_byte"],
            ).filter(keep)

    return base.mapInArrow(compute, schema)


def _exact_freq_frame(index, field: str, terms: list[str]) -> DataFrame:
    """(doc_id, freq, dlq, norm_byte) for docs matching the exact phrase."""
    return _exact_from_base(_conjunction_base(index, field, terms), len(terms))


def _exact_from_base(base, n: int) -> DataFrame:
    """Exact phrase frequency entirely in whole-stage codegen: decode
    each slot's packed position blob JVM-side and fold
    array_intersect over the offset-shifted arrays — freq = number of
    distinct start positions p with a slot-i occurrence at p+i for all
    i.  No Python worker round-trip (the former mapInPandas stage cost
    more in Arrow transfer + worker scheduling than the whole match).
    array_intersect's distinct semantics also dedupe union slots
    (MultiPhraseQuery: one slot may hold two terms sharing a
    position)."""
    # slot 0 may be a union blob with duplicate positions; distinct-ify
    # (array_intersect dedupes the later slots by itself)
    inter = F.array_distinct(positions_array_col("pos0"))

    def _shift(off):
        # NOTE: must be a ONE-parameter lambda — a second parameter
        # (even defaulted) makes F.transform bind it to the element
        # INDEX
        return lambda x: x - off

    for i in range(1, n):
        inter = F.array_intersect(
            inter, F.transform(positions_array_col(f"pos{i}"), _shift(i))
        )
    return (
        base.select(
            "doc_id", F.size(inter).alias("freq"), "dlq", "norm_byte"
        )
        .filter(F.col("freq") > 0)
    )


def positions_array_col(col="positions"):
    """JVM-side decode of a packed little-endian int32 position blob to
    array<int> — hex/conv per 4-byte slice inside whole-stage codegen,
    no Python round-trip."""
    return F.expr(
        f"transform(sequence(1, int(length({col}) / 4)), i -> "
        f"cast(conv(concat(hex(substring({col}, i*4, 1)), "
        f"hex(substring({col}, i*4-1, 1)), "
        f"hex(substring({col}, i*4-2, 1)), "
        f"hex(substring({col}, i*4-3, 1))), 16, 10) as int))"
    )


def payload_floats_col(col="payloads"):
    """JVM-side decode of a packed little-endian float32 payload blob to
    array<double> — bit-exact IEEE-754 reassembly inside whole-stage
    codegen (sign * (1+m/2^23) * 2^(e-127); denormals m/2^23 * 2^-126):
    every step (dyadic mantissa fraction, integer power of two, sign
    flip) is exact in double, so the decode matches NumPy's frombuffer
    to the bit for all finite payloads."""
    bits = (f"cast(conv(concat(hex(substring({col}, i*4, 1)), "
            f"hex(substring({col}, i*4-1, 1)), "
            f"hex(substring({col}, i*4-2, 1)), "
            f"hex(substring({col}, i*4-3, 1))), 16, 10) as bigint)")
    return F.expr(
        f"transform(sequence(1, int(length({col}) / 4)), i -> ("
        f"case when {bits} % 2147483648 = 0 then cast(0.0 as double) else "
        f"(case when ({bits} div 2147483648) % 2 = 1 then -1.0 else 1.0 end)"
        f" * (case when (({bits} div 8388608) % 256) = 0"
        f" then (cast(({bits} % 8388608) as double) / 8388608.0) * pow(2.0, -126)"
        f" else (1.0 + cast(({bits} % 8388608) as double) / 8388608.0)"
        f" * pow(2.0, (({bits} div 8388608) % 256) - 127) end) end))"
    )


def payload_term_search(searcher, field: str, term: str, k: int = 10,
                        include_span_score: bool = True) -> DataFrame:
    """PayloadTermQuery + AveragePayloadFunction (Lucene 4.10 payloads
    package; the reference WRITES payloads into the prox stream at
    termsHashConsumerPerField.go:268-282 but its payload readers are
    stubbed): score = termScore(doc) * avg(payload) per occurrence
    (includeSpanScore=True), or the average payload alone.  Pure
    Catalyst: the float32 blob decodes JVM-side (payload_floats_col),
    the average is a sequential aggregate fold in position order."""
    from .ast import TermQuery

    s = searcher
    q = TermQuery(field, term)
    stats = s._term_stats(q)
    st = stats[(field, term)]
    if st.df == 0:
        from .executor import empty_results

        return empty_results(s.index.spark)
    cs = s._collection_stats(field)
    idf = s.sim.idf(st.df, cs["max_doc"])
    avgdl = s.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
    p = s.index.postings_for_terms(field, [term], with_payloads=True)
    if "payloads" not in p.columns:
        raise ValueError(
            f"index stores no payloads for field {field!r} "
            "(build with FieldSpec(payloads=True))"
        )
    pf = payload_floats_col()
    avg_payload = F.coalesce(
        F.aggregate(pf, F.lit(0.0), lambda a, x: a + x)
        / F.size(pf),
        F.lit(1.0),
    )
    kwargs = (
        {"query_norm": s.sim.query_norm(s._sum_sq(q, stats))}
        if s.sim.uses_coord
        else {}
    )
    base = s.sim.score_col(
        F.col("freq").cast("double"), F.col("dlq"), norm_bytes(s.index), idf, avgdl, 1.0,
        **kwargs,
    )
    score = (base * avg_payload) if include_span_score else avg_payload
    return (
        p.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _span_first_parts(searcher, field: str, term: str, end: int):
    """(qualifying frame with _qf/dlq/norm_byte, idf, avgdl, sim
    kwargs) for SpanFirstQuery — shared by search and explain; None
    when the term is absent."""
    from .ast import TermQuery

    s = searcher
    q = TermQuery(field, term)
    stats = s._term_stats(q)
    st = stats[(field, term)]
    if st.df == 0:
        return None
    cs = s._collection_stats(field)
    idf = s.sim.idf(st.df, cs["max_doc"])
    avgdl = s.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
    p = s.index.postings_for_terms(field, [term], with_positions=True)
    pos = positions_array_col()
    qfreq = F.size(F.filter(pos, lambda x: x < F.lit(end)))
    kwargs = (
        {"query_norm": s.sim.query_norm(s._sum_sq(q, stats))}
        if s.sim.uses_coord
        else {}
    )
    return p.withColumn("_qf", qfreq).filter(F.col("_qf") > 0), idf, avgdl, kwargs


def span_first_search(searcher, field: str, term: str, end: int,
                      k: int = 10) -> DataFrame:
    """SpanFirstQuery (Lucene spans module): the term must occur within
    the first ``end`` positions of the field; the doc is scored by the
    similarity with freq = number of qualifying positions.  Pure
    Catalyst: positions decode JVM-side (positions_array_col) and the
    qualifying freq is a size(filter(...)) over the array — no
    Python."""
    parts = _span_first_parts(searcher, field, term, end)
    if parts is None:
        from .executor import empty_results

        return empty_results(searcher.index.spark)
    frame, idf, avgdl, kwargs = parts
    s = searcher
    score = s.sim.score_col(
        F.col("_qf").cast("double"), F.col("dlq"), norm_bytes(s.index), idf, avgdl, 1.0,
        **kwargs,
    )
    return (
        frame.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _span_or_parts(searcher, field: str, terms: list[str]):
    """(merged frame with _qf/dlq/norm_byte, idf, avgdl, kwargs) for
    SpanOrQuery — shared by search and explain; None when every clause
    term is absent."""
    from .ast import BooleanClause, BooleanQuery, Occur, TermQuery

    s = searcher
    terms = list(dict.fromkeys(terms))
    stats = s._term_stats(BooleanQuery(tuple(
        BooleanClause(TermQuery(field, t), Occur.SHOULD) for t in terms
    )))
    live = [t for t in terms if stats[(field, t)].df > 0]
    if not live:
        return None
    cs = s._collection_stats(field)
    idf = sum(s.sim.idf(stats[(field, t)].df, cs["max_doc"]) for t in live)
    avgdl = s.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
    p = s.index.postings_for_terms(field, live)
    merged = p.groupBy("doc_id").agg(
        F.sum("freq").cast("double").alias("_qf"),
        F.first("dlq").alias("dlq"),
        F.first("norm_byte").alias("norm_byte"),
    )
    return merged, idf, avgdl, {}


def span_or_search(searcher, field: str, terms: list[str],
                   k: int = 10) -> DataFrame:
    """SpanOrQuery over term spans (Lucene spans module): the clause
    spans union, so a doc's frequency is the TOTAL number of
    occurrences of any listed term (one scorer over the merged span
    stream — unlike BooleanQuery's per-term score sum), scored with the
    summed idf of the clauses (SpanWeight stats over all terms).  One
    pruned postings scan (In(term,...) pushdown) + one groupBy(doc)."""
    parts = _span_or_parts(searcher, field, terms)
    if parts is None:
        from .executor import empty_results

        return empty_results(searcher.index.spark)
    frame, idf, avgdl, kwargs = parts
    s = searcher
    score = s.sim.score_col(
        F.col("_qf"), F.col("dlq"), norm_bytes(s.index), idf, avgdl, 1.0, **kwargs
    )
    return (
        frame.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _span_not_parts(searcher, field: str, include: str, exclude: str,
                    pre: int = 0, post: int = 0):
    """(qualifying frame with _qf/dlq/norm_byte, idf, avgdl, kwargs)
    for SpanNotQuery — shared by search and explain; None when the
    include term is absent."""
    from .ast import TermQuery

    s = searcher
    q = TermQuery(field, include)
    stats = s._term_stats(q)
    st = stats[(field, include)]
    if st.df == 0:
        return None
    cs = s._collection_stats(field)
    idf = s.sim.idf(st.df, cs["max_doc"])
    avgdl = s.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
    inc = s.index.postings_for_terms(field, [include], with_positions=True)
    exc = s.index.postings_for_terms(field, [exclude], with_positions=True).select(
        "doc_id", F.col("positions").alias("ex_positions")
    )
    joined = inc.join(exc, "doc_id", "left")
    inc_pos = positions_array_col("positions")
    ex_pos = F.coalesce(
        positions_array_col("ex_positions"), F.array().cast("array<int>")
    )
    qfreq = F.size(
        F.filter(
            inc_pos,
            lambda p: ~F.exists(
                ex_pos, lambda e: (e >= p - pre) & (e <= p + post)
            ),
        )
    )
    kwargs = (
        {"query_norm": s.sim.query_norm(s._sum_sq(q, stats))}
        if s.sim.uses_coord
        else {}
    )
    return joined.withColumn("_qf", qfreq).filter(F.col("_qf") > 0), idf, avgdl, kwargs


def span_not_search(searcher, field: str, include: str, exclude: str,
                    pre: int = 0, post: int = 0, k: int = 10) -> DataFrame:
    """SpanNotQuery (Lucene spans module): occurrences of ``include``
    qualify only when no ``exclude`` occurrence sits within
    [pos - pre, pos + post]; the doc is scored by the similarity with
    freq = number of qualifying positions and the INCLUDE term's idf
    (SpanNotQuery scores from the include span).  Pure Catalyst: both
    position blobs decode JVM-side; the qualification test is a nested
    exists over the (bounded per-doc) exclude positions."""
    parts = _span_not_parts(searcher, field, include, exclude, pre, post)
    if parts is None:
        from .executor import empty_results

        return empty_results(searcher.index.spark)
    frame, idf, avgdl, kwargs = parts
    s = searcher
    score = s.sim.score_col(
        F.col("_qf").cast("double"), F.col("dlq"), norm_bytes(s.index), idf, avgdl, 1.0,
        **kwargs,
    )
    return (
        frame.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _span_explain(searcher, parts, doc_id: int, description: str) -> dict:
    """Shared span explain: fetch the doc's qualifying freq / dl / norm
    components from the span's base frame, then recompute the score
    driver-side with the similarity's numpy twin — value equals the
    span search's frame score exactly (same arithmetic)."""
    if parts is None:
        return {"match": False, "value": 0.0,
                "description": f"no match: {description} (term absent)"}
    frame, idf, avgdl, kwargs = parts
    rows = frame.filter(F.col("doc_id") == doc_id).collect()
    if not rows:
        return {"match": False, "value": 0.0,
                "description": f"no match: {description}"}
    r = rows[0]
    value = searcher._score_one(r["_qf"], r["dlq"], r["norm_byte"], idf, avgdl, 1.0,
                                kwargs.get("query_norm", 1.0))
    return {
        "match": True,
        "value": value,
        "description": f"{description}, doc={doc_id}, freq=qualifying spans",
        "details": {
            "freq": float(r["_qf"]), "idf": idf,
            "dl": float(r["dlq"]), "avgdl": avgdl,
            **({"query_norm": kwargs["query_norm"]} if kwargs else {}),
        },
    }


def span_first_explain(searcher, field: str, term: str, end: int,
                       doc_id: int) -> dict:
    """Explain twin of span_first_search (Q13 totality over spans)."""
    return _span_explain(
        searcher, _span_first_parts(searcher, field, term, end), doc_id,
        f"spanFirst({field}:{term}, end={end})",
    )


def span_or_explain(searcher, field: str, terms: list, doc_id: int) -> dict:
    """Explain twin of span_or_search."""
    return _span_explain(
        searcher, _span_or_parts(searcher, field, terms), doc_id,
        f"spanOr({field}:[{', '.join(terms)}])",
    )


def span_not_explain(searcher, field: str, include: str, exclude: str,
                     doc_id: int, pre: int = 0, post: int = 0) -> dict:
    """Explain twin of span_not_search."""
    return _span_explain(
        searcher, _span_not_parts(searcher, field, include, exclude, pre, post),
        doc_id, f"spanNot({field}:{include} NOT {exclude})",
    )


def span_near_explain(searcher, field: str, terms: list, slop: int,
                      doc_id: int) -> dict:
    """Explain twin of span_near_search — SpanNear delegates to the
    ordered sloppy PhraseQuery, so its explain is the PhraseQuery
    branch of Searcher.explain."""
    from .ast import PhraseQuery as PQ

    return searcher.explain(PQ(field, tuple(terms), 1.0, slop, True), doc_id)

def span_near_search(searcher, field: str, terms: list[str], slop: int = 0,
                     k: int = 10) -> DataFrame:
    """Ordered SpanNearQuery (Lucene spans module; inOrder=true): terms
    must appear in order, alignments with total displacement <= slop
    contribute 1/(1+spread) to the sloppy frequency.  Same conjunction
    + whole-batch vectorized machinery as the phrase scorer."""
    from .ast import PhraseQuery as PQ

    return searcher.search(PQ(field, tuple(terms), 1.0, slop, True), k)


def phrase_search(searcher, field: str, terms: list[str], k: int = 10) -> DataFrame:
    """Top-k BM25/classic scoring of an exact phrase (the PhraseQuery
    path through the Searcher — same stats/weights machinery as every
    other query)."""
    from .executor import empty_results

    terms = list(terms)
    if not terms:
        return empty_results(searcher.index.spark)
    return searcher.search(PhraseQuery(field, tuple(terms)), k)
