"""The driver placement of the top-k collector: one Arrow/NumPy kernel.

In the reference a term or boolean search collects each segment's top
hits in process and merges them by docBase (collect.go:246-303,
search.go:95-113).  Here a selective query is answered the same way: its
postings are read on the driver with Arrow (``MaterializedIndex.
postings_arrays``, tombstones and dead segments applied), scored with
the similarity's ``score_np``, combined per doc with the boolean rules
of ``Searcher._boolean_frame``, and cut to the top k in the collector's
order.  No Catalyst plan is built and no Spark job starts; the hits come
back as a small local DataFrame.

Multi-term nodes (fuzzy, wildcard, regexp, range) are first expanded
through ``Searcher._resolve``, the snapshot-cache entry the Spark
placement reads too; a fuzzy expansion is itself an Arrow read of the
snapshot's term_dict (``multiterm.expand_fuzzy``).  The kernel's class
is then what ``_boolean_frame`` folds into one scan, plus phrases:

- a TermQuery on a text or keyword field;
- a BooleanQuery of TermQuery clauses (MUST / SHOULD / MUST_NOT) and
  pure same-field OR groups as ``Searcher._flatten_or_group`` accepts
  them (an expanded fuzzy query is one), keyword-field MUST clauses
  scoring the constant ``_keyword_const_score``;
- boosts at both levels, ``minimum_should_match`` and classic coord;
- a PhraseQuery, exact or sloppy (``in_order`` included): the postings
  carry their position blobs, the conjunction is the docs holding every
  term, and ``phrase.slot_freqs`` (the Spark sloppy stage's matcher)
  gives the phrase frequency ``_phrase_frame`` scores.

Every score comes from ``score_np`` with the Searcher's ``_term_scalar``,
``_collection_stats`` and ``norm_bytes``, the arithmetic explain already
shares with the Spark placement's ``score_col``.  Everything else
(MultiPhraseQuery, spans, dismax, phrases inside booleans) and any query
whose summed df exceeds DRIVER_MAX_DF keeps the Spark placement,
``collect_topk`` over ``score_frame``.
"""

from __future__ import annotations

import numpy as np

import pyarrow as pa
import pyarrow.compute as pc

from .ast import BooleanQuery, PhraseQuery, TermQuery

# largest summed document frequency of a query's terms that the driver
# answers.  df counts tombstoned docs, so it bounds the posting rows the
# kernel scores.  Measured with local[4] on 4 CPUs
# (BENCH/driver_topk_crossover.json): the driver wins at every df on
# 1k- and 50k-doc indexes; on a 200k-doc index its full read of the
# posting files costs ~0.8 s whatever the df and Spark is ahead from
# about 3,000 upward, so the cap bounds that loss.  Phrases share it:
# with their position blobs read too, the driver still wins at every
# summed df up to 200,000 on all three index sizes
# (BENCH/driver_expand_crossover.json); fuzzy expansion wins at every
# term_dict size there, so it has no cap of its own
DRIVER_MAX_DF = 50_000


def driver_search(searcher, query, k: int):
    """The top-k DataFrame of ``query`` computed on the driver, or None
    when the query belongs to the Spark placement (not a
    MaterializedIndex, outside the kernel's class once expanded, or
    summed df above DRIVER_MAX_DF)."""
    from ..index.builder import MaterializedIndex
    from .executor import RESULT_SCHEMA, empty_results

    if not isinstance(searcher.index, MaterializedIndex):
        return None
    # fuzzy and the other multi-term nodes expand through the snapshot
    # cache entry the Spark placement reads too
    q = searcher._resolve(query.rewrite()).rewrite()
    if not _in_class(searcher, q):
        return None
    stats = searcher._term_stats(q)
    if sum(st.df for st in stats.values()) > DRIVER_MAX_DF:
        return None
    doc, score = _collect(*_Kernel(searcher, q, stats).scores(q), k)
    spark = searcher.index.spark
    if not len(doc):
        return empty_results(spark)
    # a local relation: planned as a LocalTableScan, collected with no job
    return spark.createDataFrame(pa.table({"doc_id": doc, "score": score}), RESULT_SCHEMA)


def _in_class(searcher, q) -> bool:
    if isinstance(q, TermQuery):
        return True
    if isinstance(q, PhraseQuery):
        return len(q.terms) > 1
    return isinstance(q, BooleanQuery) and all(
        isinstance(c.query, TermQuery) or searcher._flatten_or_group(c.query)
        for c in q.clauses
    )


def e6(score: np.ndarray) -> np.ndarray:
    """``executor._score_e6`` on the driver: round(score * 1e6) HALF_UP
    over the product's shortest decimal repr.  floor(x + 0.5) agrees
    with that rule except within rounding error of a .5 tie, so those
    few values take ``cursor_e6``'s exact decimal path."""
    from .executor import cursor_e6

    x = score * 1e6
    out = np.floor(x + 0.5)
    tie = np.abs(x - np.floor(x) - 0.5) < 1e-6
    if tie.any():
        out[tie] = [cursor_e6(s) for s in score[tie]]
    return out.astype(np.int64)


def _collect(doc, score, k):
    """The TopScoreDocCollector order of ``collect_topk``: _e6
    descending, then doc_id ascending, first k."""
    if k <= 0 or not len(doc):
        return doc[:0], score[:0]
    key = e6(score)
    if len(key) > k:  # only the k-th key's ties can still enter
        keep = key >= np.partition(key, len(key) - k)[len(key) - k]
        doc, score, key = doc[keep], score[keep], key[keep]
    order = np.lexsort((doc, -key))[:k]
    return doc[order], score[order]


class _Kernel:
    """One query's postings, read once per field, scored per clause."""

    def __init__(self, searcher, q, stats):
        self.s = searcher
        self.sim = searcher.sim
        self.stats = stats
        self.qn = self.sim.query_norm(searcher._sum_sq(q, stats))
        by_field: dict[str, set] = {}
        for (f, t), st in stats.items():
            if st.df:
                by_field.setdefault(f, set()).add(t)
        with_positions = isinstance(q, PhraseQuery)
        # (field, term) -> [doc_id, freq, dlq, norm_byte(, positions)]
        self.post = {}
        for f, terms in by_field.items():
            terms = sorted(terms)
            rows = searcher.index.postings_arrays(f, terms, with_positions)
            code = pc.index_in(rows.column("term"), value_set=pa.array(terms)).to_numpy()
            order = np.argsort(code, kind="stable")
            cuts = np.searchsorted(code[order], np.arange(len(terms) + 1))
            cols = [rows.column(c).to_numpy()[order]
                    for c in ("doc_id", "freq", "dlq", "norm_byte")]
            if with_positions:
                pos = rows.column("positions").take(pa.array(order)).combine_chunks()
            for i, t in enumerate(terms):
                self.post[(f, t)] = [c[cuts[i]:cuts[i + 1]] for c in cols]
                if with_positions:
                    self.post[(f, t)].append(pos.slice(cuts[i], cuts[i + 1] - cuts[i]))

    def _empty(self):
        return np.empty(0, np.int64), np.empty(0, np.float64)

    def docs(self, query) -> np.ndarray:
        """The live doc ids a TermQuery or OR group matches."""
        if isinstance(query, TermQuery):
            p = self.post.get((query.field, query.term))
            return p[0] if p is not None else np.empty(0, np.int64)
        return np.concatenate([self.docs(c.query) for c in query.clauses])

    def term(self, tq):
        """(doc_ids, scores) of one TermQuery: score_col's arithmetic."""
        from .executor import norm_bytes

        p = self.post.get((tq.field, tq.term))
        if p is None:
            return self._empty()
        doc, freq, dlq, nb = p
        cs = self.s._collection_stats(tq.field)
        kw = {"query_norm": self.qn} if self.sim.uses_coord else {}
        return doc, self.sim.score_np(
            freq.astype(np.float64), dlq, norm_bytes(self.s.index, nb),
            self.s._term_scalar(self.stats[(tq.field, tq.term)], cs),
            self.sim.avgdl(cs["sum_ttf"], cs["max_doc"]), tq.boost, **kw,
        )

    def clause(self, query):
        """(doc_ids, scores) rows of one clause.  A pure OR group without
        coord folds its boost into its members (the Spark placement's
        flattened scan); classic scores it as the nested boolean it is."""
        if isinstance(query, TermQuery):
            return self.term(query)
        if self.sim.uses_coord:
            return self.boolean(query)
        parts = [self.term(m) for m in self.s._flatten_or_group(query)[1]]
        return (np.concatenate([d for d, _ in parts]),
                np.concatenate([s for _, s in parts]))

    def phrase(self, q):
        """(doc_ids, scores) of a PhraseQuery: ``Searcher._phrase_frame``
        over arrays.  The conjunction is the docs that hold every term
        with positions; ``phrase.slot_freqs``, the Spark placement's
        matcher, counts the phrase per doc, and the doc is scored with
        freq = phraseFreq and idf = the sum of the terms' idfs."""
        from .executor import norm_bytes
        from .phrase import slot_freqs

        posts = [self.post.get((q.field, t)) for t in q.terms]
        if any(p is None for p in posts):
            return self._empty()
        docs = None
        for d, *_, pos in posts:
            d = d[pos.is_valid().to_numpy(zero_copy_only=False)]
            docs = d if docs is None else np.intersect1d(docs, d)
        if not len(docs):
            return self._empty()
        rows = []  # each term's row of docs[r], so slot rows align
        for d, *_ in posts:
            order = np.argsort(d, kind="stable")
            rows.append(order[np.searchsorted(d, docs, sorter=order)])
        freq = slot_freqs([p[4].take(pa.array(r)) for p, r in zip(posts, rows)],
                          q.slop, q.in_order)
        hit = freq > 0
        at = rows[0][hit]
        _, _, dlq, nb, _ = posts[0]
        cs = self.s._collection_stats(q.field)
        idf = sum(self.sim.idf(self.stats[(q.field, t)].df, cs["max_doc"]) for t in q.terms)
        kw = {"query_norm": self.qn} if self.sim.uses_coord else {}
        return docs[hit], self.sim.score_np(
            freq[hit], dlq[at], norm_bytes(self.s.index, nb[at]), idf,
            self.sim.avgdl(cs["sum_ttf"], cs["max_doc"]), q.boost, **kw,
        )

    def scores(self, q):
        if isinstance(q, TermQuery):
            return self.term(q)
        return self.phrase(q) if isinstance(q, PhraseQuery) else self.boolean(q)

    def boolean(self, q):
        """``Searcher._boolean_frame`` over arrays."""
        scoring = [c for c in q.clauses if not c.is_prohibited]
        prohibited = [c for c in q.clauses if c.is_prohibited]
        max_coord = len(scoring)
        kw_semi = [c for c in scoring if c.is_required and isinstance(c.query, TermQuery)
                   and self.s._is_keyword_field(c.query.field)]
        rest = [c for c in scoring if c not in kw_semi]
        if not rest and kw_semi:
            rest.append(kw_semi.pop())  # one clause drives the match set
        if any(self.stats[(c.query.field, c.query.term)].df == 0 for c in kw_semi):
            return self._empty()

        rows = [self.clause(c.query) for c in rest]
        if any(c.is_required and not len(d) for c, (d, _) in zip(rest, rows)):
            return self._empty()
        if not rows or not any(len(d) for d, _ in rows):
            return self._empty()
        uniq, inv = np.unique(np.concatenate([d for d, _ in rows]), return_inverse=True)
        score = np.bincount(inv, weights=np.concatenate([s for _, s in rows]),
                            minlength=len(uniq))
        coord = np.zeros(len(uniq), np.int64)
        must = np.zeros(len(uniq), np.int64)
        for c, (d, _) in zip(rest, rows):
            hit = np.searchsorted(uniq, np.unique(d))
            coord[hit] += 1
            if c.is_required:
                must[hit] += 1
        n_must = sum(c.is_required for c in rest)
        keep = must == n_must
        if q.minimum_should_match > 0:
            keep &= (coord - must) >= q.minimum_should_match
        for c in kw_semi:
            keep &= np.isin(uniq, self.docs(c.query))
        uniq, score, coord = uniq[keep], score[keep], coord[keep]
        for c in kw_semi:
            score = score + self.s._keyword_const_score(c.query, self.stats, self.qn)
            coord = coord + 1
        if self.sim.uses_coord and max_coord > 1:
            score = score * coord / float(max_coord)
        score = score * q.boost
        for c in prohibited:
            live = ~np.isin(uniq, self.docs(c.query))
            uniq, score = uniq[live], score[live]
        return uniq, score
