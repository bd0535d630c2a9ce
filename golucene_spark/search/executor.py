"""Query execution: the read path of core/search as Catalyst plans.

Reference trace (SURVEY §3.2/3.3) -> Spark shape:

  CreateNormalizedWeight (search.go:154-171)
      -> a driver-side term-stats seek (TermContext analogue,
         core/index/terms.go:60-120): a vectorized Arrow read of the
         snapshot's term_dict files, no Spark job + Python scalar weights
  TermScorer (terms.go:184-233)
      -> postings filter (term-pruned scan) + score column
  BooleanScorer bucket table (booleanScorer.go:114-210)
      -> unionByName + groupBy(doc_id).agg(sum(score), count coord)
  MUST conjunction (stubbed at booleanQuery.go:119-120 in the ref)
      -> implemented: must-match count == number of MUST clauses
  MUST_NOT (booleanScorer.go:169-183 prohibited bits)
      -> left_anti join
  TopScoreDocCollector (collect.go:193-346, tie-break :282-303)
      -> two placements, one order (_e6 desc, doc_id asc):
         - Spark: collect_topk, orderBy(...).limit(k) ==
           TakeOrderedAndProject: per-partition top-k + driver merge,
           exactly the per-leaf-collect + docBase-merge of
           search.go:95-113
         - driver: a selective term, boolean, fuzzy or phrase query
           on a MaterializedIndex is scored and cut to k by one
           Arrow/NumPy kernel (search/topk.py) with no Catalyst plan
           and no Spark job; Searcher.search picks it by the summed df
           of the query's terms
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from .ast import (
    BooleanClause,
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    MatchAllQuery,
    Occur,
    PhraseQuery,
    MultiPhraseQuery,
    RegexpQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)
from .similarity import get_similarity

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def empty_results(spark) -> DataFrame:
    """Empty (doc_id, score) frame as a zero-row LocalRelation.
    createDataFrame([], schema) round-trips an empty RDD through Py4J
    and costs ~0.35s PER COLLECT in this sandbox; the WHERE-false SQL
    plan collapses at optimization time (<10ms), so miss queries cost
    what they should — nothing."""
    return spark.sql(
        "SELECT CAST(1 AS BIGINT) AS doc_id, CAST(0.0 AS DOUBLE) AS score "
        "WHERE 1 = 0"
    )


def _score_e6():
    """The collector's stable ordering key: round(score * 1e6) as a
    long.  F.round on a double is Spark's BigDecimal HALF_UP over the
    shortest decimal representation of the double."""
    return F.round(F.col("score") * 1e6, 0).cast("long")


def collect_topk(frame: DataFrame, k: int,
                 after: tuple[float, int] | None = None,
                 hydrate_meta: DataFrame | None = None) -> DataFrame:
    """THE collector.  Every top-k surface — Searcher.search /
    search_with_total / search_after and the CachingSearcher twins —
    collects through this one function, so the (score_e6 desc, doc_id
    asc) order and the keyset cursor rule cannot drift apart across
    copies (the ADVICE r4 page-boundary bug was exactly such a drift).

    ``after``: previous page's last (score, doc_id) — hits must sort
    strictly after it.  ``hydrate_meta``: doc_meta frame to left-join
    onto the k hits (stored-field visitor role)."""
    out = frame.withColumn("_e6", _score_e6())
    if after is not None:
        s_e6 = cursor_e6(after[0])
        d = int(after[1])
        out = out.filter(
            (F.col("_e6") < F.lit(s_e6))
            | ((F.col("_e6") == F.lit(s_e6)) & (F.col("doc_id") > F.lit(d)))
        )
    out = out.orderBy(F.desc("_e6"), F.asc("doc_id")).limit(k)
    if hydrate_meta is not None:
        out = out.join(hydrate_meta, "doc_id", "left").orderBy(
            F.desc("_e6"), F.asc("doc_id")
        )
    return out.drop("_e6")


def cursor_e6(score: float) -> int:
    """Driver-side twin of _score_e6 for an ``after`` cursor score.
    Must use the SAME rounding rule as Spark's F.round — HALF_UP over
    the double's shortest decimal repr (java.math.BigDecimal.valueOf).
    Python's round() is banker's (half-even): a score*1e6 landing
    exactly on .5 would yield a cursor one below the stored _e6 and
    silently skip the whole tie bucket (ADVICE r4)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(score) * 1e6)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
    )


def norm_bytes(index, byte=None):
    """The norm argument of the similarity's ``score_col`` / ``score_np``:
    None when the index keeps unquantized lengths (the scorer reads dlq
    instead), else the norm_byte column, or, given one doc's ``byte`` or
    an array of them, an array."""
    if not index.quantized:
        return None
    return F.col("norm_byte") if byte is None else np.atleast_1d(byte)


def _collect_terms(q, out):
    if isinstance(q, TermQuery):
        out.add((q.field, q.term))
    elif isinstance(q, PhraseQuery):
        for t in q.terms:
            out.add((q.field, t))
    elif isinstance(q, MultiPhraseQuery):
        for ts in q.term_sets:
            for t in ts:
                out.add((q.field, t))
    elif isinstance(q, BooleanQuery):
        for c in q.clauses:
            _collect_terms(c.query, out)
    elif isinstance(q, DisjunctionMaxQuery):
        for s in q.queries:
            _collect_terms(s, out)
    elif isinstance(q, ConstantScoreQuery):
        _collect_terms(q.query, out)
    return out


@dataclass
class _TermStats:
    df: int = 0
    ttf: int = 0
    # block-metadata spread (term_dict columns, MaterializedIndex only):
    # WAND's degenerate-bounds early-out reads these; None = unknown
    bmf_min: int | None = None
    bmf_max: int | None = None
    bdlq_min: float | None = None
    bdlq_max: float | None = None


class Searcher:
    """IndexSearcher (core/search/search.go:51-113) over a LogicalIndex
    or MaterializedIndex."""

    def __init__(self, index, similarity: str = "bm25"):
        self.index = index
        self.sim = get_similarity(similarity) if isinstance(similarity, str) else similarity
        # stats, expansions and plans are properties of the index
        # SNAPSHOT (deletes don't decrement df until merge, exactly the
        # reference's semantics): a fresh Searcher per query — the normal
        # serving pattern — reuses what earlier ones put in its cache
        self.cache = index.snapshot_cache

    def _planned(self, build, *key):
        """A prepared plan through the snapshot cache: building a top-k
        DataFrame costs 0.1-0.2s of driver-side plan construction (BENCH/
        decompose_r6_before.json "plan_build"), and a repeated query's
        immutable DataFrame re-executes from the index tables on every
        collect().  An unhashable key part (custom similarity state,
        exotic query objects) bypasses the cache."""
        try:
            sim_state = tuple(
                (n, v) for n, v in sorted(vars(self.sim).items())
                if isinstance(v, (int, float, str, bool))
            )
            key = (type(self.sim).__name__, sim_state, *key)
            hash(key)
        except TypeError:
            return build()
        return self.cache.get("plan", key, build)

    # -- statistics ------------------------------------------------------
    def _collection_stats(self, field: str) -> dict:
        row = self.index.collection_stats_row(field)
        return {"max_doc": int(row["max_doc"]), "sum_ttf": int(row["sum_ttf"] or 0)}

    def _term_stats(self, query) -> dict[tuple, _TermStats]:
        return self._seek_terms(_collect_terms(query, set()))

    def _seek_terms(self, terms) -> dict[tuple, _TermStats]:
        """{(field, term): _TermStats} through the snapshot cache:
        (field, term) stats never change under one open index, so
        repeated queries (and wand_topk's early-out falling back to
        search()) seek each term once, one lookup_term_stats per field
        for the terms not cached."""
        def seek(missing):
            by_field: dict[str, list[str]] = {}
            for f, t in missing:
                by_field.setdefault(f, []).append(t)
            found = {}
            for f, ts in by_field.items():
                hits = self.index.lookup_term_stats(f, ts)
                for t in ts:
                    d = hits.get(t)
                    found[(f, t)] = _TermStats() if d is None else _TermStats(
                        int(d["df"]), int(d["ttf"]),
                        d.get("bmf_min"), d.get("bmf_max"),
                        d.get("bdlq_min"), d.get("bdlq_max"),
                    )
            return found

        return self.cache.get_many("terms", terms, seek)

    def _term_scalar(self, st, cs) -> float:
        """Per-term scoring scalar: idf for BM25/classic, the Dirichlet
        collection probability for LM (similarities that define
        term_scalar override the idf channel)."""
        if hasattr(self.sim, "term_scalar"):
            return self.sim.term_scalar(st, cs)
        return self.sim.idf(st.df, cs["max_doc"])

    # -- weight normalization (search.go:154-171) ------------------------
    def _sum_sq(self, q, stats) -> float:
        if isinstance(q, TermQuery):
            st = stats[(q.field, q.term)]
            cs = self._collection_stats(q.field)
            idf = self.sim.idf(st.df, cs["max_doc"])
            return self.sim.value_for_normalization(idf, q.boost)
        if isinstance(q, MultiPhraseQuery):
            # MultiPhraseWeight: idfExplain over ALL terms of all slots
            cs = self._collection_stats(q.field)
            idf = sum(
                self.sim.idf(stats[(q.field, t)].df, cs["max_doc"])
                for ts in q.term_sets for t in ts
            )
            return self.sim.value_for_normalization(idf, q.boost)
        if isinstance(q, PhraseQuery):
            # PhraseWeight sums the terms' idfs (Similarity.idfExplain)
            cs = self._collection_stats(q.field)
            idf = sum(
                self.sim.idf(stats[(q.field, t)].df, cs["max_doc"]) for t in q.terms
            )
            return self.sim.value_for_normalization(idf, q.boost)
        if isinstance(q, BooleanQuery):
            # BooleanWeight multiplies child sumOfSquaredWeights by
            # boost^2 (booleanQuery.go:68-80)
            return q.boost ** 2 * sum(
                self._sum_sq(c.query, stats)
                for c in q.clauses
                if not c.is_prohibited
            )
        if isinstance(q, DisjunctionMaxQuery):
            # DisjunctionMaxWeight sums child norms * boost^2 (Lucene
            # DisjunctionMaxQuery.java getValueForNormalization)
            return q.boost ** 2 * sum(self._sum_sq(s, stats) for s in q.queries)
        if isinstance(q, ConstantScoreQuery):
            # ConstantWeight: sumOfSquaredWeights = (boost*queryNorm)^2
            # pre-norm -> boost^2
            return q.boost ** 2
        return 0.0

    # -- scoring frames ---------------------------------------------------
    def _term_frame(self, q: TermQuery, stats, query_norm: float) -> DataFrame | None:
        st = stats[(q.field, q.term)]
        if st.df == 0:
            return None
        cs = self._collection_stats(q.field)
        idf = self._term_scalar(st, cs)
        avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
        p = self.index.postings_for_terms(q.field, [q.term])
        kwargs = {}
        if self.sim.uses_coord:  # classic folds queryNorm into the weight
            kwargs["query_norm"] = query_norm
        score = self.sim.score_col(
            F.col("freq").cast("double"),
            F.col("dlq"),
            norm_bytes(self.index),
            idf,
            avgdl,
            q.boost,
            **kwargs,
        )
        return p.select(F.col("doc_id"), score.alias("score"))

    def _doc_id_frame(self, q, stats) -> DataFrame | None:
        """Unscored matching-doc set (for MUST_NOT)."""
        if isinstance(q, TermQuery):
            st = stats.get((q.field, q.term))
            if st is None or st.df == 0:
                return None
            return self.index.postings_for_terms(q.field, [q.term]).select("doc_id")
        f = self._frame(q, stats, 1.0)
        return None if f is None else f.select("doc_id")

    def _phrase_frame(self, q: PhraseQuery, stats, query_norm: float) -> DataFrame | None:
        """Scored frame for an exact phrase: conjunction + vectorized
        position intersection (search/phrase.py), scored with
        freq=phraseFreq and idf = sum of the terms' idfs."""
        from .phrase import phrase_freq_frame

        if any(stats[(q.field, t)].df == 0 for t in q.terms):
            return None
        cs = self._collection_stats(q.field)
        idf = sum(self.sim.idf(stats[(q.field, t)].df, cs["max_doc"]) for t in q.terms)
        avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
        frame = phrase_freq_frame(self.index, q.field, list(q.terms), q.slop,
                                  in_order=getattr(q, 'in_order', False))
        kwargs = {"query_norm": query_norm} if self.sim.uses_coord else {}
        score = self.sim.score_col(
            F.col("freq").cast("double"), F.col("dlq"), norm_bytes(self.index),
            idf, avgdl, q.boost, **kwargs,
        )
        return frame.select("doc_id", score.alias("score"))

    def _multi_phrase_frame(self, q: MultiPhraseQuery, stats,
                            query_norm: float) -> DataFrame | None:
        """Scored frame for a MultiPhraseQuery: per-slot union of the
        slot terms' positions, same matcher as the phrase scorer; idf
        sums over ALL terms of all slots (MultiPhraseWeight)."""
        from .phrase import multi_phrase_freq_frame

        # drop df=0 terms from each slot (they cannot match); an empty
        # slot means the phrase cannot match at all
        live_sets = tuple(
            tuple(t for t in ts if stats[(q.field, t)].df > 0)
            for ts in q.term_sets
        )
        if any(not ts for ts in live_sets):
            return None
        cs = self._collection_stats(q.field)
        idf = sum(
            self.sim.idf(stats[(q.field, t)].df, cs["max_doc"])
            for ts in q.term_sets for t in ts
        )
        avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
        frame = multi_phrase_freq_frame(
            self.index, q.field, live_sets, q.slop,
            in_order=getattr(q, "in_order", False),
        )
        kwargs = {"query_norm": query_norm} if self.sim.uses_coord else {}
        score = self.sim.score_col(
            F.col("freq").cast("double"), F.col("dlq"), norm_bytes(self.index),
            idf, avgdl, q.boost, **kwargs,
        )
        return frame.select("doc_id", score.alias("score"))

    def _dismax_frame(self, q: DisjunctionMaxQuery, stats, query_norm: float) -> DataFrame | None:
        """score = max(sub scores) + tie_breaker * (sum of the other
        matching subs) — one union + one groupBy(max, sum); the
        per-field best-match primitive (DisjunctionMaxScorer.score)."""
        frames = [f for s in q.queries if (f := self._frame(s, stats, query_norm)) is not None]
        if not frames:
            return None
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("mx"), F.sum("score").alias("sm")
        )
        score = F.col("mx") + F.lit(float(q.tie_breaker)) * (F.col("sm") - F.col("mx"))
        if q.boost != 1.0:
            score = score * F.lit(float(q.boost))
        return agg.select("doc_id", score.alias("score"))

    def _frame(self, q, stats, query_norm: float) -> DataFrame | None:
        if isinstance(q, TermQuery):
            return self._term_frame(q, stats, query_norm)
        if isinstance(q, BooleanQuery):
            return self._boolean_frame(q, stats, query_norm)
        if isinstance(q, DisjunctionMaxQuery):
            return self._dismax_frame(q, stats, query_norm)
        if isinstance(q, PhraseQuery):
            return self._phrase_frame(q, stats, query_norm)
        if isinstance(q, MultiPhraseQuery):
            return self._multi_phrase_frame(q, stats, query_norm)
        if isinstance(q, MatchAllQuery):
            # MatchAllDocsQuery respects liveDocs (Lucene semantics):
            # doc_stats deliberately keeps tombstoned rows for the
            # maxDoc/df statistics, so the liveness filter applies HERE
            from ..index.deletes import live_rows

            docs = live_rows(self.index, self.index.doc_stats)
            return docs.select("doc_id").distinct().select(
                "doc_id", F.lit(float(q.boost)).alias("score")
            )
        if isinstance(q, ConstantScoreQuery):
            inner = self._doc_id_frame(self._resolve(q.query), stats)
            if inner is None:
                return None
            const = float(q.boost) * (query_norm if self.sim.uses_coord else 1.0)
            return inner.distinct().select(
                "doc_id", F.lit(const).alias("score")
            )
        raise TypeError(f"unsupported query {type(q)}")

    def _resolve(self, q):
        """Expand deferred multi-term nodes against the index (the
        Query.Rewrite fixpoint of search.go:173-181 for wildcard).  An
        expansion scans the term dictionary; like term stats, the
        matched-term set is a property of the index SNAPSHOT, so it is
        cached under the frozen query node and repeated fuzzy/wildcard/
        regexp/range searches skip the dictionary job."""
        if isinstance(q, (WildcardQuery, FuzzyQuery, RegexpQuery, TermRangeQuery)):
            return self.cache.get("expand", q, lambda: self._expand(q))
        if isinstance(q, BooleanQuery):
            return BooleanQuery(
                tuple(
                    type(c)(self._resolve(c.query), c.occur) for c in q.clauses
                ),
                q.minimum_should_match,
                q.boost,
            )
        if isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                tuple(self._resolve(s) for s in q.queries), q.tie_breaker, q.boost
            )
        if isinstance(q, ConstantScoreQuery):
            return ConstantScoreQuery(self._resolve(q.query), q.boost)
        return q

    def _expand(self, q):
        from . import multiterm as mt

        if isinstance(q, WildcardQuery):
            return mt.expand_wildcard(self.index, q.field, q.pattern, q.boost)
        if isinstance(q, FuzzyQuery):
            return mt.expand_fuzzy(self.index, q.field, q.term, q.max_edits,
                                   q.boost, prefix_length=q.prefix_length)
        if isinstance(q, RegexpQuery):
            return mt.expand_regexp(self.index, q.field, q.regex, q.boost)
        return mt.expand_term_range(self.index, q.field, q.lower, q.upper,
                                    q.include_lower, q.include_upper, q.boost)

    def _flat_terms_frame(self, field, entries, stats, query_norm: float) -> DataFrame:
        """Fast path: N same-field terms -> ONE term-pruned postings scan
        with per-term weights via a map literal, instead of N scans
        unioned.  Entries are (TermQuery, grp_bit, required): a non-zero
        grp_bit marks the term a member of a required nested OR-group,
        whose MUST semantics ("matched at least one member") are enforced
        by bit_or-ing grp_bit at aggregation time.  At scale this is the
        difference between one parquet scan and N of them (the multi-term
        analogue of the reference's per-leaf single-pass BooleanScorer
        window)."""
        cs = self._collection_stats(field)
        avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
        idf_map, boost_map, must_map, gbit_map = {}, {}, {}, {}
        for tq, bit, req in entries:
            st = stats[(field, tq.term)]
            idf_map[tq.term] = self._term_scalar(st, cs)
            boost_map[tq.term] = tq.boost
            must_map[tq.term] = 1 if (req and not bit) else 0
            gbit_map[tq.term] = bit
        p = self.index.postings_for_terms(field, list(idf_map))
        mk = lambda m, t="double": F.element_at(
            F.create_map(*[x for k, v in m.items() for x in (F.lit(k), F.lit(v))]),
            F.col("term"),
        ).cast(t)
        kwargs = {"query_norm": query_norm} if self.sim.uses_coord else {}
        uniform_boost = len(set(boost_map.values())) == 1
        score = self.sim.score_col(
            F.col("freq").cast("double"), F.col("dlq"), norm_bytes(self.index),
            mk(idf_map), avgdl,
            next(iter(boost_map.values())) if uniform_boost else mk(boost_map),
            **kwargs,
        )
        # constant-valued maps collapse to literals: a 1024-term wildcard
        # expansion (all SHOULD, no groups) carries one map, not three
        mkc = lambda m, t: (
            F.lit(next(iter(m.values()))).cast(t)
            if len(set(m.values())) == 1 else mk(m, t)
        )
        return p.select(
            F.col("doc_id"), score.alias("score"),
            mkc(must_map, "int").alias("is_must"),
            mkc(gbit_map, "long").alias("grp_bit"),
        )

    def _flatten_or_group(self, q):
        """A nested BooleanQuery that is a pure same-field OR of
        TermQuerys (no MUST/MUST_NOT, msm <= 1) can fold into the
        parent's single-scan path: its score is the plain sum of matched
        member scores, and every similarity here is linear in boost, so
        the nested boost folds into each member's boost.  Returns
        (field, members) or None."""
        if not isinstance(q, BooleanQuery) or q.minimum_should_match > 1:
            return None
        field, out = None, []
        for c in q.clauses:
            if c.occur is not Occur.SHOULD or not isinstance(c.query, TermQuery):
                return None
            if field is None:
                field = c.query.field
            elif c.query.field != field:
                return None
            out.append(TermQuery(field, c.query.term, c.query.boost * q.boost))
        return (field, tuple(out)) if out else None

    def _is_keyword_field(self, field: str) -> bool:
        """StringField-style field: omitNorms, freq=1/dlq=1 postings —
        every doc's score for a term on it is the same constant."""
        return self._collection_stats(field)["sum_ttf"] == 0

    def _keyword_const_score(self, q: TermQuery, stats, query_norm: float) -> float:
        """The constant per-doc score of a keyword-field TermQuery,
        computed with the exact operation order of score_col (Python
        float ops are the same IEEE-754 doubles as the JVM's)."""
        st = stats[(q.field, q.term)]
        cs = self._collection_stats(q.field)
        idf = self._term_scalar(st, cs)
        avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
        # norm byte 124 = encode(1.0): keyword fields omit norms
        return self._score_one(1.0, 1.0, 124, idf, avgdl, q.boost, query_norm)

    def _score_one(self, freq, dlq, byte, idf, avgdl, boost, query_norm) -> float:
        """One doc's score on the driver with score_col's arithmetic (the
        similarity's NumPy twin), so explain == score."""
        kwargs = {"query_norm": query_norm} if self.sim.uses_coord else {}
        return float(self.sim.score_np(
            np.array([float(freq)]), np.array([float(dlq)]),
            norm_bytes(self.index, byte), idf, avgdl, boost, **kwargs,
        )[0])

    def _boolean_frame(self, q: BooleanQuery, stats, query_norm: float) -> DataFrame | None:
        scoring = [c for c in q.clauses if not c.is_prohibited]
        prohibited = [c for c in q.clauses if c.is_prohibited]
        max_coord = len(scoring)

        # MUST clauses on keyword (omitNorms) fields become semi-joins +
        # a constant score added after aggregation: such a clause scores
        # every matching doc identically, so unioning its (potentially
        # huge — every lang:de doc) frame into the groupBy only to
        # re-aggregate a constant is a wasted shuffle.  Only applied when
        # another scoring clause remains to drive the frame.
        kw_semi: list = []
        rest: list = []
        for c in scoring:
            if (
                c.is_required
                and isinstance(c.query, TermQuery)
                and self._is_keyword_field(c.query.field)
            ):
                kw_semi.append(c)
            else:
                rest.append(c)
        if not rest and kw_semi:
            rest.append(kw_semi.pop())  # keep one clause to drive the frame
        for c in kw_semi:
            if stats[(c.query.field, c.query.term)].df == 0:
                return None  # a MUST clause with no matches: empty result

        n_must = 0     # MUST units tracked through the is_must column
        must_mask = 0  # MUST OR-groups tracked through the group bitmask

        # bucket same-field TermQuery clauses — and, for similarities
        # without a coord factor when no minimum_should_match is set,
        # nested pure-OR term groups — for the single-scan path
        buckets: dict[str, list] = {}  # field -> [(TermQuery, grp_bit, required)]
        others = []
        seen: set = set()
        dup_fields: set = set()
        for c in rest:
            if isinstance(c.query, TermQuery):
                key = (c.query.field, c.query.term)
                if key in seen:
                    dup_fields.add(c.query.field)
                seen.add(key)
        can_flatten = not self.sim.uses_coord and q.minimum_should_match == 0
        ngroups = 0
        for c in rest:
            if isinstance(c.query, TermQuery):
                buckets.setdefault(c.query.field, []).append(
                    (c.query, 0, c.is_required)
                )
                continue
            fl = (
                self._flatten_or_group(c.query)
                if can_flatten and ngroups < 62
                else None
            )
            if fl is not None:
                field, members = fl
                keys = {(field, tq.term) for tq in members}
                if (
                    field not in dup_fields
                    and len(keys) == len(members)
                    and not (keys & seen)
                ):
                    seen |= keys
                    bit = (1 << ngroups) if c.is_required else 0
                    if c.is_required:
                        must_mask |= bit
                        ngroups += 1
                    for tq in members:
                        buckets.setdefault(field, []).append(
                            (tq, bit, c.is_required)
                        )
                    continue
            others.append(c)

        frames = []  # (frame, doc_unique)
        for field, entries in list(buckets.items()):
            if field in dup_fields:
                # duplicate standalone terms: the map-literal scan can't
                # key them — score each clause through its own frame
                others.extend(
                    BooleanClause(tq, Occur.MUST if req else Occur.SHOULD)
                    for tq, _, req in entries
                )
                continue
            live = []
            grp_alive: dict[int, bool] = {}
            for tq, bit, req in entries:
                if bit:
                    grp_alive.setdefault(bit, False)
                if stats[(field, tq.term)].df == 0:
                    if req and not bit:
                        return None  # standalone MUST with no matches
                    continue
                if bit:
                    grp_alive[bit] = True
                live.append((tq, bit, req))
            if not all(grp_alive.values()):
                return None  # a required OR-group with no live member
            if not live:
                continue
            if len(live) == 1:
                tq, bit, req = live[0]
                if bit:
                    must_mask &= ~bit  # one live member: a plain MUST term
                others.append(
                    BooleanClause(tq, Occur.MUST if req else Occur.SHOULD)
                )
                continue
            frames.append(
                (self._flat_terms_frame(field, live, stats, query_norm), False)
            )
            n_must += sum(1 for _, bit, req in live if req and not bit)

        for c in others:
            f = self._frame(c.query, stats, query_norm)
            if f is not None:
                f = f.withColumn(
                    "is_must", F.lit(1 if c.is_required else 0)
                ).withColumn("grp_bit", F.lit(0).cast("long"))
                frames.append((f, True))
                if c.is_required:
                    n_must += 1
            elif c.is_required:
                return None  # a MUST clause with no matches: empty result

        if not frames:
            return None

        if len(frames) == 1 and frames[0][1]:
            # a single doc-unique scoring frame (term/phrase/nested
            # boolean): the groupBy would re-shuffle rows that are
            # already one-per-doc — skip it
            agg = frames[0][0].select(
                "doc_id",
                "score",
                F.lit(1).cast("long").alias("coord"),
                F.col("is_must").cast("long").alias("must_cnt"),
                F.col("grp_bit").alias("gmask"),
            )
        else:
            u = frames[0][0]
            for f, _ in frames[1:]:
                u = u.unionByName(f)
            agg = u.groupBy("doc_id").agg(
                F.sum("score").alias("score"),
                F.count("*").alias("coord"),
                F.sum("is_must").alias("must_cnt"),
                F.bit_or("grp_bit").alias("gmask"),
            )
        if n_must:
            agg = agg.filter(F.col("must_cnt") == n_must)
        if must_mask:
            agg = agg.filter(
                F.col("gmask").bitwiseAND(F.lit(must_mask)) == F.lit(must_mask)
            )
        if q.minimum_should_match > 0:
            agg = agg.filter(
                (F.col("coord") - F.col("must_cnt")) >= q.minimum_should_match
            )

        for c in kw_semi:
            kd = self.index.postings_for_terms(c.query.field, [c.query.term]).select("doc_id")
            const = self._keyword_const_score(c.query, stats, query_norm)
            agg = (
                agg.join(kd, "doc_id", "left_semi")
                .withColumn("score", F.col("score") + F.lit(const))
                .withColumn("coord", F.col("coord") + 1)
            )

        if self.sim.uses_coord and max_coord > 1:
            # coord factor search.go:467-469 applied as in
            # booleanScorer.go:169-183
            agg = agg.withColumn(
                "score", F.col("score") * F.col("coord") / F.lit(float(max_coord))
            )
        out = agg.select("doc_id", (F.col("score") * q.boost).alias("score"))

        for c in prohibited:
            nf = self._doc_id_frame(c.query, stats)
            if nf is not None:
                out = out.join(nf.distinct(), "doc_id", "left_anti")
        return out

    # -- entry points ------------------------------------------------------
    def score_frame(self, query) -> DataFrame:
        """Full (doc_id, score) frame for a query (no top-k)."""
        def build():
            q = self._resolve(query.rewrite())
            q = q.rewrite() if hasattr(q, "rewrite") else q
            stats = self._term_stats(q)
            qn = self.sim.query_norm(self._sum_sq(q, stats))
            f = self._frame(q, stats, qn)
            if f is None:
                return empty_results(self.index.spark)
            return f.select(F.col("doc_id").cast("long"), F.col("score").cast("double"))

        return self._planned(build, "score", query)

    def explain(self, query, doc_id: int) -> dict:
        """Score decomposition for one doc (Q13, search.go:129-152 /
        terms.go:149-179): a nested dict whose top 'value' equals the
        doc's score_frame score exactly (same arithmetic)."""
        q = self._resolve(query.rewrite() if hasattr(query, "rewrite") else query)
        q = q.rewrite() if hasattr(q, "rewrite") else q
        stats = self._term_stats(q)
        qn = self.sim.query_norm(self._sum_sq(q, stats))
        return self._explain(q, doc_id, stats, qn)

    def _explain(self, q, doc_id, stats, query_norm) -> dict:
        if isinstance(q, TermQuery):
            st = stats[(q.field, q.term)]
            cs = self._collection_stats(q.field)
            idf = self._term_scalar(st, cs)
            avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
            rows = (
                self.index.postings_for_terms(q.field, [q.term])
                .filter(F.col("doc_id") == doc_id)
                .collect()
            )
            if not rows:
                return {"match": False, "value": 0.0,
                        "description": f"no match on {q.field}:{q.term}"}
            r = rows[0]
            value = self._score_one(r["freq"], r["dlq"], r["norm_byte"], idf, avgdl,
                                    q.boost, query_norm)
            return {
                "match": True,
                "value": value,
                "description": f"score({q.field}:{q.term}, doc={doc_id}), "
                               f"product of idf/tfNorm/boost",
                "details": {
                    "freq": int(r["freq"]), "df": st.df, "idf": idf,
                    "dl": float(r["dlq"]), "avgdl": avgdl,
                    "norm_byte": int(r["norm_byte"]), "boost": q.boost,
                    "query_norm": query_norm,
                },
            }
        if isinstance(q, PhraseQuery):
            from .phrase import phrase_freq_frame

            label = f'{q.field}:"{" ".join(q.terms)}"'
            if any(stats[(q.field, t)].df == 0 for t in q.terms):
                return {"match": False, "value": 0.0,
                        "description": f"no match on {label} (absent term)"}
            rows = (
                phrase_freq_frame(self.index, q.field, list(q.terms), q.slop,
                                  in_order=getattr(q, "in_order", False))
                .filter(F.col("doc_id") == doc_id)
                .collect()
            )
            if not rows:
                return {"match": False, "value": 0.0,
                        "description": f"no match on {label}"}
            r = rows[0]
            cs = self._collection_stats(q.field)
            idf = sum(self.sim.idf(stats[(q.field, t)].df, cs["max_doc"])
                      for t in q.terms)
            avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
            value = self._score_one(r["freq"], r["dlq"], r["norm_byte"], idf, avgdl,
                                    q.boost, query_norm)
            return {
                "match": True,
                "value": value,
                "description": f"phrase({label}, doc={doc_id}), "
                               f"freq=phraseFreq, idf=sum of term idfs",
                "details": {
                    "freq": float(r["freq"]), "idf": idf,
                    "dl": float(r["dlq"]), "avgdl": avgdl,
                    "boost": q.boost, "slop": q.slop,
                    "query_norm": query_norm,
                },
            }
        if isinstance(q, MultiPhraseQuery):
            from .phrase import multi_phrase_freq_frame

            live_sets = tuple(
                tuple(t for t in ts if stats[(q.field, t)].df > 0)
                for ts in q.term_sets
            )
            slots = " ".join("(" + "|".join(ts) + ")" for ts in q.term_sets)
            if any(not ts for ts in live_sets):
                return {"match": False, "value": 0.0,
                        "description": f'empty slot in {q.field}:"{slots}"'}
            rows = (
                multi_phrase_freq_frame(
                    self.index, q.field, live_sets, q.slop,
                    in_order=getattr(q, "in_order", False),
                )
                .filter(F.col("doc_id") == doc_id)
                .collect()
            )
            if not rows:
                return {"match": False, "value": 0.0,
                        "description": f'no match on {q.field}:"{slots}"'}
            r = rows[0]
            cs = self._collection_stats(q.field)
            # MultiPhraseWeight: idf sums over ALL terms of all slots
            idf = sum(self.sim.idf(stats[(q.field, t)].df, cs["max_doc"])
                      for ts in q.term_sets for t in ts)
            avgdl = self.sim.avgdl(cs["sum_ttf"], cs["max_doc"])
            value = self._score_one(r["freq"], r["dlq"], r["norm_byte"], idf, avgdl,
                                    q.boost, query_norm)
            return {
                "match": True,
                "value": value,
                "description": f'multiPhrase({q.field}:"{slots}", doc={doc_id}), '
                               f"freq=phraseFreq over slot unions, "
                               f"idf=sum over all slot terms",
                "details": {
                    "freq": float(r["freq"]), "idf": idf,
                    "dl": float(r["dlq"]), "avgdl": avgdl,
                    "boost": q.boost, "slop": q.slop,
                    "query_norm": query_norm,
                },
            }
        if isinstance(q, MatchAllQuery):
            from ..index.deletes import live_rows

            docs = live_rows(self.index, self.index.doc_stats)
            exists = docs.filter(F.col("doc_id") == doc_id).limit(1).count() > 0
            return {
                "match": exists,
                "value": float(q.boost) if exists else 0.0,
                "description": "MatchAllDocsQuery" if exists else "unknown or deleted doc",
            }
        if isinstance(q, ConstantScoreQuery):
            inner = self._doc_id_frame(self._resolve(q.query), stats)
            hit = (
                inner is not None
                and inner.filter(F.col("doc_id") == doc_id).limit(1).count() > 0
            )
            const = float(q.boost) * (query_norm if self.sim.uses_coord else 1.0)
            return {
                "match": hit,
                "value": const if hit else 0.0,
                "description": f"ConstantScore(boost={q.boost})"
                               if hit else "filter did not match",
            }
        if isinstance(q, DisjunctionMaxQuery):
            children = [self._explain(s, doc_id, stats, query_norm) for s in q.queries]
            vals = [ch["value"] for ch in children if ch["match"]]
            if not vals:
                return {"match": False, "value": 0.0,
                        "description": "no dismax sub-query matched",
                        "details": children}
            mx = max(vals)
            value = (mx + q.tie_breaker * (sum(vals) - mx)) * q.boost
            return {
                "match": True,
                "value": value,
                "description": f"max plus {q.tie_breaker} times others of "
                               f"{len(vals)} matching sub-queries",
                "details": children,
            }
        if isinstance(q, BooleanQuery):
            scoring = [c for c in q.clauses if not c.is_prohibited]
            prohibited = [c for c in q.clauses if c.is_prohibited]
            children = [self._explain(c.query, doc_id, stats, query_norm) for c in scoring]
            n_must = sum(1 for c in scoring if c.is_required)
            must_ok = all(
                ch["match"] for c, ch in zip(scoring, children) if c.is_required
            ) and (not n_must or n_must == sum(
                1 for c, ch in zip(scoring, children) if c.is_required and ch["match"]))
            for c in prohibited:
                if self._explain(c.query, doc_id, stats, query_norm)["match"]:
                    return {"match": False, "value": 0.0,
                            "description": "prohibited clause matched", "details": children}
            coord = sum(1 for ch in children if ch["match"])
            if coord == 0 or not must_ok:
                return {"match": False, "value": 0.0,
                        "description": "required clause missing" if not must_ok else "no clause matched",
                        "details": children}
            if q.minimum_should_match:
                should_cnt = coord - sum(
                    1 for c, ch in zip(scoring, children) if c.is_required and ch["match"])
                if should_cnt < q.minimum_should_match:
                    return {"match": False, "value": 0.0,
                            "description": "below minimumShouldMatch", "details": children}
            total = sum(ch["value"] for ch in children)
            if self.sim.uses_coord and len(scoring) > 1:
                total = total * coord / float(len(scoring))
            return {
                "match": True,
                "value": total * q.boost,
                "description": f"sum of {coord} clause scores"
                               + (f" * coord({coord}/{len(scoring)})" if self.sim.uses_coord and len(scoring) > 1 else ""),
                "details": children,
            }
        raise TypeError(type(q))

    def search(self, query, k: int = 10) -> DataFrame:
        """Top-k by (score desc, doc_id asc) — the TopScoreDocCollector
        tie-break (collect.go:282-303: equal score -> lower docID wins).

        Collector order keys on the MICRO-ROUNDED score (the engine's
        stable scoring unit, see search_after): page 1 via search() and
        later pages via search_after() then use ONE collector order, so
        two raw scores that round to the same e6 value tie-break by
        doc_id identically on both sides of the page boundary (ADVICE
        r4: raw-float page 1 vs e6 page 2 could skip/duplicate a hit).

        Two placements, one order: a selective term, boolean, phrase
        (exact or sloppy) or fuzzy query on a MaterializedIndex is
        scored and collected on the driver (search/topk.py, no Spark
        job, nothing put in the plan cache; a fuzzy query expands over
        the snapshot's term_dict with Arrow); every other query runs
        ``collect_topk`` in Spark."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        from .topk import driver_search

        hits = driver_search(self, query, k)
        if hits is not None:
            return hits
        return self._planned(lambda: collect_topk(self.score_frame(query), k),
                             "topk", query, k)

    def search_with_total(self, query, k: int = 10,
                          hydrate: bool = False) -> tuple[int, DataFrame]:
        """TopDocs{totalHits, [ScoreDoc]} (collect.go:53-57): returns
        (total_hits, top-k frame).  ``hydrate=True`` left-joins the hits
        with the index's stored doc_meta columns (the stored-field
        visitor role, document.go:75) when the index materializes one."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        frame = self.score_frame(query)
        total = frame.count()
        meta = (self._live_meta().drop("segment_id")
                if hydrate and hasattr(self.index, "doc_meta") else None)
        return total, collect_topk(frame, k, hydrate_meta=meta)

    def _live_meta(self):
        """Newest-version doc_meta (updated docs carry several rows)."""
        ix = self.index
        return ix.live_doc_meta() if hasattr(ix, "live_doc_meta") else ix.doc_meta

    def count(self, query) -> int:
        """Total hit count without materializing scores — the
        TotalHitCountCollector (collect.go:53-57's totalHits alone);
        Catalyst prunes the score expression under the count."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        return self.score_frame(query).select("doc_id").count()

    def search_after(self, query, after: tuple[float, int] | None,
                     k: int = 10) -> DataFrame:
        """Keyset pagination — IndexSearcher.searchAfter /
        TopScoreDocCollector.create(after) of core Lucene 4.10 (absent
        from the reference, whose collect.go:282-303 only collects from
        rank 0).  ``after`` is the previous page's last ScoreDoc as
        ``(score, doc_id)`` (None = first page); a hit qualifies iff it
        sorts strictly after it under the collector order.  The keyset
        predicate is filtered before the top-k, so deep pages never
        re-sort or re-ship the already-returned prefix the way OFFSET
        does.

        Determinism: the cursor keys on the MICRO-ROUNDED score
        ``round(score * 1e6)`` (the engine's stable scoring unit) plus
        doc_id, and pages order by that same (score_e6 desc, doc_id
        asc) key.  Aggregated frames (Boolean sums, DisjunctionMax) may
        re-sum floats in a different partition order across executions;
        an ulp of jitter cannot move a score across an e6 boundary, so
        page boundaries neither skip nor duplicate hits — no persisted
        frame needed (raw float equality here was ADVICE r2/r3)."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        return collect_topk(self.score_frame(query), k, after=after)

    def search_filtered(self, query, predicate: str, k: int = 10) -> DataFrame:
        """FilteredQuery / NumericRangeFilter role (core Lucene 4.10;
        the reference's numeric indexing panics at field.go:118-119):
        relevance comes from ``query`` alone, matches are restricted by
        a SQL ``predicate`` over the stored doc_meta columns — the
        random-access filter as a left-semi join.  Numeric trie terms
        are unnecessary Spark-side: the predicate pushes into the
        columnar meta table's row-group stats, which IS the trie's
        range-pruning role."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        if not hasattr(self.index, "doc_meta"):
            raise ValueError("search_filtered needs a materialized index with doc_meta")
        keep = self._live_meta().filter(predicate).select("doc_id")
        return collect_topk(
            self.score_frame(query).join(keep, "doc_id", "left_semi"), k
        )

    def function_score(self, query, value_expr: str, mode: str = "multiply",
                       k: int = 10) -> DataFrame:
        """FunctionScoreQuery (Lucene queries/expressions module; absent
        from the reference, which has no function queries at all):
        combine the relevance score with a per-document function over
        the stored doc-values columns.  ``value_expr`` is a SQL
        expression over doc_meta columns (evaluated JVM-side against
        the columnar store — the DoubleValuesSource role);
        ``mode='multiply'`` is the boost-by-value composition,
        ``mode='sum'`` the additive one.  The plan is the score frame
        joined to the pruned doc_meta projection, then
        TakeOrderedAndProject — one hash join, no extra shuffle."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        if not hasattr(self.index, "doc_meta"):
            raise ValueError("function_score needs a materialized index with doc_meta")
        if mode not in ("multiply", "sum"):
            raise ValueError(f"unknown mode {mode!r}")
        frame = self.score_frame(query)
        meta = self._live_meta().drop("segment_id")
        val = F.expr(value_expr).cast("double")
        combined = (
            (F.col("score") * val) if mode == "multiply" else (F.col("score") + val)
        )
        return collect_topk(
            frame.join(meta, "doc_id").select("doc_id", combined.alias("score")), k
        )

    def explain_function_score(self, query, value_expr: str, doc_id: int,
                               mode: str = "multiply") -> dict:
        """Explain for function_score (Q13 completeness): the relevance
        child comes from the ordinary explain tree; the function value
        is evaluated against the SAME doc_meta expression; 'value'
        recomposes them with the mode's arithmetic and equals the
        function_score frame score exactly."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        if mode not in ("multiply", "sum"):
            raise ValueError(f"unknown mode {mode!r}")
        relevance = self.explain(query, doc_id)
        rows = (
            self._live_meta()
            .filter(F.col("doc_id") == doc_id)
            .select(F.expr(value_expr).cast("double").alias("_v"))
            .collect()
        )
        if not relevance["match"] or not rows:
            return {"match": False, "value": 0.0,
                    "description": "relevance query did not match"
                                   if rows else "unknown doc",
                    "details": [relevance]}
        fv = float(rows[0]["_v"])
        value = relevance["value"] * fv if mode == "multiply" else relevance["value"] + fv
        return {
            "match": True,
            "value": value,
            "description": f"function score, {mode} of relevance and "
                           f"expr({value_expr})",
            "details": [
                relevance,
                {"match": True, "value": fv,
                 "description": f"doc-values expr({value_expr})"},
            ],
        }

    def search_sorted(self, query, sort, k: int = 10) -> DataFrame:
        """Top-k ordered by stored doc_meta fields instead of relevance —
        the Sort/TopFieldCollector API of core Lucene 4.10 (absent from
        the reference, whose only collector is TopScoreDocCollector).
        ``sort`` is a list of (field_name, ascending) pairs; ties break
        by ascending docID, exactly TopFieldCollector's in-order
        tie-break.  The plan is TakeOrderedAndProject over the
        match-frame ⋈ doc_meta join — per-partition top-k + driver
        merge, never a full sort.  The relevance score rides along as a
        ``score`` column (trackScores=true)."""
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        if not hasattr(self.index, "doc_meta"):
            raise ValueError("search_sorted needs a materialized index with doc_meta")
        frame = self.score_frame(query)
        meta = self._live_meta().drop("segment_id")
        joined = frame.join(meta, "doc_id")
        order = [
            F.asc(f) if ascending else F.desc(f) for f, ascending in sort
        ] + [F.asc("doc_id")]
        return joined.orderBy(*order).limit(k)
