"""MoreLikeThis: find documents similar to a piece of text (the Lucene
queries module's MoreLikeThis.like(Reader) form; not ported by the
reference).

Term selection follows Lucene's MLT: analyze the probe text, keep
terms with tf >= min_term_freq and df >= min_doc_freq, rank by
tf * idf with the classic idf = ln(maxDoc/(df+1)) + 1
(core/search/search.go:513-515), cap at max_query_terms
(ties: higher tf first is Lucene's heap order — we use term ASC for
determinism), then search a SHOULD-of-TermQuery boolean.

Scale shape: the probe text is ONE document — tf is computed driver-
side and df comes from the searcher's term-stats seek (a driver-side
read of term_dict on a MaterializedIndex); the only cluster work is
the normal boolean query.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame

from ..analysis import get_analyzer
from .ast import BooleanClause, BooleanQuery, Occur, TermQuery


def interesting_terms(
    searcher,
    field: str,
    text: str,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    analyzer: str | object = "standard",
) -> list[dict]:
    """Ranked term selection: [{term, tf, df, score}] sorted by
    (score desc, term asc), at most max_query_terms entries."""
    if isinstance(analyzer, str):
        analyzer = get_analyzer(analyzer)
    terms, _, _ = analyzer.analyze_batch([text])
    tf = Counter(terms.tolist())
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return []
    cs = searcher._collection_stats(field)
    stats = searcher._seek_terms({(field, t) for t in cand})
    out = []
    for t in cand:
        df = stats[(field, t)].df
        if df < min_doc_freq:
            continue
        idf = math.log(cs["max_doc"] / (df + 1.0)) + 1.0
        out.append({"term": t, "tf": int(tf[t]), "df": df, "score": float(tf[t]) * idf})
    out.sort(key=lambda r: (-r["score"], r["term"]))
    return out[:max_query_terms]


def more_like_this(
    searcher,
    field: str,
    text: str,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    analyzer: str | object = "standard",
    boost_terms: bool = False,
) -> DataFrame:
    """Top-k docs most similar to ``text``.  ``boost_terms=True``
    boosts each clause by score/best_score (MoreLikeThis.setBoost)."""
    sel = interesting_terms(
        searcher, field, text, max_query_terms, min_term_freq, min_doc_freq, analyzer
    )
    if not sel:
        from .executor import empty_results

        return empty_results(searcher.index.spark)
    best = sel[0]["score"]
    clauses = tuple(
        BooleanClause(
            TermQuery(field, r["term"], (r["score"] / best) if boost_terms else 1.0),
            Occur.SHOULD,
        )
        for r in sel
    )
    return searcher.search(BooleanQuery(clauses), k)
