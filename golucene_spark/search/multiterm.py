"""Multi-term queries (Q19): wildcard/prefix/regexp expansion.

The reference carries the automaton machinery (core/util/automaton/)
but its live query paths never use it (queryParser.go:178-190 panics).
Spark-native equivalent: seek the term dictionary with a regex/LIKE
predicate (Parquet/Catalyst prune the sorted term column), expand to a
SHOULD-of-TermQuery boolean — Lucene's SCORING_BOOLEAN_QUERY_REWRITE —
guarded by the 1024-clause limit (booleanQuery.go:9).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F

from .ast import MAX_CLAUSE_COUNT, BooleanClause, BooleanQuery, Occur, TermQuery


def wildcard_to_regex(pattern: str) -> str:
    """Lucene wildcard syntax (* = any run, ? = one char) -> anchored regex."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def wildcard_literal_prefix(pattern: str) -> str:
    """Chars before the first wildcard metachar — every match must start
    with them."""
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def wildcard_literal_runs(pattern: str) -> list[str]:
    """Maximal literal substrings every match must CONTAIN (in order) —
    the trigram-prune key for prefix-less patterns like ``*bar*``."""
    runs: list[str] = []
    cur: list[str] = []
    for ch in pattern:
        if ch in "*?":
            if cur:
                runs.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        runs.append("".join(cur))
    return runs


_CLASS_ESCAPES = set("dwsDWS")


def _scan_atom(pattern: str, i: int):
    """One regex atom at ``pattern[i:]`` → (kind, literal, next_i) or
    None for unmodeled structure (groups, alternation, anchors, bare
    quantifiers, backreference-style escapes).  kind: 'lit' = exactly
    this one character; 'any' = exactly one character of unknown value
    (``.``, a character class, a ``\\d``-style class escape)."""
    n = len(pattern)
    ch = pattern[i]
    if ch == ".":
        return "any", "", i + 1
    if ch == "\\" and i + 1 < n:
        nxt = pattern[i + 1]
        if nxt in _CLASS_ESCAPES:
            return "any", "", i + 2
        if not nxt.isalnum():
            return "lit", nxt, i + 2
        return None
    if ch == "[":
        j = i + 1
        if j < n and pattern[j] == "^":
            j += 1
        if j < n and pattern[j] == "]":  # leading ] is a literal member
            j += 1
        while j < n and pattern[j] != "]":
            j += 2 if pattern[j] == "\\" else 1
        if j >= n:
            return None
        return "any", "", j + 1
    if ch in "*+?{()|^$]}\\":
        return None
    return "lit", ch, i + 1


def _parse_quant(pattern: str, i: int):
    """Quantifier at ``pattern[i:]`` → (min_rep, max_rep | None,
    next_i); (1, 1, i) when there is none; None when malformed or lazy
    (``*?`` — conservative bail)."""
    n = len(pattern)
    if i < n and pattern[i] in "*+?":
        ch = pattern[i]
        if i + 1 < n and pattern[i + 1] == "?":
            return None  # lazy quantifier: unmodeled
        return (1 if ch == "+" else 0), (1 if ch == "?" else None), i + 1
    if i < n and pattern[i] == "{":
        j = pattern.find("}", i)
        if j == -1:
            return None
        body = pattern[i + 1:j]
        if "," in body:
            a, b = body.split(",", 1)
            if not a.isdigit() or (b and not b.isdigit()):
                return None
            return int(a), (int(b) if b else None), j + 1
        if not body.isdigit():
            return None
        m = int(body)
        return m, m, j + 1
    return 1, 1, i


def _split_alternation(pattern: str) -> list[str] | None:
    """Top-level ``|`` branches (outside classes, escapes respected);
    None when the pattern has no top-level alternation.  Group-wrapped
    alternations still bail in the per-branch analyzers (``_scan_atom``
    rejects ``(``), so only the bare ``a|b|c`` shape is modeled."""
    parts: list[str] = []
    cur: list[str] = []
    in_class = False
    depth = 0
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            cur.append(pattern[i:i + 2])
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            cur.append(ch)
            i += 1
            continue
        if ch == "[":
            # mirror _scan_atom's class grammar: a ']' immediately after
            # '[' or '[^' is a literal member, not the class close
            # (ADVICE r5: the two parsers must not diverge)
            cur.append(ch)
            i += 1
            if i < n and pattern[i] == "^":
                cur.append("^")
                i += 1
            if i < n and pattern[i] == "]":
                cur.append("]")
                i += 1
            in_class = True
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            parts.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts if len(parts) > 1 else None


def regexp_literal_runs(pattern: str) -> list[str] | None:
    """Literal substrings every match of the anchored ``pattern`` must
    contain, in order — the trigram-prune key.  Models sequences of
    literal chars, one-char wildcards (``.``, classes, class escapes)
    and ``* + ? {m} {m,n} {m,}`` quantifiers: an exactly-repeated
    literal contributes ``val*m`` contiguously; a variably-repeated one
    contributes its minimum then breaks the run (the tail alignment
    shifts).  A top-level alternation contributes its LONGEST literal
    substring required by EVERY branch (``preheat|reheat`` -> reheat).
    None = unmodeled structure (groups, lazy quantifiers) — caller
    falls back to the structural/full dictionary scan, which is always
    correct."""
    branches = _split_alternation(pattern)
    if branches is not None:
        per_branch = [regexp_literal_runs(b) for b in branches]
        if any(not r for r in per_branch):  # a run-less branch: nothing common
            return None
        cands = sorted(
            {r[i:j] for r in per_branch[0]
             for i in range(len(r)) for j in range(i + 1, len(r) + 1)},
            key=len, reverse=True,
        )
        for c in cands:
            if all(any(c in r for r in runs) for runs in per_branch[1:]):
                return [c]
        return None
    runs: list[str] = []
    cur: list[str] = []
    i = 0
    n = len(pattern)
    while i < n:
        atom = _scan_atom(pattern, i)
        if atom is None:
            return None
        kind, val, j = atom
        quant = _parse_quant(pattern, j)
        if quant is None:
            return None
        qlo, qhi, i = quant
        if kind == "lit" and qlo == qhi:
            cur.extend(val * qlo)
            continue
        if kind == "lit":
            cur.extend(val * qlo)
        if cur:
            runs.append("".join(cur))
            cur = []
    if cur:
        runs.append("".join(cur))
    return runs


def wildcard_length_bounds(pattern: str) -> tuple[int, int | None]:
    """(min_len, max_len) every match of the wildcard pattern must
    satisfy: each literal char and each ``?`` contributes exactly one
    character; ``*`` makes the upper bound open (None)."""
    fixed = sum(1 for ch in pattern if ch != "*")
    return fixed, (None if "*" in pattern else fixed)


def wildcard_literal_suffix(pattern: str) -> str:
    """Chars after the LAST wildcard metachar — every match must end
    with them ('' when the pattern ends in a metachar or has none)."""
    for i in range(len(pattern) - 1, -1, -1):
        if pattern[i] in "*?":
            return pattern[i + 1:]
    return ""


def regexp_length_bounds(pattern: str) -> tuple[int, int | None] | None:
    """(min_len, max_len) every match of the anchored ``pattern`` must
    satisfy, over the atom shapes ``_scan_atom``/``_parse_quant``
    model: every atom is exactly one character per repetition, so an
    atom under ``{m,n}`` adds m to the minimum and n to the maximum;
    ``*``/``+``/``{m,}`` open the maximum; a top-level alternation
    takes the min/max envelope over its branches.  None = unmodeled
    structure, no bound can be proven."""
    branches = _split_alternation(pattern)
    if branches is not None:
        per = [regexp_length_bounds(b) for b in branches]
        if any(b is None for b in per):
            return None
        lo = min(b[0] for b in per)
        hi = None if any(b[1] is None for b in per) else max(b[1] for b in per)
        return lo, hi
    lo = 0
    hi: int | None = 0
    i, n = 0, len(pattern)
    while i < n:
        atom = _scan_atom(pattern, i)
        if atom is None:
            return None
        _, _, j = atom
        quant = _parse_quant(pattern, j)
        if quant is None:
            return None
        qlo, qhi, i = quant
        lo += qlo
        hi = None if (hi is None or qhi is None) else hi + qhi
    return lo, hi


def regex_literal_suffix(pattern: str) -> str:
    """Literal chars every match of the anchored ``pattern`` must END
    with: the trailing run of exactly-repeated literal atoms, proven by
    PARSE position (the pattern's final atoms), never by textual
    comparison — ``\\..`` textually ends with ``.`` but its matches end
    with an arbitrary character.  A top-level alternation yields the
    longest common suffix of its branch suffixes (``walked|talked`` ->
    alked).  '' when no suffix can be proven."""
    branches = _split_alternation(pattern)
    if branches is not None:
        sufs = [regex_literal_suffix(b) for b in branches]
        if any(not s for s in sufs):
            return ""
        common = sufs[0]
        for s in sufs[1:]:
            k = 0
            while k < min(len(common), len(s)) and common[-1 - k] == s[-1 - k]:
                k += 1
            common = common[len(common) - k:]
            if not common:
                return ""
        return common
    cur: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        atom = _scan_atom(pattern, i)
        if atom is None:
            return ""
        kind, val, j = atom
        quant = _parse_quant(pattern, j)
        if quant is None:
            return ""
        qlo, qhi, i = quant
        if kind == "lit" and qlo == qhi:
            cur.extend(val * qlo)
        else:
            cur = []
    return "".join(cur)


def regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix every match of the whole-term-anchored
    ``pattern`` must start with; "" when none can be proven.  A bare
    top-level alternation yields the common prefix of its branch
    prefixes (``prefix|preheat`` -> pre); grouped alternations still
    disable the prefix.  A quantifier retracts the literal it applies
    to (``foo*`` -> prefix 'fo')."""
    branches = _split_alternation(pattern)
    if branches is not None:
        pres = [regex_literal_prefix(b) for b in branches]
        if any(not p for p in pres):
            return ""
        common = pres[0]
        for p in pres[1:]:
            k = 0
            while k < min(len(common), len(p)) and common[k] == p[k]:
                k += 1
            common = common[:k]
            if not common:
                return ""
        return common
    in_class = esc = False
    depth = 0
    for ch in pattern:
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
            continue
        if in_class:
            in_class = ch != "]"
            continue
        if ch == "[":
            in_class = True
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        elif ch == "|" and depth == 0:
            return ""
    out: list[str] = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            nxt = pattern[i + 1]
            if nxt.isalnum():  # \d \w \s etc. are classes, not literals
                break
            out.append(nxt)
            i += 2
            continue
        if ch in ".*+?()[]{}|^$":
            if ch in "*+?{" and out:
                out.pop()  # the quantifier applies to the last literal
            break
        out.append(ch)
        i += 1
    return "".join(out)


def matching_terms(index, field: str, regex: str, max_terms: int = MAX_CLAUSE_COUNT,
                   prefix: str = "", runs: list[str] | None = None,
                   bounds: tuple[int, int | None] | None = None,
                   suffix: str = "") -> list[str]:
    """Dictionary terms matching ``regex``, via the cheapest available
    seek (recorded in ``index.last_multiterm_stats`` for tests/gates):

    - ``prefix``: pushed as StringStartsWith ahead of the rlike — the
      sorted term column's parquet min/max stats prune row groups
      BEFORE any regex evaluation (the automaton-intersection seek
      role; the linear dict scan only covers the prefix range);
    - ``runs`` (prefix-less patterns like ``*bar*`` or ``*ab*``):
      required literal substrings — when the index carries a fresh
      trigram side table, candidates are pre-pruned to terms
      containing ALL the runs (>= 3-char runs via their trigram
      IN-list row-group seek; 1-2-char runs via a gram-dictionary
      probe) and the rlike touches only those;
    - ``bounds``/``suffix`` (zero-literal patterns like ``????`` or
      ``.{0}..`` shapes, or any pattern whose cheaper seeks are
      unavailable): automaton-derived length window and required
      literal suffix, applied as codegen'd JVM predicates
      (length BETWEEN / EndsWith) so the regex only ever evaluates
      terms that satisfy the structural constraints;
    - otherwise: full dictionary rlike scan (always correct)."""
    path = "full"
    if hasattr(index, "term_dict"):
        src = index.term_dict.filter(F.col("field") == field).select("term").distinct()
    else:
        src = index.tf.filter(F.col("field") == field).select("term").distinct()
    if prefix:
        src = src.filter(F.col("term").startswith(prefix))
        path = "prefix"
    elif runs:
        tri = getattr(index, "trigram", None)
        if tri is not None:
            from ..index.trigram import trigram_candidates

            cand = trigram_candidates(tri, field, runs)
            if cand is not None:
                src = cand
                path = "trigram"
    # structural constraints are free codegen predicates — they compose
    # with EVERY seek (prefix range / trigram candidates), not only the
    # full-scan fallback; the path label upgrades to 'bounded' only when
    # they are the sole pruning available
    structural = False
    if suffix:
        src = src.filter(F.col("term").endswith(suffix))
        structural = True
    if bounds:
        lo, hi = bounds
        if hi is not None:
            src = src.filter(F.length("term").between(lo, hi))
            structural = True
        elif lo > 0:
            src = src.filter(F.length("term") >= lo)
            structural = True
    if structural and path == "full":
        path = "bounded"
    rows = src.filter(F.col("term").rlike(regex)).orderBy("term").limit(max_terms + 1).collect()
    try:
        index.last_multiterm_stats = {"path": path, "prefix": prefix,
                                      "runs": list(runs or []),
                                      "bounds": bounds, "suffix": suffix}
    except Exception:
        pass
    if len(rows) > max_terms:
        raise ValueError(f"maxClauseCount is set to {max_terms}")
    return [r["term"] for r in rows]


def expand_wildcard(index, field: str, pattern: str, boost: float = 1.0,
                    max_terms: int = MAX_CLAUSE_COUNT):
    """WildcardQuery -> BooleanQuery(SHOULD of TermQuery) over matching
    dictionary terms; empty boolean if nothing matches."""
    terms = matching_terms(index, field, wildcard_to_regex(pattern), max_terms,
                           prefix=wildcard_literal_prefix(pattern),
                           runs=wildcard_literal_runs(pattern),
                           bounds=wildcard_length_bounds(pattern),
                           suffix=wildcard_literal_suffix(pattern))
    return BooleanQuery(
        tuple(BooleanClause(TermQuery(field, t, boost), Occur.SHOULD) for t in terms)
    ).rewrite()


def levenshtein(cands: list[str], term: str) -> np.ndarray:
    """Levenshtein distance of every candidate to ``term``, counted over
    Unicode code points as Spark's ``levenshtein`` counts it.  The
    classic DP keeps one row per query character, vectorized over all
    candidates; the insertion step's left-to-right dependency is the
    running minimum min_k<=j (row[k] + j - k) = j + cummin(row - k)."""
    n = len(cands)
    lens = np.fromiter(map(len, cands), np.int64, n)
    width = max(int(lens.max()) if n else 0, 1)
    # UCS-4: one uint32 code point per column, NUL-padded past each
    # candidate's length (columns past it never feed its distance)
    chars = np.array(cands, dtype=f"<U{width}").view(np.uint32).reshape(n, width)
    ar = np.arange(width + 1, dtype=np.int64)
    row = np.broadcast_to(ar, (n, width + 1)).copy()
    for i, ch in enumerate(term, 1):
        step = np.empty_like(row)
        step[:, 0] = i
        step[:, 1:] = np.minimum(row[:, :-1] + (chars != ord(ch)), row[:, 1:] + 1)
        row = np.minimum.accumulate(step - ar, axis=1) + ar
    return row[np.arange(n), lens]


def _field_terms(index, field: str, prefix: str, lo: int, hi: int) -> list[str]:
    """The field's distinct dictionary terms starting with ``prefix``
    whose length in code points is within [lo, hi], sorted as Spark's
    orderBy("term") sorts them.  On a MaterializedIndex an Arrow read
    of the term_dict files listed at open (live segments only), no
    Spark job; on a LogicalIndex one collect of its TF frame."""
    if hasattr(index, "_term_dict_ds"):
        if index._term_dict_ds is None:
            return []
        flt = pc.field("field") == field
        if index._dead:
            flt &= ~pc.field("segment_id").isin(index._dead)
        if prefix:
            flt &= pc.starts_with(pc.field("term"), pattern=prefix)
        terms = pc.unique(index._term_dict_ds.to_table(columns=["term"], filter=flt)
                          .column("term").combine_chunks())
        n = pc.utf8_length(terms)
        terms = terms.filter(pc.and_(pc.greater_equal(n, lo), pc.less_equal(n, hi)))
        return sorted(terms.to_pylist())
    src = index.tf.filter(F.col("field") == field)
    if prefix:
        src = src.filter(F.col("term").startswith(prefix))
    src = src.filter(F.length("term").between(lo, hi)).select("term").distinct()
    return sorted(r["term"] for r in src.collect())


def expand_fuzzy(index, field: str, term: str, max_edits: int = 2,
                 boost: float = 1.0, max_terms: int = MAX_CLAUSE_COUNT,
                 prefix_length: int = 0):
    """FuzzyQuery -> BooleanQuery(SHOULD of TermQuery) over dictionary
    terms within ``max_edits`` Levenshtein distance.

    Candidate generation runs on the driver: the field's dictionary
    terms within the length window |len(t) - len(q)| <= e (an Arrow
    read of term_dict on a MaterializedIndex, no Spark job), then one
    vectorized Levenshtein over all of them (``levenshtein``, Spark's
    code-point distance) — no automaton port needed (the reference's
    automaton lib at core/util/automaton/ is never reached:
    queryParser.go:178-190 panics).  Each expanded term is
    down-weighted by Lucene's FuzzyTermsEnum boost
    (1 - distance / min(len(term), len(query))).

    ``prefix_length`` (FuzzyQuery.prefixLength): candidates must share
    the query's first N chars exactly, a StartsWith predicate applied
    with the read."""
    n = len(term)
    cands = _field_terms(index, field, term[:prefix_length] if prefix_length > 0 else "",
                         n - max_edits, n + max_edits)
    dist = levenshtein(cands, term)
    hits = [(t, int(d)) for t, d in zip(cands, dist) if d <= max_edits]
    if len(hits) > max_terms:
        raise ValueError(f"maxClauseCount is set to {max_terms}")
    clauses = []
    for t, d in hits:
        tb = boost * (1.0 - d / min(len(t), n)) if d > 0 else boost
        if tb > 0:
            clauses.append(BooleanClause(TermQuery(field, t, tb), Occur.SHOULD))
    return BooleanQuery(tuple(clauses)).rewrite()


def expand_regexp(index, field: str, regex: str, boost: float = 1.0,
                  max_terms: int = MAX_CLAUSE_COUNT, anchored: bool = True):
    """RegexpQuery expansion.  Lucene regexps match the WHOLE term
    (core/util/automaton/regexp.go semantics), so the pattern is
    anchored by default."""
    rx = f"^(?:{regex})$" if anchored else regex
    terms = matching_terms(index, field, rx, max_terms,
                           prefix=regex_literal_prefix(regex) if anchored else "",
                           runs=(regexp_literal_runs(regex) or None) if anchored else None,
                           bounds=regexp_length_bounds(regex) if anchored else None,
                           suffix=regex_literal_suffix(regex) if anchored else "")
    return BooleanQuery(
        tuple(BooleanClause(TermQuery(field, t, boost), Occur.SHOULD) for t in terms)
    ).rewrite()


def expand_term_range(index, field: str, lower: str | None, upper: str | None,
                      include_lower: bool = True, include_upper: bool = True,
                      boost: float = 1.0, max_terms: int = MAX_CLAUSE_COUNT):
    """TermRangeQuery [a TO b] -> SHOULD-of-TermQuery over dictionary
    terms in the range.  The range predicate is pushed to the parquet
    scan (term column min/max stats prune row groups)."""
    if hasattr(index, "term_dict"):
        src = index.term_dict.filter(F.col("field") == field).select("term").distinct()
    else:
        src = index.tf.filter(F.col("field") == field).select("term").distinct()
    if lower is not None:
        src = src.filter(F.col("term") >= lower if include_lower else F.col("term") > lower)
    if upper is not None:
        src = src.filter(F.col("term") <= upper if include_upper else F.col("term") < upper)
    rows = src.orderBy("term").limit(max_terms + 1).collect()
    if len(rows) > max_terms:
        raise ValueError(f"maxClauseCount is set to {max_terms}")
    return BooleanQuery(
        tuple(
            BooleanClause(TermQuery(field, r["term"], boost), Occur.SHOULD)
            for r in rows
        )
    ).rewrite()


def common_terms_query(searcher, field: str, terms: list[str],
                       max_term_frequency: float = 0.3,
                       low_freq_boost: float = 1.0,
                       high_freq_boost: float = 0.25):
    """CommonTermsQuery (Lucene queries module; absent from the
    reference): terms whose document frequency exceeds
    ``max_term_frequency`` * maxDoc are demoted into a down-boosted
    SHOULD group, while rare (selective) terms keep full weight — the
    stopword-free way to keep hot terms from drowning the scoring.
    Returns the composed BooleanQuery (executes through the normal
    flat-OR single-scan plan; the df split costs one memoized
    term-stats seek — a driver-side term_dict read on a
    MaterializedIndex, no Spark job)."""
    from .ast import BooleanClause, BooleanQuery, Occur, TermQuery as TQ

    stats = searcher._seek_terms({(field, t) for t in terms})
    max_doc = searcher._collection_stats(field)["max_doc"]
    cutoff = max_term_frequency * max_doc
    clauses = []
    for t in terms:
        df = stats[(field, t)].df
        if df == 0:
            continue
        boost = high_freq_boost if df > cutoff else low_freq_boost
        clauses.append(BooleanClause(TQ(field, t, boost), Occur.SHOULD))
    return BooleanQuery(tuple(clauses)).rewrite()


def suggest_terms(index, field: str, term: str, k: int = 5, max_edits: int = 2):
    """Did-you-mean suggestions (the Lucene suggest/spellchecker module
    role, absent from the reference): dictionary terms within
    ``max_edits`` Levenshtein distance, ranked by (distance asc,
    df desc, term asc) — closer corrections first, popular terms
    breaking ties.  Returns a DataFrame (term, dist, df).

    Scale shape: a JVM-side candidate scan (the result is a frame) —
    the length-window prefilter is pushed to the sorted term_dict parquet,
    levenshtein runs in whole-stage codegen, top-k is
    TakeOrderedAndProject."""
    if hasattr(index, "term_dict"):
        src = (
            index.term_dict.filter(F.col("field") == field)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
        )
    else:
        src = (
            index.tf.filter(F.col("field") == field)
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("df"))
        )
    n = len(term)
    return (
        src.filter(F.length("term").between(n - max_edits, n + max_edits))
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(term)).cast("int"))
        .filter(F.col("dist") <= max_edits)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(k)
    )


def term_dictionary(index, field: str, prefix: str | None = None,
                    limit: int = 1000):
    """Browse the term dictionary (the TermsEnum.next/seekCeil API,
    core/index/terms.go:60-120): (term, df, ttf) ordered by term, with
    an optional prefix seek.  The prefix predicate is pushed to the
    sorted term_dict parquet (row-group pruning via min/max stats)."""
    if hasattr(index, "term_dict"):
        src = (
            index.term_dict.filter(F.col("field") == field)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("ttf").cast("long").alias("ttf"))
        )
    else:
        src = (
            index.tf.filter(F.col("field") == field)
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("df"),
                 F.sum("freq").cast("long").alias("ttf"))
        )
    if prefix:
        src = src.filter(F.col("term").startswith(prefix))
    return src.orderBy("term").limit(limit)
