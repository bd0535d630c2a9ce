"""Analyzer chains (tokenizer -> filters), vectorized over Arrow batches.

StandardAnalyzer replicates the reference chain at
analysis/standard/analyzer.go:49-63:
    StandardTokenizer (UAX#29, max token length 255)
    -> StandardFilter (no-op for >=3.1)
    -> LowerCaseFilter (per-codepoint lower, analysis/core/lowercase.go:38-48)
    -> StopFilter (33 English stop words, analysis/core/stop.go:13-19,
       position increments preserved: analysis/util/filtering.go:56-80)

SimpleAnalyzer is a deliberately SQL-expressible chain
(lower -> regexp [a-z0-9_]+ -> stop) used for oracle-parity correctness
gates; its exact DuckDB equivalent is emitted by ``SimpleAnalyzer.sql_*``.
"""

from __future__ import annotations

import re

import numpy as np

from . import wordbreak

# the exact 33-word set of analysis/core/stop.go:13-19 (Lucene's
# ENGLISH_STOP_WORDS_SET)
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)

MAX_TOKEN_LENGTH = 255  # analysis/standard/analyzer.go:13


class StandardAnalyzer:
    """UAX#29 + lowercase + stop, whole-batch vectorized."""

    name = "standard"

    def __init__(self, stop_words=ENGLISH_STOP_WORDS, max_token_length: int = MAX_TOKEN_LENGTH):
        self.stop_words = frozenset(stop_words)
        self.max_token_length = max_token_length

    def analyze_batch(self, texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """-> (terms: object ndarray, tok_row: int64, tok_pos: int64).

        Positions are ordinals in the pre-filter stream: tokens dropped by
        the length filter or the stop filter leave gaps
        (tokenizer.go:114-131, filtering.go:56-80).
        """
        tokens, tok_row, tok_pos, tok_len = wordbreak.segment_batch(texts)
        if not tokens:
            return np.array([], dtype=object), tok_row, tok_pos
        lower = list(map(str.lower, tokens))
        keep = tok_len <= self.max_token_length
        keep &= ~np.fromiter(map(self.stop_words.__contains__, lower), bool, len(lower))
        return np.array(lower, dtype=object)[keep], tok_row[keep], tok_pos[keep]


class SimpleAnalyzer:
    """lower -> [a-z0-9_]+ -> stop.  Exactly reproducible in ANSI SQL:
    ``unnest(regexp_extract_all(lower(text), '[a-z0-9_]+'))`` + NOT IN stop.
    Positions are ordinals among *kept* tokens (no gaps) for SQL parity."""

    name = "simple"
    TOKEN_RE = re.compile(r"[a-z0-9_]+")
    SQL_PATTERN = "[a-z0-9_]+"

    def __init__(self, stop_words=ENGLISH_STOP_WORDS):
        self.stop_words = frozenset(stop_words)

    def analyze_batch(self, texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        terms: list[str] = []
        rows: list[int] = []
        pos: list[int] = []
        findall = self.TOKEN_RE.findall
        stop = self.stop_words
        for i, t in enumerate(texts):
            if not t:
                continue
            p = 0
            for tok in findall(t.lower()):
                if tok in stop:
                    continue
                terms.append(tok)
                rows.append(i)
                pos.append(p)
                p += 1
        return (
            np.array(terms, dtype=object),
            np.array(rows, dtype=np.int64),
            np.array(pos, dtype=np.int64),
        )

    def stop_sql_list(self) -> str:
        return ", ".join(f"'{w}'" for w in sorted(self.stop_words))

    def sql_tokenize(self, text_col: str) -> str:
        """DuckDB fragment producing one row per kept token (column `term`)."""
        return (
            f"unnest(regexp_extract_all(lower({text_col}), '{self.SQL_PATTERN}')) AS term"
        )


class WhitespaceAnalyzer:
    """WhitespaceTokenizer alone (core Lucene's WhitespaceAnalyzer; not
    ported by the reference): split on whitespace, NO lowercasing, NO
    stop removal, positions = token ordinals.  SQL twin:
    ``unnest(regexp_extract_all(text, '\\S+'))``."""

    name = "whitespace"
    TOKEN_RE = re.compile(r"\S+")
    SQL_PATTERN = r"\S+"
    stop_words = frozenset()

    def analyze_batch(self, texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        terms: list[str] = []
        rows: list[int] = []
        pos: list[int] = []
        findall = self.TOKEN_RE.findall
        for i, t in enumerate(texts):
            if not t:
                continue
            for p, tok in enumerate(findall(t)):
                terms.append(tok)
                rows.append(i)
                pos.append(p)
        return (
            np.array(terms, dtype=object),
            np.array(rows, dtype=np.int64),
            np.array(pos, dtype=np.int64),
        )


class FoldingAnalyzer(SimpleAnalyzer):
    """ASCIIFoldingFilter role (core Lucene analysis/miscellaneous,
    unported by the reference): NFKD-decompose and strip combining
    marks BEFORE the simple chain, so accented variants match their
    ASCII forms (résumé == resume).  SQL twin:
    ``regexp_extract_all(strip_accents(lower(text)), '[a-z0-9_]+')``
    — exact for Latin diacritics (both sides reduce to the base
    letter)."""

    name = "folding"

    def analyze_batch(self, texts):
        import unicodedata

        folded = [
            "".join(
                c
                for c in unicodedata.normalize("NFKD", t or "")
                if not unicodedata.combining(c)
            )
            for t in texts
        ]
        return super().analyze_batch(folded)


class ShingleAnalyzer(SimpleAnalyzer):
    """ShingleFilter over the simple chain (core Lucene
    analysis/shingle; unported by the reference): emits the unigrams
    AND space-joined word bigrams, so common phrases become single
    dictionary terms — at scale a phrase query over shingled fields is
    ONE term-pruned scan instead of a position intersection.  Position
    of a bigram = position of its first word (ShingleFilter semantics);
    SQL twin: unigrams UNION ALL pairwise-concatenated adjacent
    tokens."""

    name = "shingle"

    def analyze_batch(self, texts):
        terms, rows, pos = super().analyze_batch(texts)
        if not len(terms):
            return terms, rows, pos
        # adjacent pairs within the same row form bigrams
        same_row = rows[1:] == rows[:-1]
        import numpy as np

        left = np.flatnonzero(same_row)
        bigrams = np.array(
            [f"{terms[i]} {terms[i + 1]}" for i in left], dtype=object
        )
        out_terms = np.concatenate((terms, bigrams))
        out_rows = np.concatenate((rows, rows[left]))
        out_pos = np.concatenate((pos, pos[left]))
        order = np.argsort(out_rows, kind="stable")
        return out_terms[order], out_rows[order], out_pos[order]


_ANALYZERS = {
    "standard": StandardAnalyzer,
    "simple": SimpleAnalyzer,
    "whitespace": WhitespaceAnalyzer,
    "folding": FoldingAnalyzer,
    "shingle": ShingleAnalyzer,
}


def get_analyzer(name: str):
    return _ANALYZERS[name]()
