"""Seeded input generator for the benchmark.

Everything the engine sees comes from here: document rows and query
strings, both a pure function of ``seed``.  Words are synthetic
syllable strings over a vocabulary of ``vocab_size`` entries drawn with
a Zipf law, so the term dictionary is large, fuzzy expansion finds many
neighbours, and hot, mid and rare terms all exist.  Queries are drawn by
document-frequency band from the generator's own counts, never from the
index.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

# the analyzer's English stop set (golucene_spark.analysis.analyzers):
# a generated word must survive analysis unchanged
STOP = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)
CONSONANTS, VOWELS = "bdfgklmnprstvz", "aeiou"
SYLLABLES = [c + v for c in CONSONANTS for v in VOWELS]
LANGS = ["go", "py", "java", "js", "rs", "c"]
VOCAB_SIZE = 40_000
ZIPF_S = 1.05
MIN_LEN, MAX_LEN = 40, 260  # words per document
# a fuzzy query's term has exactly this many live words one edit away,
# so every run's fuzzy queries expand to the same number of terms
FUZZY_NEIGHBOURS = 2

# one cycle of the query mix (12 queries): term by df band (mid twice),
# AND2, OR2, AND NOT, keyword AND term, 16-term OR, nested, phrase and
# fuzzy, interleaved so that any few consecutive queries mix cheap and
# costly
CYCLE = ["term_mid", "and2", "phrase", "or2", "fuzzy", "term_hot",
         "and_not", "or16", "term_mid", "term_rare", "lang_and", "nested"]
# shapes the single-node oracle can score (term and boolean trees)
CHECKED_SHAPES = frozenset(CYCLE) - {"phrase", "fuzzy"}


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct 3-4 syllable lowercase words, none a stop word."""
    words: list[str] = []
    seen: set[str] = set()
    syl = np.array(SYLLABLES, dtype=object)
    while len(words) < size:
        picks = rng.integers(0, len(syl), size=(size, 4))
        for row in picks:
            # length cycles with rank, so bytes per token do not vary by seed
            w = "".join(syl[row[:3 + len(words) % 2]])
            if w not in seen and w not in STOP:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return np.array(words, dtype=object)


class Corpus:
    """Documents plus the per-word document frequencies they imply."""

    def __init__(self, seed: int, n_docs: int, vocab_size: int = VOCAB_SIZE):
        self.rng = np.random.default_rng(seed)
        self.vocab = make_vocab(self.rng, vocab_size)
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = 1.0 / ranks ** ZIPF_S
        self.p = p / p.sum()
        self.df: Counter = Counter()
        self.docs: list[tuple[int, str, str]] = []  # (doc_id, lang, content)
        self.next_id = 0
        self.add_docs(n_docs)

    def _texts(self, n: int) -> tuple[list[str], list[str]]:
        lens = self.rng.integers(MIN_LEN, MAX_LEN + 1, size=n)
        toks = self.rng.choice(self.vocab, size=int(lens.sum()), p=self.p)
        offs = np.concatenate([[0], np.cumsum(lens)])
        langs = self.rng.integers(0, len(LANGS), size=n)
        texts = [" ".join(toks[offs[i]:offs[i + 1]].tolist()) for i in range(n)]
        return texts, [LANGS[i] for i in langs]

    def add_docs(self, n: int) -> list[tuple[int, str, str]]:
        """Append ``n`` new documents with fresh ids; returns them."""
        texts, langs = self._texts(n)
        out = []
        for text, lang in zip(texts, langs):
            out.append((self.next_id, lang, text))
            self.next_id += 1
        self.docs.extend(out)
        self._count(out, +1)
        return out

    def replace_docs(self, ids: list[int]) -> list[tuple[int, str, str]]:
        """New content for existing ids (an update); returns the new rows."""
        texts, langs = self._texts(len(ids))
        by_id = {d[0]: i for i, d in enumerate(self.docs)}
        old = [self.docs[by_id[i]] for i in ids]
        self._count(old, -1)
        new = [(i, lang, text) for i, lang, text in zip(ids, langs, texts)]
        for row in new:
            self.docs[by_id[row[0]]] = row
        self._count(new, +1)
        return new

    def delete_docs(self, ids: list[int]) -> None:
        drop = set(ids)
        gone = [d for d in self.docs if d[0] in drop]
        self._count(gone, -1)
        self.docs = [d for d in self.docs if d[0] not in drop]

    def _count(self, rows, sign: int) -> None:
        for _, _, text in rows:
            for w in set(text.split()):
                self.df[w] += sign

    # -- tables -----------------------------------------------------------
    @staticmethod
    def id_frame(rows) -> pd.DataFrame:
        """An id-keyed table (doc_id, lang, content)."""
        return pd.DataFrame(list(rows), columns=["doc_id", "lang", "content"])

    def input_bytes(self) -> int:
        return sum(len(t.encode()) for _, _, t in self.docs)

    # -- queries ----------------------------------------------------------
    def bands(self) -> dict[str, list[str]]:
        """Words by document-frequency band: hot >= 5% of docs,
        mid 0.5-5%, rare 2 docs up to 0.2%."""
        n = max(1, len(self.docs))
        hot, mid, rare = [], [], []
        for w, df in self.df.items():
            if df >= 0.05 * n:
                hot.append(w)
            elif 0.005 * n <= df < 0.05 * n:
                mid.append(w)
            elif 2 <= df <= max(2, 0.002 * n):
                rare.append(w)
        return {"hot": sorted(hot), "mid": sorted(mid), "rare": sorted(rare)}

    def queries(self, n: int, rng: np.random.Generator, exclude=(),
                shapes=CYCLE) -> list[tuple[str, str]]:
        """``n`` distinct (shape, query string) pairs, none in ``exclude``,
        with shapes taken in turn from ``shapes``."""
        b = self.bands()
        pool = list(shapes)
        seen = set(exclude)
        out: list[tuple[str, str]] = []

        def pick(band, k=1):
            ws = b[band]
            return [ws[i] for i in rng.choice(len(ws), size=k, replace=False)]

        while len(out) < n:
            shape = pool[len(out) % len(pool)]
            q = self._query(shape, pick, rng)
            if q not in seen:
                seen.add(q)
                out.append((shape, q))
        return out

    def neighbours(self, word: str) -> int:
        """Live words one insertion, deletion or substitution away."""
        letters = CONSONANTS + VOWELS
        near = set()
        for i in range(len(word) + 1):
            near.update(word[:i] + ch + word[i:] for ch in letters)
            if i < len(word):
                near.add(word[:i] + word[i + 1:])
                near.update(word[:i] + ch + word[i + 1:] for ch in letters)
        near.discard(word)
        return sum(self.df.get(w, 0) > 0 for w in near)

    def _query(self, shape, pick, rng) -> str:
        if shape.startswith("term_"):
            return f"content:{pick(shape[5:])[0]}"
        if shape == "and2":
            a, c = pick("hot")[0], pick("mid")[0]
            return f"content:{a} AND content:{c}"
        if shape == "or2":
            a, c = pick("mid", 2)
            return f"content:{a} OR content:{c}"
        if shape == "and_not":
            a, c = pick("hot")[0], pick("mid")[0]
            return f"content:{a} AND NOT content:{c}"
        if shape == "lang_and":
            return f"lang:{LANGS[rng.integers(len(LANGS))]} AND content:{pick('mid')[0]}"
        if shape == "or16":
            ws = pick("hot", 4) + pick("mid", 8) + pick("rare", 4)
            return " OR ".join(f"content:{w}" for w in ws)
        if shape == "nested":
            a, c, d = pick("hot")[0], pick("mid")[0], pick("rare")[0]
            return f"content:{a} AND (content:{c} OR content:{d})"
        if shape == "phrase":
            # two adjacent words of a live document, so the phrase matches
            text = self.docs[rng.integers(len(self.docs))][2].split()
            i = int(rng.integers(len(text) - 1))
            return f'content:"{text[i]} {text[i + 1]}"'
        if shape == "fuzzy":
            while True:
                w = pick("mid")[0]
                if self.neighbours(w) == FUZZY_NEIGHBOURS:
                    return f"content:{w}~1"
        raise ValueError(shape)
