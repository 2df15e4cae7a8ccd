"""Independent brute-force answers for every checked operation.

Shares only the tokenizer with the engine. Postings are kept for the
alphabetic vocabulary alone (every query word, wildcard expansion and
phrase word is alphabetic), which keeps the structure small; df, dl and
avgdl are exact over the whole corpus. BM25 is k1=1.2, b=0.75,
idf = ln((N-df+0.5)/(df+0.5)+1); the parity ranker is the reference's
tf*(1+ln tf)*ln(1+N/df) word score plus (1+ln m)*ln(1+N/df_phrase) phrase
score with the two-stage ordering.
"""

from __future__ import annotations

import math
import pickle
from collections import Counter

import numpy as np

from spidey_search_engine_spark.functions.analysis import (PROFILES,
                                                           analyze_query,
                                                           tokenize_code_raw,
                                                           tokenize_title)

K1, B = 1.2, 0.75
REL_TOL = 1e-9


class Oracle:
    def __init__(self, pdf, phrases: list[list[str]]):
        tok = PROFILES["code"]
        self.doc_ids = pdf["doc_id"].to_numpy().astype(np.int64)
        self.base = int(self.doc_ids.min())
        if not (self.doc_ids == self.base + np.arange(len(pdf))).all():
            raise ValueError("oracle needs dense doc ids in row order")
        self.n = len(pdf)
        self.lang = pdf["lang"].to_numpy()
        self.repo = pdf["repo"].to_numpy()
        self.path = pdf["path"].to_numpy()
        self.content = pdf["content"].to_numpy()
        self.dl = np.zeros(self.n, dtype=np.float64)
        df: Counter = Counter()
        post: dict[str, tuple[list, list]] = {}
        self.phrase_m = {tuple(p): {} for p in phrases}
        for i, text in enumerate(self.content):
            toks = tok(text)
            self.dl[i] = len(toks)
            c = Counter(toks)
            df.update(c.keys())
            for t, f in c.items():
                if t.isalpha():
                    e = post.setdefault(t, ([], []))
                    e[0].append(i)
                    e[1].append(f)
            for p in self.phrase_m:
                if all(w in c for w in p):
                    m = sum(1 for j in range(len(toks) - len(p) + 1)
                            if tuple(toks[j:j + len(p)]) == p)
                    if m:
                        self.phrase_m[p][i] = m
        self.df = dict(df)
        self.avgdl = float(self.dl.mean())
        self.post = {t: (np.array(d, dtype=np.int64),
                         np.array(f, dtype=np.float64))
                     for t, (d, f) in post.items()}

    def save(self, path: str) -> None:
        with open(path, "wb") as f:
            pickle.dump(self, f, protocol=pickle.HIGHEST_PROTOCOL)

    @staticmethod
    def load(path: str) -> "Oracle":
        # the cache file is written by Oracle.save in this benchmark only
        with open(path, "rb") as f:
            return pickle.load(f)

    # -- scorers -------------------------------------------------------
    def bm25(self, bag: list[str]) -> np.ndarray:
        """Dense BM25 score per doc ordinal for a term bag."""
        s = np.zeros(self.n)
        for t, mult in Counter(bag).items():
            if t not in self.post:
                continue
            d, tf = self.post[t]
            df = self.df[t]
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            s[d] += mult * idf * tf * (K1 + 1) / (
                tf + K1 * (1 - B + B * self.dl[d] / self.avgdl))
        return s

    def has(self, term: str) -> np.ndarray:
        m = np.zeros(self.n, dtype=bool)
        if term in self.post:
            m[self.post[term][0]] = True
        return m

    def ranking(self, scores: np.ndarray, eligible: np.ndarray | None = None):
        """[(doc_id, score)] of every scored doc, score DESC, doc_id ASC."""
        ok = scores > 0
        if eligible is not None:
            ok &= eligible
        idx = np.flatnonzero(ok)
        order = np.lexsort((idx, -scores[idx]))
        return [(self.base + int(i), float(scores[i])) for i in idx[order]]

    def expand(self, prefix: str, max_terms: int = 64) -> list[str]:
        hits = [t for t in self.df if t.startswith(prefix)]
        hits.sort(key=lambda t: (-self.df[t], t))
        return hits[:max_terms]

    def parity(self, query: str):
        """Reference parity scores: {doc_id: (important, is_phrase,
        total_relevance)} of every matched doc, and the matched doc ids
        in the two-stage order (in_history is always 0 here)."""
        words, phrases = analyze_query(query)
        rel = np.zeros(self.n)
        imp = np.zeros(self.n, dtype=np.int64)
        isph = np.zeros(self.n, dtype=np.int64)
        hit = np.zeros(self.n, dtype=bool)
        for t, mult in Counter(words).items():
            if t not in self.post:
                continue
            d, tf = self.post[t]
            rel[d] += mult * tf * (1 + np.log(tf)) * math.log(
                1 + self.n / self.df[t])
            hit[d] = True
            for i in d:
                if t in tokenize_title(self.path[i]):
                    imp[i] = 1
        for p in phrases:
            per = self.phrase_m.get(tuple(p))
            if per is None:
                raise KeyError(f"phrase {p} not precomputed")
            if not per:
                continue
            idf = math.log(1 + self.n / len(per))
            for i, m in per.items():
                rel[i] += idf * (1 + math.log(m))
                hit[i] = True
                isph[i] = 1
                if all(w in tokenize_title(self.path[i]) for w in p):
                    imp[i] = 1
        idx = np.flatnonzero(hit)
        order = np.lexsort((idx, -rel[idx], -isph[idx], -imp[idx]))
        truth = {self.base + int(i): (int(imp[i]), int(isph[i]), float(rel[i]))
                 for i in idx}
        return truth, [self.base + int(i) for i in idx[order]]

    def snippet(self, doc_id: int, q_terms: list[str]) -> str:
        """Reference F11 snippet: first 5 raw tokens that start with a
        stemmed query term, a 16-token window from pos-8 around each."""
        toks = tokenize_code_raw(self.content[doc_id - self.base])
        hits = [i for i, t in enumerate(toks)
                if any(t.lower().startswith(q) for q in q_terms)][:5]
        return "... ".join(" ".join(toks[max(0, p - 8):max(0, p - 8) + 16])
                           for p in hits)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def ranked_ok(got: list[tuple[int, float]], want: list[tuple[int, float]],
              truth: dict[int, float]) -> bool:
    """`got` is a correct answer for the true ranking prefix `want` when it
    has the same length, its scores equal `want`'s position by position,
    and every returned doc really has the score reported. Docs tied on
    score may come in either order."""
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (_, ws) in zip(got, want):
        if not close(gs, ws) or gd not in truth or not close(truth[gd], gs):
            return False
    return True
