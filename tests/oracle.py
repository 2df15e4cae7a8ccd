"""Pure-Python oracle: brute-force index + scorers (SURVEY.md §5.4).

Shares ONLY the tokenizer with the engine (token identity is the contract —
SURVEY.md §7 step 1); everything downstream (postings, df, BM25, parity
scoring, two-stage ordering) is an independent dict/loop implementation."""

from __future__ import annotations

import math
from collections import Counter

from spidey_search_engine_spark.functions.analysis import (PROFILES,
                                                           analyze_query,
                                                           tokenize_title)

K1, B = 1.2, 0.75


class OracleIndex:
    def __init__(self, docs: list[tuple[int, str, str]], profile: str = "code"):
        """docs: [(doc_id, path, content)]"""
        tok = PROFILES[profile]
        self.tokens = {d: tok(c) for d, _, c in docs}
        self.dl = {d: len(t) for d, t in self.tokens.items()}
        self.n_docs = len(docs)
        self.avgdl = (sum(self.dl.values()) / self.n_docs) if self.n_docs else 0.0
        self.tf: dict[int, Counter] = {d: Counter(t) for d, t in self.tokens.items()}
        self.positions: dict[int, dict[str, list[int]]] = {}
        for d, toks in self.tokens.items():
            pos: dict[str, list[int]] = {}
            for i, t in enumerate(toks):
                pos.setdefault(t, []).append(i)
            self.positions[d] = pos
        self.df: Counter = Counter()
        for c in self.tf.values():
            self.df.update(c.keys())
        self.title_tokens = {d: set(tokenize_title(p)) for d, p, _ in docs}

    def bm25_scores(self, words: list[str],
                    important_weight: float = 1.0) -> dict[int, float]:
        """Every matching doc's BM25 over an analyzed term bag (a repeated
        word counts once per occurrence). `important_weight` is the
        BM25F-lite boost: tf·w for a word that is one of the doc's title
        tokens."""
        scores: dict[int, float] = {}
        for d in self.tokens:
            s = 0.0
            for w in words:
                tf = self.tf[d].get(w, 0)
                if not tf:
                    continue
                if w in self.title_tokens[d]:
                    tf = tf * important_weight
                idf = math.log((self.n_docs - self.df[w] + 0.5) / (self.df[w] + 0.5) + 1)
                s += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * self.dl[d] / self.avgdl))
            if s > 0:
                scores[d] = s
        return scores

    @staticmethod
    def ranked(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
        """Top-k (doc_id, score) by score DESC, doc_id ASC."""
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def bm25_topk(self, query: str, k: int = 10):
        words, phrases = analyze_query(query)
        for p in phrases:
            words.extend(p)
        return self.ranked(self.bm25_scores(words), k)

    def phrase_matches(self, d: int, phrase: list[str]) -> int:
        pos = self.positions[d]
        if any(w not in pos for w in phrase):
            return 0
        first = pos[phrase[0]]
        rest = [set(pos[w]) for w in phrase[1:]]
        return sum(1 for p in first
                   if all(p + i + 1 in s for i, s in enumerate(rest)))

    def parity_search(self, query: str, page: int = 1, page_size: int = 20,
                      page_rank: dict[int, float] | None = None,
                      history_docs: set[int] | None = None):
        words, phrases = analyze_query(query)
        rolled: dict[int, dict] = {}

        def acc(d, rel, imp, isph):
            e = rolled.setdefault(d, {"rel": 0.0, "imp": 0, "ph": 0})
            e["rel"] += rel
            e["imp"] = max(e["imp"], imp)
            e["ph"] = max(e["ph"], isph)

        for d in self.tokens:
            rel = 0.0
            imp = 0
            hit = False
            for w in words:
                tf = self.tf[d].get(w, 0)
                if not tf:
                    continue
                hit = True
                rel += tf * (1 + math.log(tf)) * math.log(1 + self.n_docs / self.df[w])
                if w in self.title_tokens[d]:
                    imp = 1
            if hit:
                acc(d, rel, imp, 0)
        for ph in phrases:
            per_doc = {d: self.phrase_matches(d, ph) for d in self.tokens}
            dfp = sum(1 for m in per_doc.values() if m > 0)
            if dfp == 0:
                continue
            idf = math.log(1 + self.n_docs / dfp)
            for d, m in per_doc.items():
                if m > 0:
                    imp = 1 if all(w in self.title_tokens[d] for w in ph) else 0
                    acc(d, idf * (1 + math.log(m)), imp, 1)
        hist = history_docs or set()
        rows = [(d, 1 if d in hist else 0, e["imp"], e["ph"], e["rel"])
                for d, e in rolled.items()]
        rows.sort(key=lambda r: (-r[1], -r[2], -r[3], -r[4], r[0]))
        stage1 = rows[: page * page_size]
        pr = page_rank or {}
        stage2 = [(d, h, i, p, rel, rel * pr.get(d, 1.0))
                  for d, h, i, p, rel in stage1]
        stage2.sort(key=lambda r: (-r[1], -r[2], -r[3], -r[5], r[0]))
        off = (page - 1) * page_size
        return stage2[off: page * page_size]
