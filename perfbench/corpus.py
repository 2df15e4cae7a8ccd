"""Seeded inputs of the benchmark, generated here and not by the engine,
so that a parent commit and a change read identical input bytes.

* ``code_corpus`` -- a synthetic source-code table
  ``(doc_id, repo, path, commit, lang, content)``. Content mixes Zipf-drawn
  language keywords, camelCase/snake_case identifiers, words of a seeded
  pseudo-word lexicon (Zipf over ranks, so document frequencies span hot,
  mid and rare bands), import lines and a few fixed two-word phrases.
* ``control_tables`` -- sf0.1-shaped ``lineitem`` and ``events`` tables for
  the host-drift control queries.

Everything is numpy-vectorised and written with pyarrow, so generation
takes seconds and never touches Spark.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("java", "py", "ts", "c", "go")
KEYWORDS = ["import", "return", "def", "class", "for", "if", "else", "while",
            "break", "continue", "public", "static", "void", "int", "string",
            "func", "var", "let", "const", "new"]
NOUNS = ["sort", "merge", "search", "tree", "hash", "map", "list", "array",
         "node", "graph", "queue", "stack", "heap", "index", "token",
         "parser", "buffer", "stream", "cache", "batch", "shard", "block",
         "page", "rank", "score", "term", "doc", "file", "path", "edge"]
VERBS = ["get", "set", "build", "parse", "read", "write", "find", "insert",
         "delete", "update", "scan", "split", "join", "encode", "decode",
         "compress", "flush", "load", "store", "walk"]
# two-word phrases embedded verbatim in some docs (phrase queries)
PHRASES = [("merge", "sort"), ("binary", "search"), ("hash", "map"),
           ("sorted", "arrays"), ("token", "stream"), ("cache", "block")]
_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
LEXICON_SIZE = 3000


def lexicon(size: int = LEXICON_SIZE) -> list[str]:
    """Seed-independent pseudo-word lexicon (letters only, 2-3 syllables),
    in Zipf rank order: word 0 is the most frequent."""
    from spidey_search_engine_spark.functions.stopwords import STOPWORDS_EN
    rng = np.random.Generator(np.random.PCG64(20240601))
    taken = set(KEYWORDS) | set(NOUNS) | set(VERBS) | set(STOPWORDS_EN)
    out: list[str] = []
    while len(out) < size:
        n = 2 + int(rng.integers(2))
        w = "".join(_SYL[int(i)] for i in rng.integers(len(_SYL), size=n))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def _zipf(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def code_corpus(n_docs: int, seed: int, first_id: int = 0,
                markers: dict[int, str] | None = None) -> pd.DataFrame:
    """`n_docs` docs with ids first_id.. from `seed`. `markers` maps a doc
    id to an extra word appended to its content (ingest deltas use it)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lex = np.array(lexicon())
    kw = np.array(KEYWORDS)
    n_tok = rng.integers(60, 181, size=n_docs)
    total = int(n_tok.sum())
    kind = rng.random(total)
    kw_pick = kw[rng.choice(len(kw), size=total, p=_zipf(len(kw)))]
    lex_pick = lex[rng.choice(len(lex), size=total, p=_zipf(len(lex), 1.1))]
    v = rng.integers(len(VERBS), size=total)
    n1 = rng.integers(len(NOUNS), size=total)
    n2 = rng.integers(len(NOUNS), size=total)
    num = rng.integers(1000, size=total)
    rows = []
    pos = 0
    for i in range(n_docs):
        d = first_id + i
        lang = LANGS[d % len(LANGS)]
        snake = lang in ("py", "c")
        parts: list[str] = []
        if d % 29 == 0:
            a, b = PHRASES[(d // 29) % len(PHRASES)]
            parts.append(f"// {a} {b} notes")
        for j in range(d % 4):
            t = (d * 7 + 31 * j + 1) % max(1, first_id + n_docs)
            parts.append(f"import mod{t % 11}.file{t}")
        for p in range(pos, pos + int(n_tok[i])):
            k = kind[p]
            if k < 0.30:
                parts.append(kw_pick[p])
            elif k < 0.55:
                vb, a, b = VERBS[v[p]], NOUNS[n1[p]], NOUNS[n2[p]]
                parts.append(f"{vb}_{a}_{b}" if snake
                             else vb + a.capitalize() + b.capitalize())
            elif k < 0.95:
                parts.append(lex_pick[p])
            else:
                parts.append(f"x{num[p]} = {num[p] % 97};")
        pos += int(n_tok[i])
        if markers and d in markers:
            parts.append(markers[d])
        repo = f"org{d % 7}/repo{d % 23}"
        path = f"src/mod{d % 11}/File{d}.{lang}"
        commit = hashlib.sha1(f"{repo}/{path}".encode()).hexdigest()
        rows.append((d, repo, path, commit, lang, " ".join(parts)))
    return pd.DataFrame(rows, columns=["doc_id", "repo", "path", "commit",
                                       "lang", "content"])


def write_parquet(pdf: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Write `pdf` as `n_files` parquet files into a fresh `out_dir`
    (written beside it, then renamed, so a killed run leaves no half
    table behind)."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = max(1, -(-len(pdf) // n_files))
    for f, lo in enumerate(range(0, len(pdf), step)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:lo + step],
                                            preserve_index=False),
                       os.path.join(tmp, f"part-{f:05d}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def control_tables(out_dir: str) -> None:
    """sf0.1-shaped `lineitem` (600k rows) and `events` (100k rows) in the
    `<dir>/<name>.parquet` layout entry_queries reads. Fixed seed: the
    control measures the host, not the workload."""
    rng = np.random.Generator(np.random.PCG64(42))
    n = 600_000
    li = pd.DataFrame({
        "l_orderkey": rng.integers(1, 150_000, n),
        "l_partkey": rng.integers(1, 20_000, n),
        "l_suppkey": rng.integers(1, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": (np.datetime64("1992-01-01")
                       + rng.integers(0, 2500, n).astype("timedelta64[D]")),
    })
    m = 100_000
    ev = pd.DataFrame({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00")
               + rng.integers(0, 86_400 * 30, m).astype("timedelta64[s]")),
        "user_id": rng.integers(0, 1_000, m),
        "event_type": rng.choice(np.array(["view", "click", "buy"]), m),
        "value": np.round(rng.uniform(0, 100, m), 2),
        "props": rng.choice(np.array(["{}", '{"a":1}']), m),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in (("lineitem", li), ("events", ev)):
        write_parquet(pdf, os.path.join(out_dir, f"{name}.parquet"), 4)
