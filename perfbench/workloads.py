"""The four workloads, their set-up, output checks and metrics.

One Python process runs Spark at local[<cores>]; one client thread issues
operations in a closed loop (every caller of Searcher and the CLI waits
for its answer). Every answer is kept and checked against the oracle
after the timed loop, so checking never slows the loop.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass

import numpy as np

import corpus as gen
from oracle import Oracle, ranked_ok
from tracing import (EventLog, Tracer, attribute, median, op_counters,
                     span_jobs)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SERVE_CORPUS_SEED = 7
WARM_QUERY = "merge sort"
K = 10


@dataclass(frozen=True)
class Size:
    name: str
    serve_docs: int
    serve_seg_bits: int
    n_buckets: int
    build_docs: int
    build_seg_bits: int
    ingest_base: int
    ingest_delta: int
    ingest_seg_bits: int
    compact_threshold: int
    batch_queries: int
    min_builds: int
    min_cycles: int


SIZES = {
    # segment counts: serving and build 16384 >> 11 = 8, ingest one per
    # 1024-doc base or delta -- a small multiple of the 4 cores, and deltas
    # never share a segment. At these sizes a build's wall time is mostly
    # fixed per-job cost, so a run measures one, with cold plans as a CLI
    # build has.
    "full": Size("full", 16384, 11, 8, 16384, 11, 1024, 1024, 10, 40, 32,
                 1, 2),
    "smoke": Size("smoke", 1024, 8, 4, 512, 7, 256, 128, 7, 8, 8, 2, 2),
}


# ---------------------------------------------------------------------------
# inputs and caches
# ---------------------------------------------------------------------------

def _package_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "spidey_search_engine_spark")
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"),
                              recursive=True)):
        h.update(os.path.relpath(p, pkg).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _serve_dir(size: Size) -> str:
    return os.path.join(WORK, "serve", f"{size.name}-{_package_hash()}")


def _serve_corpus_dir(size: Size) -> str:
    return os.path.join(WORK, "corpus",
                        f"serve-{size.serve_docs}-{SERVE_CORPUS_SEED}")


def serving_ready(size: Size) -> bool:
    return os.path.isfile(os.path.join(_serve_dir(size), "READY"))


def _phrases() -> list[list[str]]:
    from spidey_search_engine_spark.functions.analysis import analyze_query
    return [analyze_query(f'"{a} {b}"')[1][0] for a, b in gen.PHRASES]


def prepare_serving(size: Size) -> None:
    """Corpus (keyed by its spec only, so a parent and a change read the
    same bytes), index and oracle (keyed by the engine's content hash, so
    a change never reads what its parent built)."""
    from spidey_search_engine_spark.operators.build import build_index
    from spidey_search_engine_spark.session import get_spark
    cdir = _serve_corpus_dir(size)
    pdf = gen.code_corpus(size.serve_docs, SERVE_CORPUS_SEED)
    if not os.path.isdir(cdir):
        gen.write_parquet(pdf, cdir, 8)
    sdir = _serve_dir(size)
    os.makedirs(sdir, exist_ok=True)
    spark = get_spark(app="perfbench-prepare", master=_master())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tmp = os.path.join(sdir, "index.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        build_index(spark, spark.read.parquet(cdir), tmp, profile="code",
                    seg_bits=size.serve_seg_bits, n_buckets=size.n_buckets)
        shutil.rmtree(os.path.join(sdir, "index"), ignore_errors=True)
        os.rename(tmp, os.path.join(sdir, "index"))
    finally:
        stop_spark(spark)
    Oracle(pdf, _phrases()).save(os.path.join(sdir, "oracle.pkl"))
    with open(os.path.join(sdir, "meta.json"), "w") as f:
        json.dump({"content_bytes": _content_bytes(pdf)}, f)
    open(os.path.join(sdir, "READY"), "w").close()


def _content_bytes(pdf) -> int:
    return int(sum(len(c.encode()) for c in pdf["content"]))


def _control_dir() -> str:
    d = os.path.join(WORK, "control")
    if not os.path.isfile(os.path.join(d, "READY")):
        gen.control_tables(d)
        open(os.path.join(d, "READY"), "w").close()
    return d


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit
            proc.kill()
            proc.wait()


def _master() -> str:
    return f"local[{len(os.sched_getaffinity(0))}]"


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if not f.startswith("."):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def _parquet_files(path: str) -> int:
    return sum(1 for dp, _, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def _descendants(root: int) -> list[tuple[int, str]]:
    """(pid, command name) of every process below `root`, from /proc."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                comm, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
            kids.setdefault(int(rest.split()[1]), []).append((int(d), comm))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid, comm = todo.pop()
        out.append((pid, comm))
        todo.extend(kids.get(pid, []))
    return out


def _proc_kb(pid: int, name: str, key: str) -> int:
    """A `key:  <n> kB` line of /proc/<pid>/<name>; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, dict]:
    """Sum of peak resident set (VmHWM) over this process's descendants:
    the driver JVM and its Python workers. Also returns the per-command
    split (MB) for the run summary."""
    split: dict[str, list[float]] = {}
    for pid, comm in _descendants(os.getpid()):
        split.setdefault(comm, []).append(
            _proc_kb(pid, "status", "VmHWM:") / 1024.0)
    total = sum(sum(v) for v in split.values())
    return total, {k: [round(x) for x in sorted(v)] for k, v in split.items()}


# ---------------------------------------------------------------------------
# query streams (all drawn from the run's seed)
# ---------------------------------------------------------------------------

class Vocab:
    """Plain query words in three document-frequency bands of the serving
    corpus: hot (df >= 10% of docs), mid (1-10%), rare (< 1%)."""

    def __init__(self, oracle):
        from spidey_search_engine_spark.functions.analysis import analyze_query
        self.bands = {"hot": [], "mid": [], "rare": []}
        seen = set()
        for w in gen.lexicon() + gen.NOUNS + gen.VERBS + gen.KEYWORDS:
            words, _ = analyze_query(w)
            if len(words) != 1 or words[0] not in oracle.post \
                    or words[0] in seen:
                continue
            seen.add(words[0])
            f = oracle.df[words[0]] / oracle.n
            band = "hot" if f >= 0.10 else "mid" if f >= 0.01 else "rare"
            self.bands[band].append(w)

    def word(self, rng, band: str | None = None) -> str:
        band = band or ("hot", "mid", "rare")[int(rng.integers(3))]
        b = self.bands[band]
        return b[int(rng.integers(len(b)))]

    def solo_queries(self, rng):
        """Endless stream of 1-4 word queries; no two share a term set."""
        from spidey_search_engine_spark.functions.analysis import analyze_query
        used = {frozenset(analyze_query(WARM_QUERY)[0])}
        while True:
            n = 1 + int(rng.integers(4))
            words = list(dict.fromkeys(self.word(rng) for _ in range(n)))
            key = frozenset(analyze_query(" ".join(words))[0])
            if key in used:
                continue
            used.add(key)
            yield " ".join(words)


IDENTIFIER_QUERIES = ("getMergeSort", "merge_sort", "parseTokenStream",
                      "read_buffer_cache")


# ---------------------------------------------------------------------------
# run scaffolding
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, workload, seed, seconds, trace, run_dir, size):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.run_dir, self.size = trace, run_dir, size
        self.rng = np.random.Generator(np.random.PCG64(
            [seed, WORKLOADS_ID[workload]]))
        self.records: list[dict] = []
        self.probe_records: list[dict] = []  # checked, but not timed ops
        self.layer: dict[str, float] = {}
        self.summary: dict = {}
        self.op_latency: float | None = None  # op_p50_s, see run()

    def op(self, family: str, fn, check, items: int = 1):
        """Run one timed operation inside an op span; keep its answer."""
        i = len(self.records)
        rec = {"family": family, "items": items, "check": check,
               "parts": {}, "error": None}
        with self.tracer.span(family, op=i) as s:
            t = time.perf_counter()
            try:
                rec["result"] = fn(rec)
            except Exception as e:  # counted as a failed operation
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["lat"] = time.perf_counter() - t
        rec["span"] = s
        self.records.append(rec)
        return rec

    def probe(self, family: str, fn, check):
        """An untimed operation whose answer is checked like a timed one
        (counted in attempted and failed, not in the latency figures)."""
        rec = {"family": family, "check": check, "parts": {}, "error": None}
        try:
            rec["result"] = fn()
        except Exception as e:  # counted as a failed operation
            rec["error"] = f"{type(e).__name__}: {e}"
        self.probe_records.append(rec)
        return rec

    def part(self, rec: dict, name: str, fn):
        """A timed sub-call of an operation (own child span)."""
        with self.tracer.span(name):
            t = time.perf_counter()
            out = fn()
            rec["parts"][name] = time.perf_counter() - t
        return out


WORKLOADS_ID = {"serve_solo": 1, "serve_algebra": 2, "build": 3, "ingest": 4}


def _tail(lat: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when a run has fewer than eleven samples."""
    xs = sorted(lat)
    n = len(xs)
    if n >= 11:
        return xs[n - 11], f"p{100.0 * (n - 10) / n:.0f} of n={n}"
    return xs[-1], f"max of n={n}"


def run(workload, seed, seconds, trace, run_dir, size) -> dict:
    from spidey_search_engine_spark.session import get_spark
    r = Run(workload, seed, seconds, trace, run_dir, size)
    ctl = _control_dir()
    prep = {"serve_solo": _pre_serving, "serve_algebra": _pre_serving,
            "build": _pre_build, "ingest": _pre_ingest}[workload](r)
    t0 = time.perf_counter()
    spark = get_spark(app=f"perfbench-{workload}", master=_master())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    r.session_s = time.perf_counter() - t0
    r.spark = spark
    r.tracer = Tracer(spark.sparkContext, trace)
    try:
        body = {"serve_solo": _serve_solo, "serve_algebra": _serve_algebra,
                "build": _build, "ingest": _ingest}[workload]
        setup_s, ratio = body(r, prep)
        r.summary["control"] = controls = _controls(spark, ctl)
        noop = []
        for _ in range(5):
            t = time.perf_counter()
            spark.range(1).collect()
            noop.append(time.perf_counter() - t)
        if trace:
            r.layer["trace.span_cost_s"] = _span_cost(r.tracer)
        rss, r.summary["rss_mb_by_process"] = peak_rss_mb()
        for rec in r.records + r.probe_records:
            if rec["error"] is None:
                try:
                    if not rec["check"](rec["result"]):
                        rec["error"] = "answer differs from the oracle"
                except Exception as e:  # a check that cannot run fails
                    rec["error"] = f"check {type(e).__name__}: {e}"
    finally:
        stop_spark(spark)

    lat = [rec["lat"] for rec in r.records]
    if r.op_latency is None:
        r.op_latency = float(statistics.median(lat))
    tail, tail_label = _tail(lat)
    r.layer["latency.tail_s"] = tail
    r.layer["mem.peak_rss_mb"] = rss
    r.summary["mem_mb"] = {"jvm_heap": round(r.mem[0], 1),
                           "python_workers": round(r.mem[1], 1)}
    wall = r.measure_wall
    failed = [rec for rec in r.records + r.probe_records if rec["error"]]
    r.summary.update({
        "workload": workload, "seed": seed, "ops": len(lat),
        "tail": tail_label,
        "family_p50_s": {f: round(median(rec["lat"] for rec in r.records
                                         if rec["family"] == f), 4)
                         for f in sorted({rec["family"]
                                          for rec in r.records})},
        "failures": [
            f"{rec['family']} {rec.get('bag')}: {rec['error']}"
            for rec in failed[:5]],
        "ops_failed_frac": len(failed) / (len(r.records)
                                          + len(r.probe_records))})
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": r.op_latency,
        "items_per_s": sum(rec["items"] for rec in r.records) / wall,
        "index_bytes_per_input_byte": ratio,
        "mem_mb": sum(r.mem),
    }
    if trace:
        metrics = _layers(r, controls, noop)
    return {"metrics": metrics,
            "attempted": len(r.records) + len(r.probe_records),
            "failed": len(failed), "summary": r.summary}


def _measure(r: Run, next_op, min_ops: int = 1) -> None:
    """Closed loop: issue the next operation after the previous one
    returned, until the run length has passed (and at least min_ops)."""
    t0 = time.perf_counter()
    n = 0
    while n < min_ops or time.perf_counter() - t0 < r.seconds:
        next_op()
        n += 1
    r.measure_wall = time.perf_counter() - t0
    r.mem = live_memory_mb(r.spark)


def live_memory_mb(spark) -> tuple[float, float]:
    """Memory the run holds once the timed loop ends, with its caches
    alive: the JVM heap in use once full collections free no more, and the
    proportional set size of the Python workers (forked workers share
    most pages with their daemon; RSS would count those once per
    worker). Unlike peak RSS, neither depends on when the collector last
    ran; JVM non-heap (code cache, metaspace) is left out because it grows
    with how much the JIT happened to compile."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # a collection lets Spark's ContextCleaner drop the blocks of broadcasts
    # and shuffles nothing references, and a later one frees them; each
    # round frees a further part, and on a loaded host the cleaner can sit
    # idle for a round or two before the next part goes, so collect until
    # four readings in a row agree within 1 MB
    gc.collect()  # drop unreachable Py4J proxies, releasing their JVM objects
    seen = []
    for _ in range(16):
        jvm.java.lang.System.gc()
        seen.append(mx.getHeapMemoryUsage().getUsed())
        if len(seen) >= 4 and max(seen[-4:]) - min(seen[-4:]) < 2 ** 20:
            break
        time.sleep(0.5)
    heap = seen[-1]
    # Python workers: the pyspark daemon (a child of the JVM) and its forks
    workers = sum(_proc_kb(pid, "smaps_rollup", "Pss:")
                  for jvm_pid, comm in _descendants(os.getpid())
                  if comm == "java"
                  for pid, _ in _descendants(jvm_pid)) * 1024
    return heap / 2 ** 20, workers / 2 ** 20


def _controls(spark, ctl: str) -> dict:
    """Host-drift controls on the run's own session; reported beside the
    end-to-end metrics, never folded into them."""
    from spidey_search_engine_spark import entry_queries as EQ
    out = {}
    t = time.perf_counter()
    EQ.tpch_q1(spark, ctl).collect()
    out["tpch_q1_s"] = time.perf_counter() - t
    t = time.perf_counter()
    EQ.window_running_sum(spark, ctl).write.format("noop") \
        .mode("overwrite").save()
    out["window_running_sum_s"] = time.perf_counter() - t
    return out


def _span_cost(tracer: Tracer) -> float:
    t = time.perf_counter()
    for _ in range(50):
        with tracer.span("trace.cost"):
            pass
    return (time.perf_counter() - t) / 50


# ---------------------------------------------------------------------------
# serving workloads
# ---------------------------------------------------------------------------

def _pre_serving(r: Run):
    sdir = _serve_dir(r.size)
    o = Oracle.load(os.path.join(sdir, "oracle.pkl"))
    with open(os.path.join(sdir, "meta.json")) as f:
        meta = json.load(f)
    return {"dir": sdir, "oracle": o, "vocab": Vocab(o), "meta": meta}


def _serving_setup(r: Run, prep) -> tuple:
    """setup_s = session start + one load_index + Searcher warm-up, whose
    first query forks and imports the Python workers the kernel runs in
    and plans cold: what a fresh serving process pays before it can
    answer. A second set-up in the same process would find the workers
    and plans warm, so it is not repeated."""
    from spidey_search_engine_spark.operators.build import load_index
    from spidey_search_engine_spark.operators.search import Searcher
    with r.tracer.span("setup"):
        t = time.perf_counter()
        with r.tracer.span("setup.load_index"):
            idx = load_index(r.spark, os.path.join(prep["dir"], "index"))
        t1 = time.perf_counter()
        with r.tracer.span("setup.searcher_warm"):
            searcher = Searcher(r.spark, idx)
            searcher.bm25(WARM_QUERY, K).collect()
        t2 = time.perf_counter()
    r.layer["searcher.warm_s"] = t2 - t1
    r.layer["searcher.cached_bytes"] = _cached_bytes(r.spark)
    ratio = (_dir_bytes(os.path.join(prep["dir"], "index"))
             / prep["meta"]["content_bytes"])
    return searcher, r.session_s + (t2 - t), ratio


def _cached_bytes(spark) -> float:
    """Bytes of every cached RDD/DataFrame block held in memory."""
    return float(sum(i.memSize() for i in
                     spark.sparkContext._jsc.sc().getRDDStorageInfo()))


def _bm25_check(o, bag, lo=0, hi=K, eligible=None):
    def check(got):
        scores = o.bm25(bag)
        want = o.ranking(scores, eligible)[lo:hi]
        ok = np.ones(o.n, dtype=bool) if eligible is None else eligible
        truth = {d: float(scores[d - o.base]) for d, _ in got
                 if 0 <= d - o.base < o.n and ok[d - o.base]}
        return ranked_ok(got, want, truth)
    return check


def _rows(df, *cols):
    return [tuple(row[c] for c in cols) for row in df.collect()]


def _solo_op(r: Run, s, o, text: str, family: str = "bm25"):
    from spidey_search_engine_spark.functions.analysis import analyze_query
    bag = analyze_query(text)[0]
    rec = r.op(family, lambda rec: _rows(s.bm25(text, K), "doc_id", "score"),
               _bm25_check(o, bag))
    rec["bag"], rec["text"] = bag, text
    return rec


def _serve_solo(r: Run, prep):
    s, setup_s, ratio = _serving_setup(r, prep)
    o = prep["oracle"]
    stream = prep["vocab"].solo_queries(r.rng)
    _measure(r, lambda: _solo_op(r, s, o, next(stream)))
    if r.trace:
        r.layer["searcher.cached_bytes_end"] = _cached_bytes(r.spark)
        _serving_layers(r, s, prep)
    s.close()
    return setup_s, ratio


def _bag(text: str) -> list[str]:
    from spidey_search_engine_spark.functions.analysis import analyze_query
    return analyze_query(text)[0]


def _algebra_cycle(r: Run, s, prep):
    """One pass over every non-solo surface, each called once, queries
    drawn from the seed. Each family draws its words from a fixed band
    (mostly mid), and the wildcard prefix expands to 1-8 terms, so the
    cost of a cycle moves little between seeds while every query
    differs."""
    from spidey_search_engine_spark.functions.analysis import analyze_query
    from spidey_search_engine_spark.operators.snippets import with_snippets
    o, v, rng = prep["oracle"], prep["vocab"], r.rng

    def bag_of(*words):
        return _bag(" ".join(words))

    # phrase query through the reference-parity ranker. The engine caches a
    # phrase's matches for the life of the session, and a repeat costs a
    # fraction of a first query, so each cycle takes a phrase this process
    # has not queried yet (they repeat only after six cycles)
    if not prep.get("phrase_order"):
        prep["phrase_order"] = [int(i) for i in
                                rng.permutation(len(gen.PHRASES))]
    a, b = gen.PHRASES[prep["phrase_order"].pop()]
    ptext = f'"{a} {b}" {v.word(rng, "mid")}'

    def parity_check(got):
        truth, order = o.parity(ptext)
        want = order[:20]
        if len(got) != len(want):
            return False
        got = sorted(got, key=lambda t: (-t[1], -t[2], -t[3], t[0]))
        for (d, imp, ph, rel), wd in zip(got, want):
            ti, tp, tr = truth.get(d, (None, None, None))
            wi, wp, wr = truth[wd]
            if (ti, tp) != (imp, ph) or (wi, wp) != (imp, ph):
                return False
            if tr is None or abs(tr - rel) > 1e-9 * max(1, abs(tr)) \
                    or abs(wr - rel) > 1e-9 * max(1, abs(wr)):
                return False
        return True

    rec = r.op("parity", lambda rec: _rows(
        s.parity(ptext), "doc_id", "important", "is_phrase",
        "total_relevance"), parity_check)
    rec["bag"] = analyze_query(ptext)[0] + analyze_query(ptext)[1][0]
    rec["text"] = ptext

    # boolean: must (scored too, as the CLI's +term), exclude, wildcard
    q = bag_of(v.word(rng, "mid"), v.word(rng, "mid"))
    must = bag_of(v.word(rng, "hot"))[0]
    excl = bag_of(v.word(rng, "mid"))[0]
    prefix = v.word(rng, "mid")[:4]
    while not 1 <= len(o.expand(prefix)) <= 8:
        prefix = v.word(rng, "mid")[:4]
    terms = q + [must]
    bag = list(terms)
    for t in o.expand(prefix):
        if t not in bag:
            bag.append(t)
    elig = o.has(must) & ~o.has(excl)
    rec = r.op("boolean", lambda rec: _rows(
        s.boolean(terms, must=[must], exclude=[excl],
                  wildcards=[prefix + "*"], k=K), "doc_id", "score"),
        _bm25_check(o, bag, eligible=elig))
    rec["bag"] = bag

    # filtered drill-down
    q = bag_of(v.word(rng, "mid"), v.word(rng, "mid"))
    lang = gen.LANGS[int(rng.integers(len(gen.LANGS)))]
    rec = r.op("filtered", lambda rec: _rows(
        s.filtered(q, {"lang": lang}, k=K), "doc_id", "score"),
        _bm25_check(o, q, eligible=o.lang == lang))
    rec["bag"] = q

    # collapse on repo
    qc = bag_of(v.word(rng, "mid"), v.word(rng, "mid"))

    def collapse_check(got):
        scores = o.bm25(qc)
        best, sizes = {}, {}
        for d, sc in o.ranking(scores):
            rp = o.repo[d - o.base]
            sizes[rp] = sizes.get(rp, 0) + 1
            best.setdefault(rp, (d, sc))
        want = sorted(best.values(), key=lambda t: (-t[1], t[0]))[:K]
        truth = {d: float(scores[d - o.base]) for d, *_ in got}
        return (ranked_ok([(d, sc) for d, sc, _, _ in got], want, truth)
                and all(o.repo[d - o.base] == rp and sizes[rp] == n
                        for d, _, rp, n in got))

    rec = r.op("collapse", lambda rec: _rows(
        s.collapse(qc, "repo", k=K), "doc_id", "score", "repo",
        "group_size"), collapse_check)
    rec["bag"] = qc

    # page 1 then page 2 through the search_after cursor
    qa = bag_of(v.word(rng, "mid"), v.word(rng, "hot"))
    p1 = r.op("after", lambda rec: _rows(s.after(qa, k=K), "doc_id",
                                          "score"),
              _bm25_check(o, qa))
    p1["bag"] = qa

    def page2(rec):
        last = (p1.get("result") or [None])[-1]
        cursor = (last[1], last[0]) if last else None
        rec["cursor"] = cursor
        return _rows(s.after(qa, k=K, after=cursor), "doc_id", "score")

    def page2_check(got):
        if not p1.get("result") or len(p1["result"]) < K:
            return got == []
        scores = o.bm25(qa)
        rank = o.ranking(scores)
        pos = [d for d, _ in rank].index(p1["result"][-1][0])
        return _bm25_check(o, qa, pos + 1, pos + 1 + K)(got)

    rec = r.op("after", page2, page2_check)
    rec["bag"] = qa

    # a results page: top-k, then snippets for those k docs
    stext = " ".join([v.word(rng, "mid"), v.word(rng, "mid")])
    qs = analyze_query(stext)[0]
    src = prep.setdefault("source_docs", r.spark.read.parquet(
        _serve_corpus_dir(r.size)).select("doc_id", "content"))

    def results_page(rec):
        top = r.part(rec, "bm25", lambda: _rows(s.bm25(stext, K),
                                                "doc_id", "score"))
        page = r.spark.createDataFrame(top, "doc_id long, score double")
        snip = r.part(rec, "snippets", lambda: {
            row["doc_id"]: row["snippet"]
            for row in with_snippets(page, src, qs).collect()})
        return top, snip

    def page_check(res):
        top, snip = res
        return (_bm25_check(o, qs)(top) and set(snip) == {d for d, _ in top}
                and all((snip[d] or "") == o.snippet(d, qs) for d in snip))

    rec = r.op("snippets", results_page, page_check)
    rec["bag"], rec["text"] = qs, stext

    # an eval batch through the colocated batch kernel
    stream = v.solo_queries(rng)
    batch = {f"q{i:02d}": next(stream) for i in range(r.size.batch_queries)}
    bags = {qid: analyze_query(t)[0] for qid, t in batch.items()}

    def batch_check(got):
        per: dict[str, list] = {}
        for qid, d, sc, rank in sorted(got, key=lambda t: (t[0], t[3])):
            per.setdefault(qid, []).append((d, sc))
        return set(per) <= set(bags) and all(
            _bm25_check(o, bags[qid])(per.get(qid, [])) for qid in bags)

    rec = r.op("bm25_batch", lambda rec: _rows(
        s.bm25_batch(batch, K), "query_id", "doc_id", "score", "rank"),
        batch_check)
    rec["bag"] = sorted({t for b in bags.values() for t in b})
    rec["bags"] = bags


def _serve_algebra(r: Run, prep):
    """setup_s adds one cycle to the serving set-up, so every surface has
    been called once when the closed loop of whole cycles starts. The
    surfaces differ in cost by an order of magnitude, so the median of all
    their latencies would fall in the gap between two families; op_p50_s
    is instead the median over cycles of the mean operation latency in a
    cycle, which every surface moves by its share of the cycle."""
    s, setup_s, ratio = _serving_setup(r, prep)
    # set-up also makes the first call of every surface (cold plans, the
    # snippet source scan, worker imports); those answers are checked too
    t = time.perf_counter()
    with r.tracer.span("setup.surfaces"):
        _algebra_cycle(r, s, prep)
    setup_s += time.perf_counter() - t
    r.probe_records.extend(r.records)
    r.records = []
    t0 = time.perf_counter()
    per_cycle = []
    while not per_cycle or time.perf_counter() - t0 < r.seconds:
        n0 = len(r.records)
        _algebra_cycle(r, s, prep)
        per_cycle.append(float(np.mean([rec["lat"]
                                        for rec in r.records[n0:]])))
    r.op_latency = median(per_cycle)
    r.measure_wall = time.perf_counter() - t0
    r.mem = live_memory_mb(r.spark)
    if r.trace:
        r.layer["searcher.cached_bytes_end"] = _cached_bytes(r.spark)
        _serving_layers(r, s, prep)
    s.close()
    return setup_s, ratio


def _serving_layers(r: Run, s, prep) -> None:
    """Untimed per-layer probes around the recorded operations: the
    analyzer, the dictionary lookup, the postings each operation touches
    (rows, compressed bytes, files), a driver-side decode of those
    segments, the colocated kernel's candidate count, and the
    identifier-query probe."""
    from pyspark.sql import functions as F
    from spidey_search_engine_spark.functions.analysis import analyze_query
    from spidey_search_engine_spark.operators.build import (
        decode_segment_nopos, load_index)
    from spidey_search_engine_spark.operators.search import (
        bm25_scores_batch_colocated, query_idf)
    o = prep["oracle"]
    idx = load_index(r.spark, os.path.join(prep["dir"], "index"))
    with r.tracer.span("probe.catalog"):
        cat: dict[str, list] = {}
        for row in (idx["postings"].filter(F.col("term").rlike("^[a-z]+$"))
                    .select("term", "segment", "bin",
                            F.input_file_name().alias("f")).collect()):
            cat.setdefault(row["term"], []).append(
                (row["segment"], bytes(row["bin"]), row["f"]))
    an, dl, hit, rows, byts, files, dec_n, dec_s = ([] for _ in range(8))
    cands, per_result = [], []
    cache = s.index.get("idf_cache")
    for rec in r.records:
        bag = rec.get("bag") or []
        if not bag:
            continue
        text = rec.get("text") or " ".join(bag)
        t = time.perf_counter()
        analyze_query(text)
        an.append(time.perf_counter() - t)
        t = time.perf_counter()
        query_idf(s.index["terms"], bag, "idf_bm25", cache)
        dl.append(time.perf_counter() - t)
        uniq = set(bag)
        hit.append(sum(1 for w in uniq if w in cache["idf_bm25"])
                   / len(uniq))
        segs = [e for w in uniq for e in cat.get(w, [])]
        rows.append(len(segs))
        byts.append(sum(len(b) for _, b, _ in segs))
        files.append(len({f for _, _, f in segs}))
        t = time.perf_counter()
        n = sum(decode_segment_nopos(b)[0].size for _, b, _ in segs)
        dec_s.append(time.perf_counter() - t)
        dec_n.append(n)
        if rec["family"] in ("bm25", "bm25_batch", "snippets") \
                and rec["error"] is None:
            bags = rec.get("bags") or {"q": bag}
            with r.tracer.span("probe.kernel"):
                c = bm25_scores_batch_colocated(s.index, bags, K).count()
            cands.append(c)
            res = rec["result"]
            n_res = len(res[0] if rec["family"] == "snippets" else res)
            per_result.append(c / max(1, n_res))
    empty = 0
    for q in IDENTIFIER_QUERIES + (f"file{o.n - 3}",):
        if not s.bm25(q, K).collect():
            empty += 1
    fam = {}
    for rec in r.records:
        fam.setdefault(rec["family"], []).append(rec["lat"])
        for p, v in rec["parts"].items():
            fam.setdefault(f"part.{p}", []).append(v)
    L = r.layer
    L.update({
        "analysis.s_per_query": median(an),
        "analysis.identifier_empty": float(empty),
        "dict.lookup_s": median(dl),
        "dict.cache_hit_frac": float(np.mean(hit)) if hit else 0.0,
        "postings.rows_per_op": float(np.mean(rows)) if rows else 0.0,
        "postings.bytes_per_op": float(np.mean(byts)) if byts else 0.0,
        "postings.files_per_op": float(np.mean(files)) if files else 0.0,
        "decode.postings_per_op": float(np.mean(dec_n)) if dec_n else 0.0,
        "decode.postings_per_s": (sum(dec_n) / sum(dec_s)
                                  if sum(dec_s) > 0 else 0.0),
        "kernel.candidates_per_op": float(np.mean(cands)) if cands else 0.0,
        "kernel.candidates_per_result": (float(np.mean(per_result))
                                         if per_result else 0.0),
        "snippets.s_per_op": median(fam.get("part.snippets", [])),
    })
    for f in ("bm25", "parity", "boolean", "filtered", "collapse", "after",
              "bm25_batch", "snippets"):
        # serve_algebra's bm25 calls are the first part of a results page
        L[f"surface.{f}.p50_s"] = median(fam.get(f) or fam.get(f"part.{f}",
                                                               []))


# ---------------------------------------------------------------------------
# bulk build
# ---------------------------------------------------------------------------

def _pre_build(r: Run):
    pdf = gen.code_corpus(r.size.build_docs, 100_000 + r.seed)
    cdir = os.path.join(r.run_dir, "corpus")
    gen.write_parquet(pdf.drop(columns=["doc_id"]), cdir, 8)
    return {"corpus": cdir, "pdf": pdf, "n": len(pdf),
            "content_bytes": _content_bytes(pdf)}


def _build(r: Run, prep):
    """setup_s = session start + one (cold) corpus scan + starting the
    Python workers. Each operation is a full build_index of the run's
    corpus into a fresh directory; the first one in a process runs with
    cold plans, as a CLI build does."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            load_index)
    from spidey_search_engine_spark.operators.diffing import index_diff
    sz = r.size
    t = time.perf_counter()
    corpus = r.spark.read.parquet(prep["corpus"])
    n = corpus.count()
    _start_python_workers(r.spark)
    setup_s = r.session_s + time.perf_counter() - t
    dirs: list[str] = []

    def one():
        out = os.path.join(r.run_dir, f"build-{len(dirs)}")
        dirs.append(out)
        r.op("build", lambda rec: build_index(
            r.spark, corpus, out, profile="code", seg_bits=sz.build_seg_bits,
            n_buckets=sz.n_buckets), None, items=prep["n"])

    _measure(r, one, sz.min_builds)
    ratio = median(_dir_bytes(d) for d in dirs) / prep["content_bytes"]
    first = load_index(r.spark, dirs[0])
    for rec, d in zip(r.records, dirs):
        res = rec.get("result")
        ok = res is not None and int(res["n_docs"]) == n
        if ok and d != dirs[0]:
            ok = index_diff(first, load_index(r.spark, d))["equal"]
        rec["check"] = lambda res, ok=ok: ok
    _build_queries(r, prep, first)
    if r.trace:
        probe = _build_layers(r, corpus, dirs)
        r.probe("build.probe_diff", lambda: index_diff(
            first, load_index(r.spark, probe))["equal"], lambda eq: eq)
        _ingest_probe(r)
    return setup_s, ratio


def _build_queries(r: Run, prep, idx) -> None:
    """Untimed, checked: a two-word BM25 query from each df band over the
    run's first build (the CLI path, bm25_topk), scored against an oracle
    of the build corpus. The engine assigned the doc ids, so its answers
    are mapped to the oracle's through the doc store's unique paths."""
    from spidey_search_engine_spark.operators.search import bm25_topk
    o = Oracle(prep["pdf"], [])
    v = Vocab(o)
    path_of = dict(_rows(idx["docs"], "doc_id", "path"))
    id_of = {p: int(d) for d, p in zip(o.doc_ids, o.path)}
    for band in ("hot", "mid", "rare"):
        if not v.bands[band]:
            continue
        text = f"{v.word(r.rng, band)} {v.word(r.rng, band)}"
        rec = r.probe("build.query", lambda text=text: [
            (id_of.get(path_of.get(d), -1), sc) for d, sc in
            _rows(bm25_topk(r.spark, idx, text, K), "doc_id", "score")],
            _bm25_check(o, _bag(text)))
        rec["bag"], rec["text"] = _bag(text), text


def _start_python_workers(spark) -> None:
    """One Python task per core that imports the build module, so the
    measured build does not pay for forking and importing its workers."""
    n = spark.sparkContext.defaultParallelism

    def touch(batches):
        import spidey_search_engine_spark.operators.build  # noqa: F401
        yield from batches

    (spark.range(n).repartition(n).mapInPandas(touch, "id long")
     .write.format("noop").mode("overwrite").save())


def _build_layers(r: Run, corpus, dirs) -> str:
    """Prefix pipelines of build_index's public parts into the noop sink
    (prepare_docs -> build_partials -> merge_partials), then one more
    build_index (span `probe.build`), whose directory is returned. The
    measured build is the first in its process, so the stage split that is
    compared with the (warm) prefix pipelines comes from this warm probe
    build."""
    from spidey_search_engine_spark.operators.build import (build_index,
                                                            build_partials,
                                                            merge_partials,
                                                            prepare_docs)
    sz = r.size

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    pre = {}
    for name, mk in (
            ("prepare", lambda: prepare_docs(corpus)),
            ("partials", lambda: build_partials(
                prepare_docs(corpus), profile="code",
                seg_bits=sz.build_seg_bits)),
            ("merge", lambda: merge_partials(
                build_partials(prepare_docs(corpus), profile="code",
                               seg_bits=sz.build_seg_bits),
                n_buckets=sz.n_buckets, doclen_bucket=sz.n_buckets))):
        with r.tracer.span(f"probe.prefix.{name}"):
            t = time.perf_counter()
            noop(mk())
            pre[name] = time.perf_counter() - t
    out = os.path.join(r.run_dir, "probe-build")
    with r.tracer.span("probe.build"):
        build_index(r.spark, corpus, out, profile="code",
                    seg_bits=sz.build_seg_bits, n_buckets=sz.n_buckets)
    r.layer.update({
        "build.prefix_prepare_s": pre["prepare"],
        "build.prefix_partials_s": pre["partials"],
        "build.prefix_merge_s": pre["merge"],
        "build.files_written": float(_parquet_files(dirs[0])),
        "build.postings_bytes": float(_dir_bytes(
            os.path.join(dirs[0], "postings"))),
    })
    return out


# ---------------------------------------------------------------------------
# near-real-time ingest
# ---------------------------------------------------------------------------

_SCHEMA = ("doc_id long, repo string, path string, commit string, "
           "lang string, content string")


def _pre_ingest(r: Run):
    base = gen.code_corpus(r.size.ingest_base, 200_000 + r.seed)
    d = {k: os.path.join(r.run_dir, "ingest", k)
         for k in ("src", "idx", "ck")}
    os.makedirs(d["src"], exist_ok=True)
    return {"base": base, **d}


def _land(pdf, src: str, name: str) -> None:
    """Atomic arrival of one parquet file in the stream source."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tmp = os.path.join(src, f".{name}.tmp")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.rename(tmp, os.path.join(src, f"{name}.parquet"))


def _marker(rng) -> str:
    lex = set(gen.lexicon())
    while True:
        w = "zq" + "".join(gen._SYL[int(i)]
                           for i in rng.integers(len(gen._SYL), size=3))
        if w not in lex:
            return w


def _ingest(r: Run, prep):
    """setup_s = session start + landing and streaming the base, then its
    publish (once: the cycles continue from its checkpoint). Each operation
    lands a delta, appends it through the stream, publishes (compacting
    past the file threshold), then runs the cold CLI query path."""
    from spidey_search_engine_spark.functions.analysis import analyze_query
    from spidey_search_engine_spark.operators.build import load_index
    from spidey_search_engine_spark.operators.search import bm25_topk
    from spidey_search_engine_spark.streaming import incremental as inc
    sz, sp = r.size, r.spark
    kw = dict(profile="code", seg_bits=sz.ingest_seg_bits,
              n_buckets=sz.n_buckets)

    def append():
        stream = sp.readStream.schema(_SCHEMA).parquet(prep["src"])
        q = inc.append_index_stream(sp, stream, prep["idx"],
                                    checkpoint=prep["ck"], **kw)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def publish():
        return inc.publish_index(sp, prep["idx"],
                                 compact_files_threshold=sz.compact_threshold,
                                 **kw)

    t = time.perf_counter()
    _land(prep["base"], prep["src"], "base")
    append()
    publish()
    setup_s = r.session_s + time.perf_counter() - t
    content = _content_bytes(prep["base"])
    next_id = [sz.ingest_base]

    def cycle():
        lo = next_id[0]
        drng = np.random.Generator(np.random.PCG64([r.seed, lo]))
        marker = _marker(drng)
        chosen = drng.choice(sz.ingest_delta,
                             size=max(2, sz.ingest_delta // 32),
                             replace=False)
        marked = {lo + int(i): marker for i in chosen}
        delta = gen.code_corpus(sz.ingest_delta, 300_000 + r.seed + lo,
                                first_id=lo, markers=marked)
        next_id[0] = lo + sz.ingest_delta
        nonlocal_content[0] += _content_bytes(delta)
        (term,) = analyze_query(marker)[0]

        def op(rec):
            r.part(rec, "land", lambda: _land(delta, prep["src"],
                                              f"delta-{lo}"))
            r.part(rec, "append", append)
            rec["publish"] = r.part(rec, "publish", publish)
            idx = r.part(rec, "load", lambda: load_index(sp, prep["idx"]))
            return r.part(rec, "query", lambda: _rows(
                bm25_topk(sp, idx, marker, K), "doc_id", "score"))

        def check(got):
            return (len(got) == min(K, len(marked))
                    and {d for d, _ in got} <= set(marked))

        rec = r.op("ingest", op, check, items=sz.ingest_delta)
        rec["bag"] = [term]

    nonlocal_content = [content]
    _measure(r, cycle, sz.min_cycles)
    ratio = _dir_bytes(prep["idx"]) / nonlocal_content[0]
    r.layer["ingest.postings_files"] = float(
        _parquet_files(os.path.join(prep["idx"], "postings")))
    return setup_s, ratio


def _ingest_probe(r: Run) -> None:
    """The ingest workload run inside a traced build run, so its layers
    (stream append, publish and compaction, cold load and query) are
    measured on a listed workload. Its cycles are checked like any
    operation but kept out of the build's operation statistics."""
    timed, wall, mem = r.records, r.measure_wall, r.mem
    r.records = []
    try:
        with r.tracer.span("probe.ingest"):
            _ingest(r, _pre_ingest(r))
    finally:
        r.probe_records.extend(r.records)
        r.records = timed
        r.measure_wall, r.mem = wall, mem


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------

PER_LAYER_ZERO = (
    "searcher.warm_s", "searcher.cached_bytes", "searcher.cached_bytes_end",
    "analysis.s_per_query",
    "analysis.identifier_empty", "dict.lookup_s", "dict.cache_hit_frac",
    "postings.rows_per_op", "postings.bytes_per_op", "postings.files_per_op",
    "decode.postings_per_op", "decode.postings_per_s", "kernel.s_per_op",
    "kernel.candidates_per_op", "kernel.candidates_per_result",
    "snippets.s_per_op",
    *[f"surface.{f}.p50_s" for f in ("bm25", "parity", "boolean",
                                     "filtered", "collapse", "after",
                                     "bm25_batch", "snippets")],
    "build.prefix_prepare_s", "build.prefix_partials_s",
    "build.prefix_merge_s", "build.tokenize_exec_s", "build.partials_rows",
    "build.partials_bytes", "build.shuffle_bytes", "build.merge_exec_s",
    "build.merge_tasks", "build.merge_task_skew", "build.write_s",
    "build.publish_s", "build.files_written", "build.postings_bytes",
    "ingest.append_s", "ingest.jobs_per_delta", "ingest.tasks_per_delta",
    "ingest.publish_s", "ingest.compactions", "ingest.compaction_s",
    "ingest.bytes_rewritten", "ingest.postings_files", "ingest.load_s",
    "ingest.cold_query_s",
)


def _layers(r: Run, controls: dict, noop: list) -> dict:
    tr = r.tracer
    log = EventLog(os.path.join(r.run_dir, "eventlog"))
    by_span = log.assign(tr)
    ops = [rec["span"] for rec in r.records]
    L = {k: 0.0 for k in PER_LAYER_ZERO}
    L.update(r.layer)
    L.update(op_counters(tr, by_span, ops))
    L["spark.noop_job_s"] = median(noop)
    L["control.tpch_q1_s"] = controls["tpch_q1_s"]
    L["control.window_running_sum_s"] = controls["window_running_sum_s"]
    L["trace.op_p50_s"] = r.op_latency
    L["trace.spans"] = float(len(tr.spans))
    # kernel: stages after the exchange that run the Python kernel
    ks = [sum(st["end"] - st["start"]
              for j in span_jobs(tr, by_span, s["id"]) for st in j["stages"]
              if st["shuffle_read"] > 0 and "MapInPandas" in st["scopes"])
          for s in ops]
    L["kernel.s_per_op"] = float(np.mean(ks)) if ks else 0.0
    # one operation's wall time split by layer: the last measured one,
    # whose set-up effects (worker start, first plans) are furthest behind
    last = ops[-1]
    att = attribute(last, span_jobs(tr, by_span, last["id"]))
    for k, v in att.items():
        L[f"attrib.{k}"] = v
    L["attrib.child_spans_s"] = sum(c["end"] - c["start"]
                                    for c in tr.children(last["id"]))
    L["attrib.op_self_s"] = tr.self_time(last["id"])
    if r.workload == "build":
        _build_event_layers(L, tr, by_span)
    ingest = [rec for rec in r.records + r.probe_records
              if rec["family"] == "ingest"]
    if ingest:
        _ingest_event_layers(L, tr, by_span, ingest)
    r.summary["attrib_last_op"] = {k: round(v, 4) for k, v in att.items()}
    return L


def _build_event_layers(L, tr, by_span) -> None:
    """Stage split of the warm probe build: the corpus-reading Python stage
    that writes the shuffle is tokenize -> partials; the shuffle-reading
    Python stage is merge + compress + postings write; everything after
    it is the publish (read-back, stats, docs, terms)."""
    s = next(sp for sp in tr.spans if sp["name"] == "probe.build")
    jobs = sorted(span_jobs(tr, by_span, s["id"]), key=lambda j: j["submit"])
    tok = [st for j in jobs for st in j["stages"]
           if st["input_bytes"] > 0 and st["shuffle_write"] > 0
           and "MapInPandas" in st["scopes"]]
    mrg = [st for j in jobs for st in j["stages"]
           if st["shuffle_read"] > 0 and "MapInPandas" in st["scopes"]
           and st["shuffle_write"] == 0]
    if tok:
        t = max(tok, key=lambda st: st["shuffle_write"])
        L["build.tokenize_exec_s"] = t["end"] - t["start"]
        L["build.partials_rows"] = t["shuffle_records"]
        L["build.partials_bytes"] = t["shuffle_write"]
    L["build.shuffle_bytes"] = float(sum(
        st["shuffle_read"] + st["shuffle_write"]
        for j in jobs for st in j["stages"]))
    if mrg:
        m = max(mrg, key=lambda st: st["shuffle_read"])
        L["build.merge_exec_s"] = m["end"] - m["start"]
        L["build.merge_tasks"] = float(m["tasks"])
        ts = sorted(m["task_s"])
        L["build.merge_task_skew"] = (ts[-1] / statistics.median(ts)
                                      if ts and statistics.median(ts) > 0
                                      else 0.0)
        # the postings write is what the build spends up to the end of its
        # merge stage beyond the same pipeline into the noop sink
        L["build.write_s"] = max(
            0.0, m["end"] - s["start"] - L["build.prefix_merge_s"])
        L["build.publish_s"] = s["end"] - m["end"]


def _compaction(tr, by_span, publish_span) -> tuple[float, float]:
    """(seconds, postings bytes read) of the compaction inside one publish
    span. publish_index writes the terms table first; the jobs after that
    write, up to the next file-writing job, are the compaction (a range
    sample, then the range exchange of every posting row and its write)."""
    jobs = sorted(span_jobs(tr, by_span, publish_span["id"]),
                  key=lambda j: j["submit"])
    writes = [i for i, j in enumerate(jobs)
              if any("WriteFiles" in st["scopes"] for st in j["stages"])]
    if len(writes) < 2:
        return 0.0, 0.0
    comp = jobs[writes[0] + 1:writes[1] + 1]
    stages = [st for j in comp for st in j["stages"]]
    end = max(st["end"] for st in comp[-1]["stages"])
    moved = max(stages, key=lambda st: st["shuffle_write"])
    return end - comp[0]["submit"], moved["input_bytes"]


def _ingest_event_layers(L, tr, by_span, records) -> None:
    parts: dict[str, list] = {}
    for rec in records:
        for k, v in rec["parts"].items():
            parts.setdefault(k, []).append(v)
    app = [c for rec in records for c in tr.children(rec["span"]["id"])
           if c["name"] == "append"]
    jobs = [span_jobs(tr, by_span, s["id"]) for s in app]
    # publish_index reports each compaction it ran in its return value
    comp = [_compaction(tr, by_span, c) for rec in records
            if (rec.get("publish") or {}).get("compacted_chunks", 0) > 1
            for c in tr.children(rec["span"]["id"]) if c["name"] == "publish"]
    L.update({
        "ingest.append_s": median(parts.get("append", [])),
        "ingest.publish_s": median(parts.get("publish", [])),
        "ingest.load_s": median(parts.get("load", [])),
        "ingest.cold_query_s": median(parts.get("query", [])),
        "ingest.jobs_per_delta": float(np.mean([len(j) for j in jobs]))
        if jobs else 0.0,
        "ingest.tasks_per_delta": float(np.mean(
            [sum(st["tasks"] for x in j for st in x["stages"])
             for j in jobs])) if jobs else 0.0,
        "ingest.compactions": float(len(comp)),
        "ingest.compaction_s": float(np.mean([c[0] for c in comp]))
        if comp else 0.0,
        "ingest.bytes_rewritten": float(np.mean([c[1] for c in comp]))
        if comp else 0.0,
    })
