#!/usr/bin/env python3
"""Search-service benchmark: one closed-loop client against the packed index.

    python3 searchbench/run.py --workload local-zipf --seed 1 --seconds 10 --trace 0

Builds its inputs from --seed, sets the engine up through its public API
(``corpus``, ``index.segment``, ``streaming.nrt``,
``search.wand.SegmentSearcher``), asks the independent oracle
(``oracle.py``, its own process) for the answers, then replays whole rounds
of the same operations for --seconds and checks every answer.  The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with --trace 0, per-layer ones with
--trace 1).  The line before it gives attempted/failed per operation kind.

Workloads, operation mix and metric definitions: README.md next to this file.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict

import numpy as np

from check import error_text

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

K = 10
BATCH_TERMS = 16
ABSENT = "zz_absent_term"  # in no doc of any workload
CONJ_CANDIDATES = 12
SETUP_BUILDS = 4  # set-up builds the index this often; setup_s takes the median
READ_MERGES = 4  # read workload: merges after the timed rounds
NRT_BATCH_DOCS = 1000
NRT_DELETES = 20
NRT_DELETES_OWN = 4  # of them from the cycle's own batch (README: merges)
NRT_CYCLES_PER_ROUND = 2
NRT_MAX_ROUNDS = 8
NRT_CONJ_TOP_RANKS = 100  # such terms occur in every 1000-doc segment
# operations that fail every time because of a known engine fault
KNOWN_FAULTS = {
    "topk_conj_missing": "conjunctive top-k scores segments that lack a required term",
    "empty_shard": "build_segments over zero rows raises UNABLE_TO_INFER_SCHEMA",
}
# the kinds whose latencies are metrics; each is summarised per query as
# the best of its repeats (README: "Timing")
READ_KINDS = ("topk", "topk_spark", "refresh", "phrase", "count", "batch")

CORPUS_COLS = ["doc_id", "repo", "path", "commit", "lang", "content"]
# "rounds": rounds every run plays at least, so that each query has repeats
WORKLOADS = {
    "local-zipf": {"docs": 50_000, "segments": 8, "dist": "zipf", "rounds": 4},
    "nrt-ingest": {"docs": 20_000, "segments": 8, "dist": "uniform", "rounds": 2},
}


# ------------------------------------------------------------------ inputs


class Draw:
    """Seeded query inputs.  Terms are a Zipf(1.3) draw over the vocabulary's
    frequency ranks (the corpus generator's own skew: VOCAB[0] is its most
    frequent term).  Draws are stratified per stream: each block of
    STRATA uniforms covers every 1/STRATA slice of [0, 1) once, and each
    block of small counts covers every count once.  Every draw keeps its
    distribution; what a run samples varies less from seed to seed."""

    STRATA = 4

    def __init__(self, seed: int, vocab: list[str]):
        self.rng = np.random.default_rng(seed)
        self.vocab = vocab
        w = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.3
        self.cdf = np.cumsum(w) / w.sum()
        self.pending: dict[str, list] = defaultdict(list)

    def _next(self, stream: str, block) -> float:
        buf = self.pending[stream]
        if not buf:
            buf.extend(block())
        return buf.pop()

    def rank(self, stream: str, top: int | None = None) -> int:
        k = self.STRATA
        u = self._next(stream, lambda: ((self.rng.permutation(k) + self.rng.random(k)) / k).tolist())
        hi = self.cdf[top - 1] if top else 1.0
        return int(np.searchsorted(self.cdf, u * hi, side="right"))

    def terms(self, n: int, stream: str, top: int | None = None) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = self.vocab[min(self.rank(stream, top), len(self.vocab) - 1)]
            if t not in out:
                out.append(t)
        return out

    def n(self, lo: int, hi: int, stream: str) -> int:
        return int(self._next(stream, lambda: self.rng.permutation(np.arange(lo, hi + 1)).tolist()))

    def absent_terms(self) -> list[str]:
        # next to one of the ten most frequent terms, inside every segment's
        # term range, so row-group statistics cannot prune them and they take
        # the same path as other queries
        return [f"{self.vocab[int(self.rng.integers(10))]}_zq{self.rng.integers(10**9):09d}"
                for _ in range(self.n(1, 2, "nabsent"))]


def phrase_query(d: Draw, i: int) -> dict:
    """An exact phrase (even i) or an ordered-near pair (odd i).  Each side
    of the pair has its own stratified stream, so that the share of pairs
    holding the head term, which run about twice as long, varies little
    from seed to seed."""
    a = d.terms(1, "pair_a")[0]
    b = a
    while b == a:
        b = d.terms(1, "pair_b")[0]
    if i % 2 == 0:
        return {"kind": "phrase", "terms": [a, b], "slop": 0}
    return {"kind": "near", "terms": [a, b], "slop": d.n(1, 3, "slop")}


def disj(d: Draw, stream: str) -> dict:
    return {"terms": d.terms(d.n(1, 3, "n" + stream), stream), "conj": False}


def read_round(d: Draw) -> list[tuple[str, dict]]:
    """The round the read workload replays (56 operations, fixed kinds)."""
    ops = [("refresh", disj(d, "refresh")) for _ in range(2)]
    ops += [("topk", {"terms": d.absent_terms(), "conj": False}) for _ in range(2)]
    # one top-k in four is conjunctive; the oracle picks one candidate each,
    # half of them with 0 < hits < k
    ops += [("topk", {"cands": [{"terms": d.terms(d.n(2, 3, "nconj"), "conj"), "conj": True}
                                for _ in range(CONJ_CANDIDATES)],
                      "few": i % 2 == 0})
            for i in range(10)]
    ops += [("topk", disj(d, "topk")) for _ in range(28)]
    ops += [("topk_spark", disj(d, "spark")) for _ in range(3)]
    ops += [("phrase", phrase_query(d, i)) for i in range(4)]
    ops += [("count", disj(d, "count")) for _ in range(2)]
    ops += [("count", {"terms": d.terms(d.n(2, 3, "ncountc"), "countc"), "conj": True})
            for _ in range(2)]
    ops += [("batch", {"terms": d.terms(BATCH_TERMS, "batch")}) for _ in range(2)]
    ops.append(("topk_conj_missing", {"terms": [d.vocab[0], ABSENT], "conj": True}))
    order = d.rng.permutation(len(ops))
    return [ops[i] for i in order]


def nrt_reads(d: Draw) -> list[tuple[str, dict]]:
    """The reads every ingest cycle replays on its reopened searcher; the
    marker count and the fault operation name the cycle's own marker."""
    reads = []
    for i in range(32):
        if i % 4 == 2:  # one query in four is conjunctive
            terms = d.terms(d.n(2, 3, "nconj"), "conj", NRT_CONJ_TOP_RANKS)
            reads.append(("topk", {"terms": terms, "conj": True}))
        else:
            reads.append(("topk", disj(d, "topk")))
    reads += [("topk_spark", disj(d, "spark")) for _ in range(2)]
    reads += [("phrase", phrase_query(d, i)) for i in range(4)]
    reads += [("count", disj(d, "count")) for _ in range(2)]
    reads.append(("count", {"marker": True, "conj": False}))
    reads += [("batch", {"terms": d.terms(BATCH_TERMS, "batch")}) for _ in range(2)]
    reads.append(("topk_conj_missing", {"marker": True, "conj": True, "k": 2 * NRT_BATCH_DOCS}))
    return reads


def nrt_cycle(d: Draw, c: int, id0: int, live: list[int], reads) -> dict:
    """Inputs of one ingest cycle: a fresh contiguous id range, a marker
    token, deletes drawn from the live docs, and the reads that follow."""
    marker = f"batch_marker_{c}"
    first = id0 + c * NRT_BATCH_DOCS
    own = d.rng.choice(NRT_BATCH_DOCS, NRT_DELETES_OWN, replace=False) + first
    older = [x for x in live if x < first]
    dels = sorted(int(x) for x in [*own, *d.rng.choice(older, NRT_DELETES - NRT_DELETES_OWN,
                                                        replace=False)])
    mine = []
    for kind, q in reads:
        if q.get("marker"):
            q = dict(q, terms=[d.vocab[0], marker] if q["conj"] else [marker])
        mine.append((kind, q))
    return {"c": c, "marker": marker, "ids": (first, first + NRT_BATCH_DOCS),
            "deletes": dels, "reads": mine}


# ------------------------------------------------------------------ helpers


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, but not
    below the median (with fewer than 21 samples it is the median)."""
    s = sorted(xs)
    return s[max(len(s) - 11, len(s) // 2)] if s else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total


def rss_mb() -> float:
    gc.collect()  # what the process holds, not garbage it has yet to free
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmRSS in /proc/self/status")


def rows_of(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def batch_rows(df) -> dict[str, list]:
    per: dict[str, list] = defaultdict(list)
    for r in df.collect():
        per[r["query_term"]].append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {t: [(dd, s) for _r, dd, s in sorted(v)] for t, v in per.items()}


def on_spark(fn):
    """Run `fn` while the coordinator's one query slot is taken, as under
    concurrent load: ``SegmentSearcher.search`` then overflows to Spark."""
    from lucene_solr_intervals_spark.search import wand

    def run():
        with wand._DRIVER_EXEC_SLOTS:
            return fn()

    return run


def corpus_key() -> str:
    """Names the generator a cached corpus came from, so that a change to
    ``corpus.py`` (vocabulary, distributions, ``make_row``) regenerates it."""
    from lucene_solr_intervals_spark import corpus

    with open(corpus.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def call_oracle(work: str, req: dict, bitmaps: bool = False):
    req_path = os.path.join(work, "oracle_req.json")
    ans_path = os.path.join(work, "oracle_ans.json")
    bits_path = os.path.join(work, "oracle_bits.npz")
    with open(req_path, "w") as f:
        json.dump(req, f)
    cmd = [sys.executable, os.path.join(HERE, "oracle.py"), req_path, ans_path]
    if bitmaps:
        cmd.append(bits_path)
    t0 = time.perf_counter()
    subprocess.run(cmd, check=True, timeout=170)
    print(f"oracle: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(ans_path) as f:
        ans = json.load(f)
    bits = None
    if bitmaps:
        with np.load(bits_path) as z:
            doc_ids = z["doc_ids"]
            bits = {k: np.unpackbits(z[k])[: doc_ids.size].astype(bool)
                    for k in z.files if k != "doc_ids"}
        bits = (doc_ids, bits)
    return ans, bits


# ------------------------------------------------------------------ engine


class Bench:
    def __init__(self, args, scratch: str, work: str):
        self.args = args
        self.scratch = scratch
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.ops: list[dict] = []  # one record per attempted operation
        self.extra: dict[str, list[float]] = defaultdict(list)
        self.units: list[tuple[bool, float]] = []  # (traced, wall s)
        self.topk_path: dict[str, str] = {}  # kind -> "local" or "spark"
        from layers import Tracer

        self.tr = Tracer(bool(args.trace))

    # -------------------------------------------------------------- setup
    def start(self):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        cpus = os.cpu_count() or 1
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": "3g",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
        })
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            self.events = os.path.join(self.work, "events")
            os.makedirs(self.events)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.events,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        from lucene_solr_intervals_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="searchbench", master=f"local[{cpus}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        if self.args.trace:
            self.tr.spark = self.spark
        self.tr.install()

    def build(self, n_docs: int, n_segments: int, dist: str):
        """Build the index SETUP_BUILDS times, each into its own directory;
        the last one serves the run."""
        from lucene_solr_intervals_spark.corpus import generate_corpus
        from lucene_solr_intervals_spark.index.segment import build_segments

        # The corpus does not depend on the seed: it is generated once per
        # checkout and kept.  Regenerating and deleting it every run would
        # cost seconds per run (deleting written data is slow on a disk
        # mounted with online discard).
        self.corpus_key = corpus_key()
        corpus_dir = os.path.join(self.scratch, f"corpus-{dist}-{n_docs}-{self.corpus_key}")
        if not os.path.exists(corpus_dir):
            tmp = os.path.join(self.work, "corpus")
            t0 = time.perf_counter()
            generate_corpus(self.spark, n_docs, distribution=dist).write.parquet(tmp)
            os.rename(tmp, corpus_dir)
            print(f"corpus generated: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        self.build_s = []
        for i in range(SETUP_BUILDS):
            self.index = os.path.join(self.work, f"index-{i}")
            t0 = time.perf_counter()
            with self.tr.op("build"):
                build_segments(
                    self.spark.read.parquet(corpus_dir), self.index,
                    n_segments=n_segments, id_col="doc_id", text_col="content",
                    n_docs_hint=n_docs,
                )
            self.build_s.append(time.perf_counter() - t0)
            # let Spark's cleaner drop the build's shuffle files while they
            # are young and cheap to delete, not at session stop
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
        self.build_docs_per_s = n_docs / min(self.build_s)
        print("builds: " + " ".join(f"{s:.2f}" for s in self.build_s) + " s", file=sys.stderr)
        # the oracle reads the same files the engine indexed
        self.base_docs = [{"parquet": os.path.join(corpus_dir, f)}
                          for f in sorted(os.listdir(corpus_dir)) if f.endswith(".parquet")]

    def opened(self, t0: float):
        """setup_s: session start, the median build, and opening and warming
        the searcher (timed from t0)."""
        self.setup_s = self.session_s + median(self.build_s) + time.perf_counter() - t0
        print(f"setup: session {self.session_s:.1f} total {self.setup_s:.1f} s", file=sys.stderr)

    def oracle(self, req: dict, bitmaps: bool = False):
        """Ask the oracle; meanwhile delete what earlier runs left behind
        (I/O-bound, it overlaps the oracle's computing, and nothing is timed)."""
        old = [os.path.join(self.scratch, d) for d in os.listdir(self.scratch)
               if d.startswith("done-")
               or d.startswith("corpus-") and not d.endswith(self.corpus_key)]
        t = threading.Thread(target=lambda: [shutil.rmtree(d, ignore_errors=True) for d in old])
        t.start()
        try:
            return call_oracle(self.work, req, bitmaps)
        finally:
            t.join()

    # -------------------------------------------------------------- ops
    def attempt(self, kind: str, fn, traced: bool = True, **rec):
        """Run one timed operation; record its result or its exception."""
        t0 = time.perf_counter()
        try:
            with self.tr.op(kind, traced):
                out = fn()
            err = None
        except Exception as ex:  # an operation's failure is data, not a crash
            out, err = None, error_text(ex)
        ms = (time.perf_counter() - t0) * 1000.0
        self.ops.append(dict(rec, kind=kind, ms=ms, out=out, err=err, traced=traced))
        return out

    def read_op(self, s, kind: str, q: dict, traced: bool, **rec):
        from lucene_solr_intervals_spark.search import queries as Q

        if kind in ("topk", "topk_spark", "topk_conj_missing"):
            fn = lambda: rows_of(s.search(q["terms"], k=q.get("k", K), conjunctive=q["conj"]))
            if kind == "topk_spark":
                fn = on_spark(fn)
        elif kind == "refresh":
            def fn():
                from lucene_solr_intervals_spark.search.wand import SegmentSearcher

                fresh = SegmentSearcher(self.spark, self.index)
                return rows_of(fresh.search(q["terms"], k=K, conjunctive=q["conj"]))
        elif kind == "phrase":
            a, b = q["terms"]
            if q["kind"] == "phrase":
                query = Q.Phrase((a, b))
            else:
                query = Q.OrderedNear(q["slop"], (Q.Term(a), Q.Term(b)))
            fn = lambda: rows_of(s.search_intervals(query, k=K))
        elif kind == "count":
            fn = lambda: s.count(q["terms"], conjunctive=q["conj"])
        elif kind == "batch":
            fn = lambda: batch_rows(s.search_many(q["terms"], k=K))
        else:
            raise ValueError(kind)
        return self.attempt(kind, fn, traced, q=q, **rec)

    def warm(self, s):
        from lucene_solr_intervals_spark.corpus import VOCAB
        from lucene_solr_intervals_spark.search import queries as Q

        s.search(VOCAB[:3], k=K).collect()
        s.search(VOCAB[5:7], k=K, conjunctive=True).collect()
        on_spark(lambda: s.search(VOCAB[3:5], k=K).collect())()
        s.search_intervals(Q.Phrase((VOCAB[0], VOCAB[1])), k=K).collect()
        s.search_intervals(Q.OrderedNear(2, (Q.Term(VOCAB[2]), Q.Term(VOCAB[3]))), k=K).collect()
        s.count(VOCAB[:2])
        s.search_many(VOCAB[10 : 10 + BATCH_TERMS], k=K).collect()

    def merge_smallest(self, n: int = 2):
        """Merge the n smallest live segments; returns (docs, seconds)."""
        from lucene_solr_intervals_spark.index.segment import merge_segments, read_manifest

        m = read_manifest(self.index)
        live = sorted((x for x in m["segments"] if x["status"] == "done"),
                      key=lambda x: (x["n_docs"], x["seg"]))[:n]
        new_seg = 1 + max(x["seg"] for x in m["segments"])
        t0 = time.perf_counter()
        merge_segments(self.spark, self.index, [x["seg"] for x in live], new_seg)
        return sum(x["n_docs"] for x in live), time.perf_counter() - t0

    def topk_route(self, s, terms, kind: str) -> None:
        """Where one top-k of `kind` runs now: "local" (in the coordinator)
        or "spark"; warns when it is not where the kind is meant to run."""
        from lucene_solr_intervals_spark.search import wand

        inner, ran_local = wand._driver_topk, []

        def probe(*a, **kw):
            r = inner(*a, **kw)
            ran_local.append(r is not None)  # None: the query goes to Spark
            return r

        fn = lambda: s.search(terms, k=K).collect()
        wand._driver_topk = probe
        try:
            (on_spark(fn) if kind == "topk_spark" else fn)()
        finally:
            wand._driver_topk = inner
        path = self.topk_path[kind] = "local" if any(ran_local) else "spark"
        want = "spark" if kind == "topk_spark" else "local"
        if path != want:
            print(f"WARNING: {self.args.workload} {kind} now runs on the {path} path, "
                  f"not the {want} path it is meant to measure", file=sys.stderr)

    def index_state(self):
        """index.segments_live and index.superseded_bytes right now."""
        from lucene_solr_intervals_spark.index.segment import read_manifest

        m = read_manifest(self.index)
        self.segments_live = sum(1 for x in m["segments"] if x["status"] == "done")
        self.superseded_bytes = sum(
            dir_bytes(os.path.join(self.index, part, f"seg={x['seg']}"))
            for x in m["segments"] if x["status"] != "done"
            for part in ("postings", "docs", "norms")
        )

    def rounds_left(self, r: int, t_end: float) -> bool:
        """Play whole rounds: at least the workload's minimum, then until
        --seconds have passed; a traced run ends on a traced/untraced pair."""
        return r < self.spec["rounds"] or time.perf_counter() < t_end or bool(self.args.trace and r % 2)

    # -------------------------------------------------------------- read
    def run_read(self):
        from lucene_solr_intervals_spark.corpus import VOCAB
        from lucene_solr_intervals_spark.index.segment import read_manifest
        from lucene_solr_intervals_spark.search.wand import SegmentSearcher

        spec = self.spec
        d = Draw(self.args.seed, VOCAB)
        rnd = read_round(d)
        self.build(spec["docs"], spec["segments"], spec["dist"])
        segs = [[x["doc_base"], x["n_docs"]] for x in read_manifest(self.index)["segments"]]

        req = {"docs": self.base_docs, "workers": min(4, os.cpu_count() or 1),
               "k": K, "segments": segs, "topk": [], "phrase": [], "count": [], "batch": []}
        slot = {"topk": "topk", "topk_spark": "topk", "refresh": "topk",
                "topk_conj_missing": "topk", "phrase": "phrase", "count": "count", "batch": "batch"}
        for i, (kind, q) in enumerate(rnd):
            key = slot[kind]
            rnd[i] = (kind, q, len(req[key]))
            req[key].append(q["terms"] if key == "batch" else q)
        ans, _ = self.oracle(req)
        for i, (kind, q, j) in enumerate(rnd):  # the oracle chose among conjunction candidates
            if slot[kind] == "topk":
                q = {"terms": ans["topk"][j]["terms"], "conj": ans["topk"][j]["conj"]}
            rnd[i] = (kind, q, j)

        t0 = time.perf_counter()
        s = SegmentSearcher(self.spark, self.index)
        self.warm(s)
        self.opened(t0)

        t_end = time.perf_counter() + self.args.seconds
        r = 0
        while self.rounds_left(r, t_end):
            # traced runs alternate traced and untraced rounds (T U U T ...),
            # so the pairs' walls give the tracing overhead
            traced = (r + r // 2) % 2 == 0
            t0 = time.perf_counter()
            for qid, (kind, q, j) in enumerate(rnd):
                self.read_op(s, kind, q, traced, j=j, qid=qid)
            self.units.append((traced, time.perf_counter() - t0))
            r += 1
        self.rss = rss_mb()
        self.rounds = r
        print(f"measure: {r} rounds, {time.perf_counter() - t_end + self.args.seconds:.1f} s",
              file=sys.stderr)
        self.topk_route(s, VOCAB[:2], "topk")
        self.topk_route(s, VOCAB[:2], "topk_spark")
        self.index_state()
        self.index_ratio = dir_bytes(self.index) / sum(ans["text_bytes"])
        # merges after the timed reads: merge throughput, counts unchanged
        before = s.count([VOCAB[0]]), s.count(VOCAB[1:3], conjunctive=True)
        for _ in range(READ_MERGES):
            with self.tr.op("merge"):
                n, sec = self.merge_smallest(2)
            self.extra["merge_docs_per_s"].append(n / sec)
        after_s = SegmentSearcher(self.spark, self.index)
        after = after_s.count([VOCAB[0]]), after_s.count(VOCAB[1:3], conjunctive=True)
        self.merge_errors = [] if before == after else [f"counts {before} before merge, {after} after"]

        from check import check_count, check_ranked

        for op in self.ops:
            if op["err"] is not None:
                continue
            kind, q, j = op["kind"], op["q"], op["j"]
            if slot[kind] == "topk":
                op["why"] = check_ranked(op["out"], ans["topk"][j], K)
            elif kind == "phrase":
                op["why"] = check_ranked(op["out"], ans["phrase"][j], K)
            elif kind == "count":
                op["why"] = check_count(op["out"], ans["count"][j])
            elif kind == "batch":
                errs = [
                    f"{t}: {e}" for t, exp in zip(q["terms"], ans["batch"][j])
                    if (e := check_ranked(op["out"].get(t, []), exp, K))
                ]
                op["why"] = errs[0] if errs else None

    # -------------------------------------------------------------- nrt
    def run_nrt(self):
        import pandas as pd

        from lucene_solr_intervals_spark.corpus import VOCAB, make_row
        from lucene_solr_intervals_spark.index.segment import build_segments
        from lucene_solr_intervals_spark.search.wand import SegmentSearcher
        from lucene_solr_intervals_spark.streaming.nrt import append_segment_batch, delete_by_doc_ids

        spec = self.spec
        d = Draw(self.args.seed, VOCAB)
        # appended ids start past the base corpus at a seed-dependent offset,
        # so each seed ingests different documents
        id0 = spec["docs"] + 1_000_000 * (1 + self.args.seed % 1000)
        n_cycles = NRT_MAX_ROUNDS * NRT_CYCLES_PER_ROUND
        reads = nrt_reads(d)
        live = list(range(spec["docs"]))
        cycles = []
        for c in range(n_cycles):
            first = id0 + c * NRT_BATCH_DOCS
            live += range(first, first + NRT_BATCH_DOCS)
            cyc = nrt_cycle(d, c, id0, live, reads)
            dead = set(cyc["deletes"])
            live = [x for x in live if x not in dead]
            cycles.append(cyc)

        self.build(spec["docs"], spec["segments"], spec["dist"])

        terms: dict[str, int] = {}
        phrases = []
        for kind, q in reads:
            if kind == "phrase":
                q["p"] = len(phrases)
                phrases.append(q)
        for cyc in cycles:
            for kind, q in cyc["reads"]:
                if kind != "phrase":
                    for t in q["terms"]:
                        terms.setdefault(t, len(terms))
        batches = [{"dist": "uniform", "lo": c["ids"][0], "hi": c["ids"][1],
                    "suffix": f" {c['marker']}"} for c in cycles]
        req = {"docs": self.base_docs + batches, "k": K,
               "workers": min(4, os.cpu_count() or 1),
               "presence_terms": list(terms), "phrase": phrases}
        ans, (doc_ids, bits) = self.oracle(req, bitmaps=True)
        from check import Membership, check_count, check_properties

        mem = Membership(doc_ids, bits)

        t0 = time.perf_counter()
        s = SegmentSearcher(self.spark, self.index)
        self.warm(s)
        self.opened(t0)

        present = doc_ids < spec["docs"]
        deleted: set[int] = set()
        t_end = time.perf_counter() + self.args.seconds
        r = 0
        while r < NRT_MAX_ROUNDS and self.rounds_left(r, t_end):
            for cyc in cycles[r * NRT_CYCLES_PER_ROUND : (r + 1) * NRT_CYCLES_PER_ROUND]:
                traced = cyc["c"] % 2 == 0
                u0 = time.perf_counter()
                lo, hi = cyc["ids"]
                rows = []
                for i in range(lo, hi):
                    row = make_row(i)
                    rows.append((i, *row[:4], row[4] + batches[cyc["c"]]["suffix"]))
                batch_df = self.spark.createDataFrame(pd.DataFrame(rows, columns=CORPUS_COLS))
                t_append = time.perf_counter()
                self.attempt("append", lambda: append_segment_batch(
                    batch_df, self.index, id_col="doc_id", text_col="content"), traced)
                self.extra["append_ms"].append(self.ops[-1]["ms"])
                self.attempt("delete", lambda: delete_by_doc_ids(self.index, cyc["deletes"]), traced)
                self.extra["delete_ms"].append(self.ops[-1]["ms"])
                present |= (doc_ids >= lo) & (doc_ids < hi)
                deleted |= set(cyc["deletes"])
                live_mask = present & ~np.isin(doc_ids, np.fromiter(deleted, np.int64))
                dead = frozenset(deleted)
                t_open = time.perf_counter()
                with self.tr.op("open", traced):
                    s = SegmentSearcher(self.spark, self.index)
                self.extra["open_ms"].append((time.perf_counter() - t_open) * 1000.0)
                for qid, (kind, q) in enumerate(cyc["reads"]):
                    self.read_op(s, kind, q, traced, live=live_mask, deleted=dead, qid=qid)
                    if qid == 0:
                        self.extra["refresh_ms"].append((time.perf_counter() - t_append) * 1000.0)
                self.units.append((traced, time.perf_counter() - u0))
                cyc_topk = [op["ms"] for op in self.ops[-len(cyc["reads"]):] if op["kind"] == "topk"]
                print(f"cycle {cyc['c']}: append {self.extra['append_ms'][-1]:.0f} ms, refresh "
                      f"{self.extra['refresh_ms'][-1]:.0f} ms, topk median {median(cyc_topk):.1f} ms",
                      file=sys.stderr)
            # round tail: a merge (counts must not move) and one empty shard
            probe = [[c["marker"] for c in cycles[: (r + 1) * NRT_CYCLES_PER_ROUND]], [VOCAB[0]]]

            before = [s.count(p) for p in probe]
            out = self.attempt("merge", self.merge_smallest, probe=probe, live=live_mask)
            if out is not None:
                fresh = SegmentSearcher(self.spark, self.index)
                self.ops[-1]["out"] = {"before": before, "after": [fresh.count(p) for p in probe]}
                self.extra["merge_docs_per_s"].append(out[0] / out[1])
                print(f"merge: {out[0]} docs in {out[1]:.2f} s", file=sys.stderr)

            def empty_shard():
                from pyspark.sql import types as T

                schema = T.StructType([T.StructField("doc_id", T.LongType()),
                                       T.StructField("content", T.StringType())])
                path = os.path.join(self.work, f"empty_{r}")
                build_segments(self.spark.createDataFrame([], schema), path, n_segments=1,
                               id_col="doc_id", text_col="content", n_docs_hint=0)
                return rows_of(SegmentSearcher(self.spark, path).search([VOCAB[0]], k=K))

            self.attempt("empty_shard", empty_shard)
            r += 1
        self.rss = rss_mb()
        self.rounds = r
        print(f"measure: {r} rounds, {time.perf_counter() - t_end + self.args.seconds:.1f} s",
              file=sys.stderr)
        self.merge_errors = []
        self.index_state()
        appended = len(self.base_docs) + len(self.extra["append_ms"])
        self.index_ratio = dir_bytes(self.index) / sum(ans["text_bytes"][:appended])

        def keys(q):
            return [f"t{terms[t]}" for t in q["terms"]]

        for op in self.ops:
            if op["err"] is not None or op["kind"] in ("append", "delete"):
                continue
            kind = op["kind"]
            if kind == "merge":
                o = op["out"]
                want = [mem.live_count(keys({"terms": p}), False, op["live"]) for p in op["probe"]]
                ok = o["before"] == o["after"] == want
                op["why"] = None if ok else f"counts {o['before']} -> {o['after']}, expected {want}"
                continue
            if kind == "empty_shard":
                op["why"] = None if op["out"] == [] else f"empty shard returned {op['out'][:3]}"
                continue
            q, live_mask, dead = op["q"], op["live"], op["deleted"]
            if kind in ("topk", "topk_spark", "topk_conj_missing"):
                ks = keys(q)
                match = (lambda x, ks=ks, cj=q["conj"]:
                         (all if cj else any)(mem.has(key, x) for key in ks))
                n_live = mem.live_count(ks, q["conj"], live_mask)
                op["why"] = check_properties(op["out"], q.get("k", K), match, dead, n_live)
            elif kind == "phrase":
                key = f"p{q['p']}"
                op["why"] = check_properties(op["out"], K, lambda x, key=key: mem.has(key, x),
                                             dead, mem.live_count([key], False, live_mask))
            elif kind == "count":
                op["why"] = check_count(op["out"], mem.live_count(keys(q), q["conj"], live_mask))
            elif kind == "batch":
                errs = []
                for t in q["terms"]:
                    key = f"t{terms[t]}"
                    e = check_properties(op["out"].get(t, []), K, lambda x, key=key: mem.has(key, x),
                                         dead, mem.live_count([key], False, live_mask))
                    if e:
                        errs.append(f"{t}: {e}")
                op["why"] = errs[0] if errs else None

    # -------------------------------------------------------------- report
    def verdict(self) -> tuple[bool, int, int, dict]:
        per = defaultdict(lambda: [0, 0])
        unexpected = list(self.merge_errors)
        for op in self.ops:
            bad = op["err"] or op.get("why")
            per[op["kind"]][0] += 1
            if bad:
                per[op["kind"]][1] += 1
                if op["kind"] not in KNOWN_FAULTS:
                    unexpected.append(f"{op['kind']} {op.get('q')}: {bad}")
        for msg in unexpected[:20]:
            print(f"FAILED {msg}", file=sys.stderr)
        spent = defaultdict(float)
        for op in self.ops:
            spent[op["kind"]] += op["ms"] / 1000.0
        print("seconds per kind: " + ", ".join(f"{k} {v:.1f}" for k, v in sorted(spent.items())),
              file=sys.stderr)
        for kind in READ_KINDS:
            ms = self.best(kind)
            print(f"{kind}: {len(ms)} queries, best of repeats ms "
                  + " ".join(f"{x:.0f}" for x in sorted(ms)), file=sys.stderr)
        attempted = sum(a for a, _f in per.values())
        failed = sum(f for _a, f in per.values())
        return not unexpected, attempted, failed, {k: {"attempted": a, "failed": f} for k, (a, f) in sorted(per.items())}

    def best(self, kind: str) -> list[float]:
        """Per query of `kind`: its fastest repeat (ms)."""
        per: dict[int, float] = {}
        for op in self.ops:
            if op["kind"] == kind and op["err"] is None:
                per[op["qid"]] = min(op["ms"], per.get(op["qid"], float("inf")))
        return list(per.values())

    def end_to_end(self) -> dict:
        def m(v, unit):
            return {"value": float(v), "unit": unit}

        topk = self.best("topk")
        phrase = self.best("phrase")
        batch = self.best("batch")
        # read workload: per refresh query, its fastest repeat; nrt-ingest:
        # the fastest cycle, from the start of its append to the first answer
        nrt_refresh = self.extra["refresh_ms"]
        refresh = min(nrt_refresh) if nrt_refresh else median(self.best("refresh"))
        return {
            "setup_s": m(self.setup_s, "s"),
            "build_docs_per_s": m(self.build_docs_per_s, "1/s"),
            "topk_p50_ms": m(median(topk), "ms"),
            "topk_tail_ms": m(tail(topk), "ms"),
            "topk_spark_p50_ms": m(median(self.best("topk_spark")), "ms"),
            # a mean, not a median: about half the Zipf pairs hold the head
            # term and run twice as long, so the median sits in the gap
            # between the two modes and jumps from seed to seed
            "phrase_mean_ms": m(statistics.fmean(phrase), "ms"),
            "count_p50_ms": m(median(self.best("count")), "ms"),
            "batch_qps": m(BATCH_TERMS * len(batch) / (sum(batch) / 1000.0), "1/s"),
            "index_bytes_per_text_byte": m(self.index_ratio, "ratio"),
            "coordinator_rss_mb": m(self.rss, "MiB"),
            "refresh_ms": m(refresh, "ms"),
            "merge_docs_per_s": m(max(self.extra["merge_docs_per_s"]), "1/s"),
        }

    def per_layer(self) -> dict:
        from layers import OPS, SPARK_FIELDS, spark_layer

        tr = self.tr
        out: dict[str, float] = {}
        loc, rem = tr.c.get("local.topk", 0.0), tr.c.get("spark.topk", 0.0)
        out["search.topk_local_share"] = loc / (loc + rem) if loc + rem else 0.0
        out["search.kernel_ms.topk"] = tr.per_op("segment_topk_kernel.ms", "topk")
        out["search.kernel_calls.topk"] = tr.per_op("segment_topk_kernel.calls", "topk")
        out["search.prologue_ms.topk"] = (
            tr.per_op("_weights.ms", "topk") + tr.per_op("_driver_topk.ms", "topk")
            - out["search.kernel_ms.topk"]
        )
        out["codecs.decoded.topk"] = tr.per_op("decoded", "topk")
        out["codecs.decode_ms.topk"] = sum(
            tr.per_op(f"{f}.ms", "topk")
            for f in ("unpack_doc_ids", "unpack_tfs", "decode_selected_blocks")
        )
        returned = sum(len(op["out"]) for op in self.ops
                       if op["kind"] == "topk" and op["err"] is None and op["traced"])
        out["search.decoded_per_hit.topk"] = (
            tr.c.get("decoded.topk", 0.0) / returned if returned else 0.0
        )
        self.spark.stop()
        groups = spark_layer(self.events, tr.spans)
        for op in OPS:
            n = tr.n_ops.get(op, 0)
            for f in SPARK_FIELDS:
                out[f"spark.{f}.{op}"] = groups.get(op, {}).get(f, 0.0) / n if n else 0.0
            for who in ("coordinator", "jvm", "worker"):
                out[f"proc.{who}_cpu_ms.{op}"] = tr.per_op(f"cpu.{who}", op)
        out["analysis.tokens_per_s"] = self.tokens_per_s
        out["search.open_ms"] = median(self.extra["open_ms"])
        out["streaming.append_ms"] = median(self.extra["append_ms"])
        out["streaming.delete_ms"] = median(self.extra["delete_ms"])
        out["index.segments_live"] = float(self.segments_live)
        out["index.superseded_bytes"] = float(self.superseded_bytes)
        on = sum(w for t, w in self.units if t)
        off = sum(w for t, w in self.units if not t)
        out["trace.overhead_share"] = on / off - 1.0 if on and off else 0.0
        return out

    def measure_tokens(self):
        """analysis.tokens_per_s: the engine's tokenizer on the corpus text."""
        from lucene_solr_intervals_spark.analysis.tokenizer import tokenize_flat
        from lucene_solr_intervals_spark.corpus import make_row

        texts = [make_row(i, self.spec["dist"])[4] for i in range(5000)]
        t0 = time.perf_counter()
        flat = tokenize_flat(texts, "code")
        self.tokens_per_s = len(flat["terms"]) / (time.perf_counter() - t0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # topk_spark takes the coordinator's query slot; with one slot (the
    # engine's default) every other top-k then overflows to Spark
    os.environ["LSI_DRIVER_EXEC_SLOTS"] = "1"
    import lucene_solr_intervals_spark  # noqa: F401  (fail fast without the engine)

    # A run's files are deleted by the next run, while its oracle computes:
    # unlinking written data blocks for seconds per 100 MB on a disk mounted
    # with online discard.
    scratch = os.path.join(ROOT, ".searchbench_work")
    work = os.path.join(scratch, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    b = Bench(args, scratch, work)
    t_start = time.perf_counter()
    try:
        b.start()
        if args.workload == "nrt-ingest":
            b.run_nrt()
        else:
            b.run_read()
        correct, attempted, failed, per = b.verdict()
        if args.trace:
            b.measure_tokens()
            metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in b.per_layer().items()}
        else:
            metrics = b.end_to_end()
        print(f"run: {time.perf_counter() - t_start:.1f} s, setup {b.setup_s:.1f} s", file=sys.stderr)
        print(json.dumps({"rounds": b.rounds, "topk_path": b.topk_path, "ops": per}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t0 = time.perf_counter()
        stop_spark()
        os.rename(work, os.path.join(scratch, f"done-{os.getpid()}"))
        print(f"teardown: {time.perf_counter() - t0:.1f} s", file=sys.stderr)


def stop_spark() -> None:
    """Stop the session, end the JVM and wait until it and its pyspark
    workers have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from layers import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    below = descendants(os.getpid())
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gw.proc.stdin.close()  # the gateway JVM exits on EOF
    gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in below) and time.monotonic() < deadline:
        time.sleep(0.05)


def alive(pid: int) -> bool:
    """Running, not exited (a zombie whose reaper never waits counts as ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def unit_of(name: str) -> str:
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_bytes") or "_bytes." in name:
        return "bytes"
    if name.endswith("_per_s"):
        return "1/s"
    if "share" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
