"""Independent answer oracle for the search benchmark.

Written from the specifications, not from the engine: of
``lucene_solr_intervals_spark`` it imports only the corpus generator
(``corpus.make_row``, the benchmark's input, pure in doc_id) and re-derives
every answer from the raw text.

* Tokenization: ``[A-Za-z0-9_]+`` runs, lowercased, tokens longer than 255
  characters dropped; positions count emitted tokens from 0.
* Lucene ``SmallFloat.floatToByte315`` / ``byte315ToFloat`` on float32 bit
  patterns; the per-doc norm byte is ``floatToByte315(1 / sqrt(doclen))``.
* BM25 in float32 with k1=1.2, b=0.75:
  ``idf = (float) ln(1 + (N - df + 0.5) / (df + 0.5))``,
  ``cache[b] = k1 * ((1 - b) + b * (1 / byte315ToFloat(b)^2) / avgdl)``,
  ``score = idf * (k1 + 1) * tf / (tf + cache[norm])``, summed over the
  query's distinct terms.
* Exact two-term phrase: freq = number of positions p with a at p and b
  at p + 1.  Ordered near with slop s: a doc matches when some a at p and
  b at q have ``0 < q - p`` and ``q - p - 1 <= s``; freq is 1.  Both score
  with the summed idf of the two terms.

Run as ``python oracle.py REQUEST.json ANSWER.json [BITMAPS.npz]`` in its
own process: the corpus scan is memory-hungry and must not inflate the
benchmark process's resident memory.  The scan fans out over a spawn pool.
"""

from __future__ import annotations

import json
import math
import multiprocessing
import re
import struct
import sys
from collections import Counter

import numpy as np

TOKEN = re.compile(r"[A-Za-z0-9_]+")
MAX_TOKEN_CHARS = 255
K1 = np.float32(1.2)
B = np.float32(0.75)
# position keys are doc_id * STRIDE + position
STRIDE = 1 << 20
# scores within this relative distance agree; docs this close are tied
REL_TOL = 1e-6


def tokenize(text: str | None) -> list[str]:
    if not text:
        return []
    return [t.lower() for t in TOKEN.findall(text) if len(t) <= MAX_TOKEN_CHARS]


# ------------------------------------------------------------ SmallFloat


def _f32_bits(f: float) -> int:
    return struct.unpack("<i", struct.pack("<f", f))[0]


def _bits_f32(bits: int) -> np.float32:
    return np.float32(struct.unpack("<f", struct.pack("<i", bits))[0])


def float_to_byte315(f: float) -> int:
    """SmallFloat.floatToByte(f, numMantissaBits=3, zeroExponent=15)."""
    bits = _f32_bits(f)
    small = bits >> (24 - 3)
    fzero = (63 - 15) << 3
    if small <= fzero:
        return 0 if bits <= 0 else 1
    if small >= fzero + 0x100:
        return 255
    return small - fzero


def byte315_to_float(b: int) -> np.float32:
    if b == 0:
        return np.float32(0.0)
    return _bits_f32(((b & 0xFF) << (24 - 3)) + ((63 - 15) << 24))


def norm_byte(doclen: int) -> int:
    return float_to_byte315(float(np.float32(1.0) / np.float32(math.sqrt(doclen))))


def bm25_cache(avgdl: np.float32) -> np.ndarray:
    out = np.zeros(256, dtype=np.float32)
    for i in range(256):
        f = byte315_to_float(i)
        with np.errstate(divide="ignore"):
            decoded = np.float32(1.0) / np.float32(f * f)
        out[i] = K1 * ((np.float32(1.0) - B) + B * decoded / avgdl)
    return out


def idf(df: int, n_docs: int) -> np.float32:
    return np.float32(math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


# ------------------------------------------------------------ corpus scan


def _scan_texts(doc_ids, texts, qterms: frozenset, pterms: frozenset):
    """Doc lengths, per-term (doc, tf) and per-term position keys."""
    doclens = np.zeros(len(texts), dtype=np.int64)
    post: dict[str, tuple[list, list]] = {}
    pos: dict[str, list] = {}
    for j, (d, text) in enumerate(zip(doc_ids, texts)):
        toks = tokenize(text)
        n = len(toks)
        if n >= STRIDE:
            raise ValueError(f"doc {d} has {n} tokens, more than the key stride")
        doclens[j] = n
        counts = Counter(toks)
        for t in counts.keys() & qterms:
            p = post.setdefault(t, ([], []))
            p[0].append(d)
            p[1].append(counts[t])
        if counts.keys() & pterms:
            base = d * STRIDE
            for i, t in enumerate(toks):
                if t in pterms:
                    pos.setdefault(t, []).append(base + i)
    return (
        np.asarray(doc_ids, dtype=np.int64),
        doclens,
        {t: (np.asarray(a, np.int64), np.asarray(b, np.int64)) for t, (a, b) in post.items()},
        {t: np.asarray(v, np.int64) for t, v in pos.items()},
    )


def _scan_part(part: dict, qterms: frozenset, pterms: frozenset):
    """Scan one part of the corpus: a parquet file of (doc_id, content), or
    docs lo..hi-1 of the corpus generator (pure in doc_id), each followed by
    the part's suffix text."""
    if "parquet" in part:
        import pyarrow.parquet as pq

        tab = pq.read_table(part["parquet"], columns=["doc_id", "content"])
        ids, texts = tab["doc_id"].to_pylist(), tab["content"].to_pylist()
    else:
        from lucene_solr_intervals_spark.corpus import make_row

        ids = list(range(part["lo"], part["hi"]))
        texts = [make_row(i, part["dist"])[4] + part["suffix"] for i in ids]
    nbytes = sum(len(t.encode("utf-8")) for t in texts)
    return _scan_texts(ids, texts, qterms, pterms) + (nbytes,)


class Corpus:
    """Collection statistics plus postings for the query terms only."""

    def __init__(self, parts, qterms, pterms):
        ids = np.concatenate([p[0] for p in parts]) if parts else np.zeros(0, np.int64)
        lens = np.concatenate([p[1] for p in parts]) if parts else np.zeros(0, np.int64)
        order = np.argsort(ids, kind="stable")
        self.doc_ids = ids[order]
        if np.unique(self.doc_ids).size != self.doc_ids.size:
            raise ValueError("duplicate doc ids in corpus")
        self.doclens = lens[order]
        self.n_docs = int(self.doc_ids.size)
        avg = float(self.doclens.sum()) / self.n_docs if self.n_docs else 1.0
        self.avgdl = np.float32(avg)
        self.cache = bm25_cache(self.avgdl)
        by_len = {int(n): norm_byte(int(n)) for n in np.unique(self.doclens)}
        self.norms = np.array([by_len[int(n)] for n in self.doclens], dtype=np.int64)
        self.post: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t in qterms:
            chunks = [p[2][t] for p in parts if t in p[2]]
            if chunks:
                d = np.concatenate([c[0] for c in chunks])
                f = np.concatenate([c[1] for c in chunks])
                o = np.argsort(d, kind="stable")
                self.post[t] = (d[o], f[o])
            else:
                self.post[t] = (np.zeros(0, np.int64), np.zeros(0, np.int64))
        self.pos: dict[str, np.ndarray] = {}
        for t in pterms:
            chunks = [p[3][t] for p in parts if t in p[3]]
            self.pos[t] = np.sort(np.concatenate(chunks)) if chunks else np.zeros(0, np.int64)

    def df(self, term: str) -> int:
        return int(self.post[term][0].size)

    def _norm_of(self, docs: np.ndarray) -> np.ndarray:
        return self.norms[np.searchsorted(self.doc_ids, docs)]

    def docs_with(self, terms, conj: bool) -> np.ndarray:
        sets = [self.post[t][0] for t in dict.fromkeys(terms)]
        if not sets:
            return np.zeros(0, np.int64)
        out = sets[0]
        for s in sets[1:]:
            out = np.intersect1d(out, s) if conj else np.union1d(out, s)
        return out

    def score_terms(self, terms, conj: bool):
        """(doc ids, float32 scores) of every doc matching the query."""
        hits = self.docs_with(terms, conj)
        scores = np.zeros(hits.size, dtype=np.float32)
        if not hits.size:
            return hits, scores
        for t in dict.fromkeys(terms):
            d, tf = self.post[t]
            if not d.size:
                continue
            w = np.float32(idf(d.size, self.n_docs) * (K1 + np.float32(1.0)))
            at = np.minimum(np.searchsorted(hits, d), hits.size - 1)
            sel = hits[at] == d  # every doc of a disjunction is a hit
            d, tf, at = d[sel], tf[sel].astype(np.float32), at[sel]
            scores[at] += (w * tf / (tf + self.cache[self._norm_of(d)])).astype(np.float32)
        return hits, scores

    def phrase_hits(self, a: str, b: str, kind: str, slop: int):
        """(doc ids, freq) for an exact phrase or an ordered near pair."""
        pa, pb = self.pos[a], self.pos[b]
        if kind == "phrase":
            matched = pb[np.isin(pb, pa + 1)] // STRIDE
            docs, freq = np.unique(matched, return_counts=True)
            return docs, freq.astype(np.float32)
        i = np.searchsorted(pa, pb) - 1  # nearest a strictly before each b
        ok = i >= 0
        q, p = pb[ok], pa[i[ok]]
        same = (p // STRIDE) == (q // STRIDE)
        gap = q - p
        good = same & (gap > 0) & (gap - 1 <= slop)
        docs = np.unique(q[good] // STRIDE)
        return docs, np.ones(docs.size, dtype=np.float32)

    def score_phrase(self, a: str, b: str, kind: str, slop: int):
        docs, freq = self.phrase_hits(a, b, kind, slop)
        sum_idf = np.float32(0.0)
        for t in (a, b):
            sum_idf = np.float32(sum_idf + idf(self.df(t), self.n_docs))
        w = np.float32(sum_idf * (K1 + np.float32(1.0)))
        scores = (w * freq / (freq + self.cache[self._norm_of(docs)])).astype(np.float32)
        return docs, scores


def ranked(docs: np.ndarray, scores: np.ndarray, k: int) -> dict:
    """Top k by (score desc, doc asc), extended by every doc tied with the
    k-th score within REL_TOL, plus the total hit count."""
    order = np.lexsort((docs, -scores))
    docs, scores = docs[order], scores[order]
    n = len(docs)
    if n > k:
        kth = float(scores[k - 1])
        floor = kth - REL_TOL * abs(kth)
        n = k + int(np.count_nonzero(scores[k:] >= floor))
    return {
        "hits": int(len(docs)),
        "top": [[int(d), float(s)] for d, s in zip(docs[:n], scores[:n])],
    }


def scan(docs: list[dict], qterms, pterms, workers: int, chunk: int = 5000):
    """Corpus over parts [{"parquet"}] or [{"dist", "lo", "hi", "suffix"}];
    also returns the text bytes of each part."""
    pterms = frozenset(pterms)
    qterms = frozenset(qterms) | pterms  # phrase scores need df too
    args, owner = [], []
    for n, part in enumerate(docs):
        if "parquet" in part:
            args.append((part, qterms, pterms))
            owner.append(n)
            continue
        for lo in range(part["lo"], part["hi"], chunk):
            args.append((dict(part, lo=lo, hi=min(lo + chunk, part["hi"])), qterms, pterms))
            owner.append(n)
    if workers > 1 and len(args) > 1:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(min(workers, len(args))) as pool:
            parts = pool.starmap(_scan_part, args)
    else:
        parts = [_scan_part(*a) for a in args]
    nbytes = [0] * len(docs)
    for n, p in zip(owner, parts):
        nbytes[n] += p[4]
    return Corpus(parts, qterms, pterms), nbytes


def answer(req: dict) -> tuple[dict, dict]:
    """Answers to every query in the request; second value: bitmaps."""
    k = int(req.get("k", 10))
    qterms: set[str] = set(req.get("presence_terms", []))
    pterms: set[str] = set()
    for q in req.get("topk", []):
        for c in q.get("cands", [q]):
            qterms.update(c["terms"])
    for q in req.get("count", []):
        qterms.update(q["terms"])
    for batch in req.get("batch", []):
        qterms.update(batch)
    for q in req.get("phrase", []):
        pterms.update(q["terms"])
    corpus, nbytes = scan(req["docs"], qterms, pterms, int(req.get("workers", 1)))
    out: dict = {"n_docs": corpus.n_docs, "avgdl": float(corpus.avgdl), "text_bytes": nbytes}
    segs = req.get("segments")  # [[doc_base, n_docs], ...]

    def partial(terms) -> bool:
        """Some segment holds some but not all of the distinct terms."""
        if segs is None:
            return False
        for base, n in segs:
            have = [
                bool(np.any((d >= base) & (d < base + n)))
                for d in (corpus.post[t][0] for t in dict.fromkeys(terms))
            ]
            if any(have) and not all(have):
                return True
        return False

    def choose(q: dict) -> dict:
        """A plain query, or the first of several candidates that suits a
        slot: conjunctions must not be partial in any segment, and a "few"
        slot wants 0 < hits < k.  Falls back to the first non-partial
        candidate, then to the first candidate made disjunctive."""
        cands = q.get("cands", [q])
        if "cands" not in q:
            return q
        sizes = [corpus.docs_with(c["terms"], c["conj"]).size for c in cands]
        whole = [i for i, c in enumerate(cands) if not (c["conj"] and partial(c["terms"]))]
        few = [i for i in whole if 0 < sizes[i] < k]
        if q.get("few") and few:
            return cands[few[0]]
        if whole:
            return cands[whole[0]]
        return {"terms": cands[0]["terms"], "conj": False}

    topk = []
    for q in req.get("topk", []):
        q = choose(q)
        docs, scores = corpus.score_terms(q["terms"], q["conj"])
        r = ranked(docs, scores, q.get("k", k))
        r.update(terms=q["terms"], conj=q["conj"])
        r["partial"] = partial(q["terms"]) if q["conj"] else False
        topk.append(r)
    out["topk"] = topk
    out["phrase"] = [
        ranked(*corpus.score_phrase(*q["terms"], q["kind"], q.get("slop", 0)), k)
        for q in req.get("phrase", [])
    ]
    out["count"] = [int(corpus.docs_with(q["terms"], q["conj"]).size) for q in req.get("count", [])]
    out["batch"] = [
        [ranked(*corpus.score_terms([t], False), k) for t in batch]
        for batch in req.get("batch", [])
    ]
    bitmaps: dict = {}
    if req.get("presence_terms") is not None:
        # per-doc membership over the sorted doc-id space (property checks)
        bitmaps["doc_ids"] = corpus.doc_ids
        for i, t in enumerate(req["presence_terms"]):
            bitmaps[f"t{i}"] = np.isin(corpus.doc_ids, corpus.post[t][0])
        for i, q in enumerate(req.get("phrase", [])):
            docs, _ = corpus.phrase_hits(*q["terms"], q["kind"], q.get("slop", 0))
            bitmaps[f"p{i}"] = np.isin(corpus.doc_ids, docs)
    return out, bitmaps


def main(argv: list[str]) -> int:
    if len(argv) not in (3, 4):
        print("usage: oracle.py REQUEST.json ANSWER.json [BITMAPS.npz]", file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        req = json.load(f)
    out, bitmaps = answer(req)
    with open(argv[2], "w") as f:
        json.dump(out, f)
    if len(argv) == 4:
        np.savez(argv[3], **{k: np.packbits(v) if v.dtype == bool else v for k, v in bitmaps.items()})
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
