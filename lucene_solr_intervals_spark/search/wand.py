"""Top-k BM25 over packed segments: one per-segment execution core.

The reference scores every leaf on its own and merges the leaf results in
one (score desc, doc_id asc) HitQueue (IndexSearcher leaf slices,
IndexSearcher.java:596-614; HitQueue.java:76-80) — the shape of Solr's
shard scatter-gather (HttpShardHandler).  Every packed-index query has
that shape here and runs through one core:

* segment context loader (`_seg_ctx`): once per segment task, the
  segment's doc_base, its norms blob and the merged manifest-plus-spilled
  tombstones;
* runner (`SegmentSearcher._execute`): term filter, bloom candidate-segment
  pruning, column projection, the required-term check of a conjunction (a
  segment lacking one of the query's terms holds no match), ONE
  local-vs-Spark decision, and the final ordered merge.  Both executors
  run the same per-segment kernel: `_driver_topk` in the coordinator
  process (byte gate plus one in-flight slot) and `_on_spark`, one
  groupBy("seg").applyInPandas job.  `search`, `scan_with_weights`,
  `search_segments` and `count` take either executor; `search_many` and
  the interval paths use the loader and the Spark half only.

Per-segment top-k (`segment_topk_kernel`): the reference evaluates
exhaustively (no MaxScore/BMW in Lucene 4.x — SURVEY.md §4.2); the north
star asks us to ADD block-max WAND.  `_wand_skip_kernel` is a vectorized
block-max strategy rather than a document-at-a-time Python loop
(pointer-chasing per doc would throw away numpy; block granularity keeps
all hot loops in C):
    1. seed threshold θ = exact k-th best score of the highest-impact term
       (every final OR score >= its single-term score, so θ is a valid
       lower bound on the true k-th best);
    2. per term x block upper bound ub = w * max_tf / (max_tf +
       cache[block_max_nb])  (score is increasing in tf and decreasing in
       the norm cache; cache is decreasing in norm byte, so block_max_nb
       minimizes it — a tight, provably valid bound);
    3. a block is decoded only if its bound plus every other term's maximum
       can reach θ (skip data); the per-doc sum of block bounds then prunes
       the decoded candidates;
    4. exact-score candidates only; top-k with doc-id tie-break.
  Rank-safety: every pruned doc has upper bound < θ <= true k-th score.
Conjunctions, postings without skip data and `mode="exhaustive"` (the
oracle path; tests assert identical output) score exhaustively.

Scoring is the Lucene-exact float32 path (quantized norms), so segment
top-k here is rank-identical to the reference.
"""

from __future__ import annotations

import os
import threading
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs.varbyte import unpack_doc_ids, unpack_tfs
from ..scoring.bm25 import idf as idf32
from ..scoring.bm25 import norm_cache
from ..index.segment import load_norms, load_postings, read_manifest

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.FloatType()),
    ]
)
_EMPTY_TOPK = pd.DataFrame(
    {
        "doc_id": pd.Series([], dtype="int64"),
        "score": pd.Series([], dtype="float32"),
    }
)

# Columns the SCORING kernels actually read.  An applyInPandas cogroup is
# opaque to Catalyst, so without an explicit projection every query ships
# (and reads from parquet) the positions/offsets binaries — the largest
# posting columns — that only the interval/offsets paths consume
# (guide §2.3: project before the exchange).
SCORING_COLS = [
    "seg", "term", "df", "doc_ids", "tfs", "block_last",
    "block_max_tf", "block_max_nb", "block_id_offs", "block_tf_offs",
]


def _scoring_cols(postings: DataFrame, *extra: str) -> list:
    """SCORING_COLS restricted to what the relation actually has — the
    kernels degrade gracefully on indexes without block-max sidecars
    (pre-skip-data segments), so the projection must too."""
    have = set(postings.columns)
    return [c for c in SCORING_COLS if c in have] + list(extra)


def _exact_scores(rows, norms_by_doc, weights, cache):
    """Concatenate per-term (doc, partial score) and sum per doc."""
    ids_all, sc_all = [], []
    for term, ids, tfs in rows:
        nb = norms_by_doc[ids]
        tf32 = tfs.astype(np.float32)
        sc = (weights[term] * tf32 / (tf32 + cache[nb])).astype(np.float32)
        ids_all.append(ids)
        sc_all.append(sc)
    ids_cat = np.concatenate(ids_all)
    sc_cat = np.concatenate(sc_all)
    uniq, inv = np.unique(ids_cat, return_inverse=True)
    summed = np.zeros(uniq.size, dtype=np.float32)
    np.add.at(summed, inv, sc_cat)
    return uniq, summed


def _topk(ids: np.ndarray, scores: np.ndarray, k: int):
    if ids.size == 0:
        return ids[:0], scores[:0]
    if ids.size > k:
        # exact order among a safe superset: all docs with score >= kth
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        cand = np.nonzero(scores >= kth)[0]
    else:
        cand = np.arange(ids.size)
    order = np.lexsort((ids[cand], -scores[cand].astype(np.float64)))
    sel = cand[order][:k]
    return ids[sel], scores[sel]


def _wand_skip_kernel(
    rows: list,
    weights: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    norms: np.ndarray,
    base: int,
    tomb_arr,
    codec=None,
) -> pd.DataFrame:
    """Block-max WAND with SKIP-DATA block decode (Lucene41SkipWriter role):

    1. per term x block upper bound from (block_max_tf, block_max_nb);
    2. θ = exact k-th score of the highest-impact term (fully decoded);
    3. a block B of term t is DECODED only if ub_B + Σ_{t'≠t} max_ub_{t'}
       >= θ — otherwise no doc inside B can reach the top-k even with every
       other term at its global maximum, so its bytes are never touched
       (rank-safe: any true top-k doc's own blocks always pass the test,
       and docs living only in skipped blocks provably score < θ);
    4. per-doc sum of block bounds prunes the decoded candidates, exact
       scoring on survivors.
    """
    from ..codecs.varbyte import decode_selected_blocks

    nrm = _Rel(norms, base)
    # per-term block upper bounds (weight * tf_max / (tf_max + norm_min))
    ubs = []
    for term, r in rows:
        mt = np.frombuffer(r["block_max_tf"], dtype=np.int32).astype(np.float32)
        nbm = np.frombuffer(r["block_max_nb"], dtype=np.int32)
        ubs.append((weights[term] * mt / (mt + cache[nbm])).astype(np.float32))
    max_ub = np.array([float(u.max()) if u.size else 0.0 for u in ubs])
    seed_i = int(np.argmax(max_ub))

    # θ from the seed term, exactly scored (every OR score >= its single-term
    # score, so the seed's k-th best is a valid lower bound)
    seed_term, seed_r = rows[seed_i]
    seed_ids = unpack_doc_ids(seed_r["doc_ids"], codec)
    seed_tfs = unpack_tfs(seed_r["tfs"], codec)
    if tomb_arr is not None:
        keep = ~np.isin(seed_ids, tomb_arr)
        seed_ids, seed_tfs = seed_ids[keep], seed_tfs[keep]
    theta = np.float32(0.0)
    if seed_ids.size:
        tf32 = seed_tfs.astype(np.float32)
        sc = (weights[seed_term] * tf32 / (tf32 + cache[nrm[seed_ids]])).astype(
            np.float32
        )
        if sc.size >= k:
            theta = np.partition(-sc, k - 1)[k - 1] * np.float32(-1.0)

    total_rest = max_ub.sum()
    ids_all, ub_el_all, rows_dec = [], [], []
    for i, (term, r) in enumerate(rows):
        ub = ubs[i]
        if i == seed_i:
            ids_i, tfs_i = seed_ids, seed_tfs
            # element->block alignment after tombstone filtering is lost for
            # the seed; its per-element bound is its exact-enough max_ub
            ub_el = np.full(ids_i.size, max_ub[i], dtype=np.float32)
        else:
            rest = np.float32(total_rest - max_ub[i])
            sel = (ub + rest) >= theta
            id_offs = np.frombuffer(r["block_id_offs"], dtype=np.int64)
            tf_offs = np.frombuffer(r["block_tf_offs"], dtype=np.int64)
            n_vals = int(r["df"])
            gaps, counts = decode_selected_blocks(
                r["doc_ids"], id_offs, n_vals, sel, codec=codec
            )
            if gaps.size == 0:
                rows_dec.append((term, np.empty(0, np.int64), np.empty(0, np.int64)))
                continue
            tf_sel, _ = decode_selected_blocks(r["tfs"], tf_offs, n_vals, sel, codec=codec)
            # absolute ids: per selected block, base = previous block's last
            block_last = np.frombuffer(r["block_last"], dtype=np.int64)
            prev_last = np.concatenate([[np.int64(0)], block_last[:-1]])
            sel_idx = np.nonzero(sel)[0]
            csum = np.cumsum(gaps.astype(np.int64))
            starts = np.cumsum(counts) - counts
            cs_before = np.where(starts > 0, csum[np.maximum(starts - 1, 0)], 0)
            blk_base = prev_last[sel_idx] - cs_before
            off = np.repeat(blk_base, counts)
            ids_i = csum + off
            tfs_i = tf_sel.astype(np.int64)
            ub_el_i = np.repeat(ub[sel_idx], counts)
            if tomb_arr is not None:
                keep = ~np.isin(ids_i, tomb_arr)
                ids_i, tfs_i, ub_el_i = ids_i[keep], tfs_i[keep], ub_el_i[keep]
            ub_el = ub_el_i
        rows_dec.append((term, ids_i, tfs_i))
        ids_all.append(ids_i)
        ub_el_all.append(ub_el)

    if not ids_all:
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float32"}
        )
    ids_cat = np.concatenate(ids_all)
    ub_cat = np.concatenate(ub_el_all)
    uniq, inv = np.unique(ids_cat, return_inverse=True)
    ub_sum = np.zeros(uniq.size, dtype=np.float32)
    np.add.at(ub_sum, inv, ub_cat)
    alive = uniq[ub_sum >= theta] if theta > 0 else uniq

    srows = []
    for term, ids_i, tfs_i in rows_dec:
        if ids_i.size == 0:
            continue
        mask = np.isin(ids_i, alive, assume_unique=True)
        srows.append((term, ids_i[mask], tfs_i[mask]))
    if not srows:
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float32"}
        )
    uniq_f, summed = _exact_scores(srows, nrm, weights, cache)
    ids_k, sc_k = _topk(uniq_f, summed, k)
    return pd.DataFrame({"doc_id": ids_k.astype(np.int64), "score": sc_k})


def segment_topk_kernel(
    term_rows: pd.DataFrame,
    ctx: _SegCtx | None,
    weights: dict[str, np.float32],
    cache: np.ndarray,
    k: int,
    mode: str = "wand",
    conjunctive: bool = False,
    codec=None,
) -> pd.DataFrame:
    """Per-segment top-k. term_rows: packed posting rows for the query terms
    of ONE segment; ctx: that segment's context (_seg_ctx).  An empty frame
    maps to the empty top-k without reading ctx (the runner's contract for
    segments it skips)."""
    if term_rows.empty:
        return _EMPTY_TOPK
    norms, base, tomb_arr = ctx.norms, ctx.base, ctx.tomb

    has_skip = (
        "block_id_offs" in term_rows.columns
        and not term_rows["block_id_offs"].isna().any()
    )
    if mode == "wand" and not conjunctive and has_skip:
        rows = [(r["term"], r) for _, r in term_rows.iterrows()]
        return _wand_skip_kernel(rows, weights, cache, k, norms, base, tomb_arr, codec)

    decoded = []
    for _, r in term_rows.iterrows():
        ids = unpack_doc_ids(r["doc_ids"], codec)
        tfs = unpack_tfs(r["tfs"], codec)
        if tomb_arr is not None:
            keep = ~np.isin(ids, tomb_arr)
            ids, tfs = ids[keep], tfs[keep]
        decoded.append((r["term"], ids, tfs))

    if conjunctive:
        # leapfrog at array level: intersect doc sets, rarest first (the
        # runner has already skipped segments lacking a required term)
        decoded.sort(key=lambda t: t[1].size)
        common = decoded[0][1]
        for _, ids, _ in decoded[1:]:
            common = common[np.isin(common, ids, assume_unique=True)]
        if common.size == 0:
            return _EMPTY_TOPK
        rows = []
        for term, ids, tfs in decoded:
            mask = np.isin(ids, common, assume_unique=True)
            rows.append((term, ids[mask], tfs[mask]))
        decoded = rows

    uniq, summed = _exact_scores(decoded, _Rel(norms, base), weights, cache)
    ids_k, sc_k = _topk(uniq, summed, k)
    return pd.DataFrame({"doc_id": ids_k.astype(np.int64), "score": sc_k})


class _Rel:
    """Relative-indexed norm lookup: norms[doc_id] with segment base offset."""

    def __init__(self, norms: np.ndarray, base: int):
        self.norms = norms
        self.base = base

    def __getitem__(self, ids):
        return self.norms[np.asarray(ids, dtype=np.int64) - self.base]


def search_segments(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = 10,
    mode: str = "wand",
    conjunctive: bool = False,
) -> DataFrame:
    """One-shot top-k over the packed index: a fresh point-in-time
    SegmentSearcher (fresh term stats, manifest tombstones honoured) and
    its ordered top-k."""
    return SegmentSearcher(spark, index_dir).search(terms, k, mode, conjunctive)


def _live_segments(manifest: dict) -> list[int]:
    return [s["seg"] for s in manifest["segments"] if s.get("status") == "done"]


def _seg_norms_pdf(
    index_dir: str, seg: int, spilled: bool, with_norms: bool = True
) -> pd.DataFrame:
    """Task-side read of ONE segment's norms row (and, when the index has
    spilled tombstones, that segment's delete slice) straight from the
    index directory — the co-locate alternative (guide §8) to shipping the
    norms relation through a per-query Exchange.  Norms are written
    partitionBy("seg"), so the task reads exactly its own segment's bytes:
    per-task memory stays one segment's blob at any corpus size, and the
    per-query plan loses the norms-side scan + Exchange + cogroup barrier
    (at 10^12 docs the norms RELATION is ~1 TB; the cogroup re-shuffled
    all of it on every query, this reads only candidate segments' blobs).
    Uses ParquetFile, not the dataset API (~0.2 ms vs ~270 ms first-call
    machinery per worker, measured)."""
    import pyarrow.parquet as pq

    data: dict = {"seg": [seg]}
    if with_norms:
        seg_dir = os.path.join(index_dir, "norms", f"seg={seg}")
        tabs = [
            pq.ParquetFile(os.path.join(seg_dir, f)).read(
                columns=["doc_base", "span", "norm_bytes"]
            )
            for f in sorted(os.listdir(seg_dir))
            if f.endswith(".parquet")
        ]
        rows = [t for t in tabs if t.num_rows]
        if not rows:
            # same contract the cogroup had: postings without a norms row
            # is a corrupt segment (segment_topk_kernel raises on it)
            data.update({"doc_base": [], "span": [], "norm_bytes": [], "seg": []})
            return pd.DataFrame(data)
        t = rows[0]
        data["doc_base"] = [t["doc_base"][0].as_py()]
        data["span"] = [t["span"][0].as_py()]
        data["norm_bytes"] = [t["norm_bytes"][0].as_py()]
    if spilled:
        path = os.path.join(index_dir, "tombstones", "tombstones.parquet")
        pf = pq.ParquetFile(path)
        names = pf.schema_arrow.names
        seg_col = names.index("seg")
        groups = []
        for i in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(i).column(seg_col).statistics
            if st is None or not st.has_min_max or (st.min <= seg <= st.max):
                groups.append(i)
        tomb: list[int] = []
        if groups:
            tt = pf.read_row_groups(groups, columns=["seg", "doc_id"])
            import pyarrow.compute as pc

            tomb = tt.filter(pc.equal(tt["seg"], seg))["doc_id"].to_pylist()
        data["tomb"] = [tomb]
    return pd.DataFrame(data)


class _SegCtx(NamedTuple):
    """What every per-segment kernel needs besides the segment's postings."""

    base: int  # doc_base: norms[doc_id - base]
    norms: np.ndarray | None  # uint8 norm bytes (None: not loaded)
    tomb: np.ndarray | None  # int64 deleted doc ids (None: no deletes)


def _seg_ctx(
    index_dir: str, seg: int, spilled: bool, tombstones: frozenset,
    with_norms: bool = True,
) -> _SegCtx:
    """The segment context loader, run once per segment task on either
    executor: doc_base and norms from the seg-partitioned sidecar, and the
    manifest tombstones merged with the segment's spilled slice."""
    npdf = _seg_norms_pdf(index_dir, seg, spilled, with_norms)
    base, norms = 0, None
    if with_norms:
        if npdf.empty:
            raise ValueError(f"segment {seg} has postings but no norms row")
        base = int(npdf["doc_base"].iloc[0])
        norms = np.frombuffer(npdf["norm_bytes"].iloc[0], dtype=np.uint8)
    tomb = set(tombstones)
    if spilled:
        tomb.update(int(x) for x in npdf["tomb"].iloc[0])
    arr = np.fromiter(tomb, dtype=np.int64, count=len(tomb)) if tomb else None
    return _SegCtx(base, norms, arr)


# ---- coordinator-local small-query execution (IndexSearcher analog) ----
# A single-term/few-term top-k over a small candidate set is one task's
# worth of work; launching a Spark job for it pays scheduler + exchange +
# Python-worker round trips (~0.5 s) to move ~10 MB.  When the candidate
# row groups' SCORING-column bytes fit under the gate, the query runs in
# the coordinator process instead (_driver_topk) — the same kernel per
# segment, the same context loader, the same ordered merge, so results
# are bit-identical (pinned by test_driver_path_matches_spark_path).
# Scale-adaptive by construction: the gate is on BYTES, so the same query
# routes to the cluster on a bigger corpus (at 100 TB any common term
# blows the gate); under concurrent load the one in-flight slot sends
# overflow queries to the cluster too (coordinator CPU is one box).
_DRIVER_QUERY_MAX_BYTES = int(
    os.environ.get("LSI_DRIVER_QUERY_MAX_BYTES", str(32 << 20))
)
# cap on snapshot-cached segment contexts (norms: 1 byte/doc/segment, plus
# tombstones) held by a warm SegmentSearcher's coordinator executor
_NORMS_CACHE_MAX_BYTES = int(
    os.environ.get("LSI_NORMS_CACHE_MAX_BYTES", str(64 << 20))
)
# cap on snapshot-cached DECODED scoring row-groups (the hot-postings RAM
# cache — Lucene leans on the OS page cache for exactly this); first query
# touching a row group pays the parquet decode, later queries filter the
# in-memory Arrow table
_POSTINGS_CACHE_MAX_BYTES = int(
    os.environ.get("LSI_POSTINGS_CACHE_MAX_BYTES", str(128 << 20))
)
# ONE slot: a second concurrent coordinator-local query would only fight
# the first for the GIL (measured: 2 and 3 interleaved driver executions
# ran slower than the same queries as Spark jobs); overflow goes
# distributed, and the ParquetFile handles the slot uses are never shared
# across threads
_DRIVER_EXEC_SLOTS = threading.BoundedSemaphore(1)
# search_many decodes rows in chunks of this many postings, so the passes
# after decode run over cache-resident arrays
_BATCH_CHUNK = 1 << 20
# an empty postings frame: every kernel maps it to its typed empty output
_NO_ROWS = pd.DataFrame(columns=SCORING_COLS)


def _scoring_file_meta(fpath: str):
    """Per-row-group (term_range, scoring_bytes) for one postings file:
    range from the term column statistics (None = no usable stats, never
    prunable), bytes = compressed size of the SCORING column chunks."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(fpath)
    md = pf.metadata
    names = pf.schema_arrow.names
    ti = names.index("term")
    want = {c for c in SCORING_COLS if c != "seg"}
    out = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = rg.column(ti).statistics
        rng = (
            (st.min, st.max)
            if st is not None and st.has_min_max and isinstance(st.min, str)
            else None
        )
        nbytes = 0
        for j in range(rg.num_columns):
            col = rg.column(j)
            if col.path_in_schema in want:
                nbytes += col.total_compressed_size
        out.append((rng, nbytes))
    return out


def _overlapping(fm: list, lo: str, hi: str) -> list[int]:
    """Row groups of one file (its _scoring_file_meta) whose term range may
    hold a term in [lo, hi]."""
    return [
        i for i, (rng, _b) in enumerate(fm)
        if rng is None or (rng[0] <= hi and lo <= rng[1])
    ]


def _driver_topk(
    ss: SegmentSearcher,
    segs: list[int],
    terms: list[str],
    kernel,
    k: int | None = None,
    n_required: int = 0,
) -> pd.DataFrame | None:
    """The coordinator executor: run `kernel(pdf, ctx)` per candidate
    segment in this process, with the searcher's snapshot caches (file
    metadata, decoded row groups, segment contexts — index DATA only,
    never query results).  Returns the per-segment outputs concatenated,
    reduced to the ordered (score desc, doc_id asc) top-k when `k` is
    given — or None when the candidate row groups' scoring bytes exceed
    _DRIVER_QUERY_MAX_BYTES or the layout can't be listed (the caller
    then runs the Spark executor).  Segments holding fewer than
    `n_required` distinct query terms are skipped."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # per SEGMENT: the files and row groups that may hold the query terms.
    # A segment's rows must reach ONE kernel call even when they span
    # several files (post-merge layouts): per-file kernels would split a
    # doc's per-term partials across calls and break OR score sums.
    plan: dict[int, list[tuple[str, list[int]]]] = {}
    if terms:
        lo, hi = min(terms), max(terms)
        total = 0
        try:
            for seg in segs:
                for fpath, fm in ss._seg_files(seg):
                    groups = _overlapping(fm, lo, hi)
                    if groups:
                        total += sum(fm[i][1] for i in groups)
                        if total > _DRIVER_QUERY_MAX_BYTES:
                            return None
                        plan.setdefault(seg, []).append((fpath, groups))
        except OSError:
            return None

    vset = pa.array(terms, type=pa.string())
    outs = []
    for seg, files in plan.items():
        tabs = [ss._row_groups(fpath, groups) for fpath, groups in files]
        tabs = [t.filter(pc.is_in(t["term"], value_set=vset)) for t in tabs]
        tabs = [t for t in tabs if t.num_rows]
        if not tabs:
            continue
        pdf = (pa.concat_tables(tabs) if len(tabs) > 1 else tabs[0]).to_pandas()
        if n_required and pdf["term"].nunique() < n_required:
            continue
        pdf["seg"] = seg
        out = kernel(pdf, ss._ctx(seg))
        if len(out):
            outs.append(out)
    if not outs:
        return kernel(_NO_ROWS, None)
    out = pd.concat(outs, ignore_index=True)
    if k is not None:
        order = np.lexsort((out["doc_id"].to_numpy(), -out["score"].to_numpy()))
        out = out.iloc[order[:k]].reset_index(drop=True)
    return out


class SegmentSearcher:
    """Point-in-time searcher over a packed index (DirectoryReader analog).

    Loads the manifest once and keeps what is immutable for the snapshot:
    the postings relation, the queried-term stats, per-file metadata and,
    for the coordinator executor, decoded row groups and segment contexts.
    Every query runs through the per-segment core (module docstring).
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = read_manifest(index_dir)
        self.live = _live_segments(self.manifest)
        self.postings = load_postings(spark, index_dir).where(F.col("seg").isin(self.live))
        # norms never ride the query plan: every kernel reads its own
        # segment's norms blob (and spilled-tombstone slice) through
        # _seg_ctx.  The norms DataFrame survives only as the lazy `norms`
        # property for callers that still want the relation.
        self._spilled = bool(self.manifest.get("tombstones_spilled"))
        self._norms_df = None
        self.tombstones = frozenset(self.manifest.get("tombstones", []))
        self.n_docs = self.manifest["n_docs"]
        self.avgdl = (
            self.manifest.get("sum_ttf", self.manifest["sum_doclen"])
            / self.n_docs
            if self.n_docs
            else 1.0
        )
        self.cache = norm_cache(self.avgdl)
        # Codec.forName at reader open (Codec.java:94): the manifest declares
        # the postings format; kernels decode with the resolved codec
        from ..codecs.registry import get_codec

        self.codec = get_codec(self.manifest.get("codec", "varbyte"))
        self._blooms: dict | None = None  # lazy per-segment term blooms
        # snapshot caches (index data only, never query results)
        self._df_memo: dict[str, int] = {}
        self._td_blocks: dict = {}  # (fpath, row group) -> {term: df}
        self._td_nterms = 0
        self._listing: dict[int, list[str]] = {}  # seg -> postings files
        self._file_meta: dict[str, list] = {}  # fpath -> _scoring_file_meta
        # coordinator executor only (inside the slot):
        self._files: dict = {}  # fpath -> ParquetFile
        self._tables: dict = {}  # (fpath, groups) -> scoring Arrow table
        self._tables_bytes = 0
        self._ctxs: dict[int, _SegCtx] = {}
        self._ctxs_bytes = 0

    @property
    def norms(self) -> DataFrame:
        """The per-segment norms relation (with spilled tombstones joined
        on), built and persisted on first access.  Query paths read norms
        task-side via _seg_norms_pdf instead; this stays for callers that
        want the relation itself (plan probes, ad-hoc joins).

        NOTE (r10, measured): do NOT persist this pre-partitioned on seg.
        A repartition(shuffle_partitions, "seg").persist() removes the
        norms-side Exchange from cogroup plans (InMemoryRelation preserves
        outputPartitioning) and looked ~8% faster sequentially, but without
        the Exchange there is no AQE coalescing either, so every query's
        kernel stage ran at the full partition count — 24 concurrent
        queries went 4.6 s -> 8-12 s (BENCH/ab_r10 notes)."""
        if self._norms_df is None:
            from ..index.segment import load_tombstones_per_seg

            norms = load_norms(self.spark, self.index_dir).where(
                F.col("seg").isin(self.live)
            )
            tomb_df = load_tombstones_per_seg(
                self.spark, self.index_dir, self.manifest
            )
            if tomb_df is not None:
                norms = norms.join(tomb_df, "seg", "left")
            self._norms_df = norms.persist()
            self._norms_df.count()
        return self._norms_df

    def _load_blooms(self) -> dict:
        """Per-segment term-dictionary blooms (BloomFilteringPostingsFormat
        role, codecs/bloom.py) — kilobytes per segment, loaded once per
        snapshot; {} when the index carries no bloom sidecar."""
        if self._blooms is None:
            blooms: dict = {}
            if self.manifest.get("bloom"):
                from ..index.segment import load_blooms

                df = load_blooms(self.spark, self.index_dir)
                if df is not None:
                    live = set(self.live)
                    blooms = {
                        int(r["seg"]): (
                            int(r["nbits"]),
                            np.frombuffer(bytes(r["bits"]), dtype=np.uint8),
                        )
                        for r in df.collect()
                        if int(r["seg"]) in live
                    }
            self._blooms = blooms
        return self._blooms

    def _bloom_masks(self, terms: list[str]) -> dict[int, np.ndarray]:
        """Per segment with a bloom row: which of `terms` it MAY contain (a
        bloom negative is definitive).  {} when the index has no blooms."""
        blooms = self._load_blooms()
        if not blooms:
            return {}
        from ..codecs.bloom import murmurhash64

        # hash each term ONCE (64-bit); per segment only mask + bit test
        hashes = np.fromiter(
            (murmurhash64(t.encode("utf-8")) for t in terms),
            dtype=np.uint64, count=len(terms),
        )
        out = {}
        for s, (nbits, bits) in blooms.items():
            h = (hashes & np.uint64(nbits - 1)).astype(np.int64)
            out[s] = ((bits[h >> 3] >> (h & 7)) & 1).astype(bool)
        return out

    def candidate_segs(self, terms: list[str]) -> list[int] | None:
        """Segments that MAY contain any query term; None = no blooms, no
        pruning.  A bloom negative is definitive (miss terms schedule zero
        tasks); segments lacking a bloom row always stay candidates."""
        masks = self._bloom_masks(terms)
        if not masks:
            return None
        return [s for s in self.live if s not in masks or masks[s].any()]

    def _seg_files(self, seg: int) -> list[tuple[str, list]]:
        """The segment's postings files, each with its per-row-group (term
        range, scoring bytes) metadata — listed and parsed once per
        snapshot and shared by the term-dictionary seek and the coordinator
        executor.  Metadata only: ParquetFile handles stay inside the
        coordinator slot.  Raises OSError when the layout can't be listed."""
        files = self._listing.get(seg)
        if files is None:
            sd = os.path.join(self.index_dir, "postings", f"seg={seg}")
            files = self._listing[seg] = [
                os.path.join(sd, f)
                for f in sorted(os.listdir(sd))
                if f.endswith(".parquet")
            ]
        out = []
        for fpath in files:
            fm = self._file_meta.get(fpath)
            if fm is None:
                fm = self._file_meta[fpath] = _scoring_file_meta(fpath)
            out.append((fpath, fm))
        return out

    def _row_groups(self, fpath: str, groups: list[int]):
        """Scoring columns of `groups` in one postings file, decoded once
        per snapshot while the hot-postings cache has room.  Coordinator
        slot only."""
        import pyarrow.parquet as pq

        key = (fpath, tuple(groups))
        tab = self._tables.get(key)
        if tab is None:
            pf = self._files.get(fpath)
            if pf is None:
                pf = pq.ParquetFile(fpath)
                # footer handles are tiny but hold an fd each: cap count
                if len(self._files) < 4096:
                    self._files[fpath] = pf
            tab = pf.read_row_groups(
                groups, columns=[c for c in SCORING_COLS if c != "seg"]
            )
            if self._tables_bytes + tab.nbytes <= _POSTINGS_CACHE_MAX_BYTES:
                self._tables[key] = tab
                self._tables_bytes += tab.nbytes
        return tab

    def _ctx(self, seg: int) -> _SegCtx:
        """The segment's context, loaded once per snapshot while the
        context cache has room (byte-capped, so a huge-corpus rare-term
        workload cannot accrete corpus-sized norms in the coordinator).
        Coordinator slot only."""
        ctx = self._ctxs.get(seg)
        if ctx is None:
            ctx = _seg_ctx(self.index_dir, seg, self._spilled, self.tombstones)
            nbytes = ctx.norms.nbytes + (0 if ctx.tomb is None else ctx.tomb.nbytes)
            if self._ctxs_bytes + nbytes <= _NORMS_CACHE_MAX_BYTES:
                self._ctxs[seg] = ctx
                self._ctxs_bytes += nbytes
        return ctx

    # queried-term stats memo: bounded by the observed query workload (a
    # search service's working set), NOT the vocabulary — the full term
    # dictionary at 10^12-file scale has billions of entries and must never
    # be collected to the driver
    _DF_MEMO_MAX = 262_144

    # bounded term-dictionary block cache (Lucene terms-index block role):
    # touched row groups only, so it is bounded by the query workload —
    # never the vocabulary — and cleared wholesale past the TERM-count cap
    # (a block is one row group's term->df slice; capping blocks alone
    # would not bound memory at 100 TB row-group sizes)
    _TD_CACHE_MAX_TERMS = 1 << 21

    def _df_seek(self, terms: list[str]) -> dict[str, int] | None:
        """Driver-side term-dictionary seek (BlockTree lookup analog): the
        postings segments are term-sorted parquet, so a term's global df is
        the sum over live segments of the matching rows in the row groups
        whose [min,max] term statistics cover it — read with ParquetFile
        (term+df columns only, ~tens of KB per row group regardless of the
        posting payload sizes), bloom-pruned per segment first.  ~7 ms warm
        per term at 64 segments vs ~150 ms for the equivalent one-job scan
        (and no Spark job to contend with under concurrent queries).  Each
        touched row group's term->df map is cached once per snapshot (the
        index is immutable point-in-time), so 24 concurrent first-seen
        queries decode each block once instead of 24 times.  Returns None
        when the layout can't be listed (caller falls back to the scan)."""
        import pyarrow.parquet as pq

        masks = self._bloom_masks(terms)
        blocks = self._td_blocks
        out = {t: 0 for t in terms}
        try:
            for seg in self.live:
                mask = masks.get(seg)
                seg_terms = (
                    terms if mask is None
                    else [t for t, m in zip(terms, mask) if m]
                )
                if not seg_terms:
                    continue  # bloom negatives are definitive: df stays 0
                lo, hi = min(seg_terms), max(seg_terms)
                for fpath, fm in self._seg_files(seg):
                    pf = None
                    for i in _overlapping(fm, lo, hi):
                        tmap = blocks.get((fpath, i))
                        if tmap is None:
                            if pf is None:
                                pf = pq.ParquetFile(fpath)
                            tab = pf.read_row_group(i, columns=["term", "df"])
                            tmap = dict(
                                zip(tab["term"].to_pylist(), tab["df"].to_pylist())
                            )
                            if self._td_nterms + len(tmap) > self._TD_CACHE_MAX_TERMS:
                                blocks.clear()
                                self._td_nterms = 0
                            blocks[(fpath, i)] = tmap
                            self._td_nterms += len(tmap)
                        for t in seg_terms:
                            dfv = tmap.get(t)
                            if dfv is not None:
                                out[t] += int(dfv)
        except OSError:
            return None
        return out

    def _dfs(self, terms: list[str]) -> dict[str, int]:
        """Per-query term stats: a driver-side term-dictionary seek over
        the term-sorted segment files (_df_seek) for interactive-sized
        term sets, or a broadcast semi-join scan for large batches;
        results are memoized per searcher snapshot (the index is immutable
        point-in-time, so entries never go stale)."""
        memo = self._df_memo
        missing = list(dict.fromkeys(t for t in terms if t not in memo))
        if missing:
            found = self._df_seek(missing) if len(missing) <= 32 else None
            if found is None:
                stats = self._postings(missing, self.live).select("term", "df")
                rows = stats.groupBy("term").agg(F.sum("df").alias("df")).collect()
                found = {r["term"]: int(r["df"]) for r in rows}
            if len(memo) + len(missing) > self._DF_MEMO_MAX:
                memo.clear()  # crude bound; point lookups repopulate cheaply
            for t in missing:
                memo[t] = int(found.get(t, 0))
        return {t: memo[t] for t in terms}

    def _weights(self, terms: list[str]) -> dict[str, np.float32]:
        return {
            t: (idf32(df, self.n_docs) * np.float32(2.2)).astype(np.float32)
            for t, df in self._dfs(terms).items()
        }

    def search_intervals(self, query, k: int = 10) -> DataFrame:
        """Positional/interval query over the PACKED index: per segment,
        decode positions only for docs containing every required term
        (PostingFeatures.POSITIONS analog — the positions column is read
        only on this path), run the minimal-interval kernel per doc, score
        with IntervalFilterQuery semantics (freq()==1, summed idf)."""
        from ..codecs.varbyte import unpack_positions_flat
        from ..intervals import kernel as IK
        from ..intervals import vectorized as VK
        from ..search import queries as Q

        leaf_terms = sorted(set(Q.terms_of(query)))
        dfs = self._dfs(leaf_terms)
        sum_idf = np.float32(0.0)
        for t in Q.terms_of(query):  # float32 accumulation, idfExplain-style
            sum_idf = np.float32(sum_idf + idf32(dfs.get(t, 0), self.n_docs))
        weight = np.float32(sum_idf * np.float32(2.2))
        cache = self.cache
        q = query
        freq_mode = (
            "count"
            if isinstance(q, (Q.Phrase, Q.MultiPhrase, Q.NGramPhrase))
            and getattr(q, "slop", 0) == 0
            else ("sloppy" if isinstance(q, Q.Phrase) else "one")
        )
        # classic-scorer sloppy phrase / sloppy multi-phrase:
        # SloppyPhraseScorer walk, never the interval iterators
        # (PhraseQuery.java:296, MultiPhraseQuery.java:269)
        classic_slots = None
        if (
            isinstance(q, Q.Phrase)
            and q.slop > 0
            and getattr(q, "scorer", "classic") == "classic"
        ):
            classic_slots = [frozenset((t,)) for t in q.terms]
        elif isinstance(q, Q.MultiPhrase) and q.slop > 0:
            classic_slots = [frozenset(s) for s in q.slots]
        classic_phrase = classic_slots is not None
        shape = VK.fast_shape(q)
        if classic_phrase and (
            shape is None or shape[0] not in ("csloppy2", "csloppyk", "csloppyr")
        ):
            shape = None  # multi-term slots: Python walk
        if classic_phrase and shape is not None:
            freq_mode = "sloppy"  # kernel returns the walk's sloppyFreq
        codec = self.codec

        def kernel(pdf: pd.DataFrame, ctx: _SegCtx) -> pd.DataFrame:
            base, norms = ctx.base, ctx.norms
            per_term = {}
            for _, r in pdf.iterrows():
                ids = unpack_doc_ids(r["doc_ids"], codec)
                tfs = unpack_tfs(r["tfs"], codec)
                flat, offs = unpack_positions_flat(r["positions"], tfs, codec)
                per_term[r["term"]] = (ids, flat, offs)

            if shape is not None:
                # vectorized: the segment's flat position streams become
                # (doc*stride + pos) key arrays; one numpy program per segment
                maxpos = max(
                    (int(flat.max()) if flat.size else 0)
                    for _, flat, _ in per_term.values()
                )
                stride = maxpos + len(per_term) + 2
                term_keys = {
                    t: np.repeat(ids, np.diff(offs)).astype(np.int64) * stride
                    + flat.astype(np.int64)
                    for t, (ids, flat, offs) in per_term.items()
                }
                docs, cnt, sfreq = VK.run_shape(shape, term_keys, stride)
                if ctx.tomb is not None and docs.size:
                    keep = ~np.isin(docs, ctx.tomb)
                    docs, cnt, sfreq = docs[keep], cnt[keep], sfreq[keep]
                if freq_mode == "count":
                    freq = cnt.astype(np.float32)
                elif freq_mode == "sloppy":
                    freq = sfreq.astype(np.float32)
                else:
                    freq = np.ones(docs.size, dtype=np.float32)
                nb = norms[docs - base]
                sc = (weight * freq / (freq + cache[nb])).astype(np.float32)
                return pd.DataFrame({"doc_id": docs.astype(np.int64), "score": sc})

            # fallback: per-doc lazy iterators (arbitrary nested trees)
            tombs = set() if ctx.tomb is None else set(ctx.tomb.tolist())
            all_ids = np.unique(np.concatenate([v[0] for v in per_term.values()]))
            out_ids, out_scores = [], []
            idx_of = {
                t: dict(zip(v[0].tolist(), range(v[0].size))) for t, v in per_term.items()
            }
            for d in all_ids.tolist():
                if d in tombs:
                    continue
                pos = {}
                for t, (ids, flat, offs) in per_term.items():
                    j = idx_of[t].get(d)
                    if j is not None:
                        pos[t] = flat[offs[j] : offs[j + 1]].tolist()
                if classic_phrase:
                    from ..search.sloppy import sloppy_slots_freq

                    nm, fr = sloppy_slots_freq(classic_slots, pos, q.slop)
                    if nm == 0:
                        continue
                    freq = np.float32(fr)
                    nb = norms[d - base]
                    sc = np.float32(weight * freq / (freq + cache[nb]))
                    out_ids.append(d)
                    out_scores.append(sc)
                    continue
                it = IK.build_iter(q, pos)
                if it is None:
                    continue
                items = it.items if isinstance(it, IK.ReplayIter) else IK._materialize(it)
                if not items:
                    continue
                if freq_mode == "count":
                    freq = np.float32(len(items))
                elif freq_mode == "sloppy":
                    freq = np.float32(
                        sum(1.0 / (dist + 1) if dist >= 0 else 1.0 for _, dist in items)
                    )
                else:
                    freq = np.float32(1.0)
                nb = norms[d - base]
                sc = np.float32(weight * freq / (freq + cache[nb]))
                out_ids.append(d)
                out_scores.append(sc)
            return pd.DataFrame(
                {"doc_id": np.array(out_ids, dtype=np.int64),
                 "score": np.array(out_scores, dtype=np.float32)}
            )

        postings = self._postings(leaf_terms, self._segs(leaf_terms))
        cols = ["seg", "term", "doc_ids", "tfs", "positions"]
        return _ordered(self._on_spark(postings, kernel, TOPK_SCHEMA, cols), k)

    def intervals_with_offsets(self, query) -> DataFrame:
        """(doc_id, begin, end, offset_begin, offset_end) for every surviving
        interval of `query`, with character offsets decoded straight from the
        packed OFFSETS posting stream (index built with keep_offsets=True) —
        the packed-path twin of Searcher.intervals_with_offsets; no
        re-tokenization anywhere."""
        from ..codecs.varbyte import unpack_offsets_flat, unpack_positions_flat
        from ..intervals import kernel as IK
        from ..search import queries as Q

        if not self.manifest.get("offsets"):
            raise ValueError("index was built without keep_offsets=True")
        from ..intervals import vectorized as VK

        leaf_terms = sorted(set(Q.terms_of(query)))
        q = query
        shape = VK.interval_shape(q)  # endpoint-extractable? decided driver-side
        codec = self.codec

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("begin", T.IntegerType()),
                T.StructField("end", T.IntegerType()),
                T.StructField("offset_begin", T.IntegerType()),
                T.StructField("offset_end", T.IntegerType()),
            ]
        )

        def kernel(pdf: pd.DataFrame, ctx: _SegCtx) -> pd.DataFrame:
            empty = pd.DataFrame(
                {c: [] for c in ["doc_id", "begin", "end", "offset_begin", "offset_end"]}
            ).astype("int64")
            per_term = {}
            for _, r in pdf.iterrows():
                ids = unpack_doc_ids(r["doc_ids"], codec)
                tfs = unpack_tfs(r["tfs"], codec)
                flat, offs = unpack_positions_flat(r["positions"], tfs, codec)
                fs, fe, _ = unpack_offsets_flat(r["offsets"], tfs, codec)
                per_term[r["term"]] = (ids, flat, offs, fs, fe)

            if shape is not None:
                # vectorized: surviving interval ENDPOINT keys from the flat
                # streams, then ONE merged searchsorted maps each endpoint to
                # its character offsets — no per-doc Python loop
                maxpos = max(
                    (int(flat.max()) if flat.size else 0)
                    for _, flat, _, _, _ in per_term.values()
                )
                stride = maxpos + len(per_term) + 2
                term_keys, key_parts, fs_parts, fe_parts = {}, [], [], []
                for t, (ids, flat, offs, fs, fe) in per_term.items():
                    keys = (
                        np.repeat(ids, np.diff(offs)).astype(np.int64) * stride
                        + flat.astype(np.int64)
                    )
                    term_keys[t] = keys
                    key_parts.append(keys)
                    fs_parts.append(fs)
                    fe_parts.append(fe)
                bkeys, ekeys = VK.run_shape_intervals(shape, term_keys, stride)
                if bkeys.size == 0:
                    return empty
                if ctx.tomb is not None:
                    keep = ~np.isin(bkeys // stride, ctx.tomb)
                    bkeys, ekeys = bkeys[keep], ekeys[keep]
                    if bkeys.size == 0:
                        return empty
                keys_all = np.concatenate(key_parts)
                fs_all = np.concatenate(fs_parts)
                fe_all = np.concatenate(fe_parts)
                order = np.argsort(keys_all, kind="stable")
                keys_sorted = keys_all[order]
                ob = np.asarray(fs_all)[order][
                    np.searchsorted(keys_sorted, bkeys)
                ]
                oe = np.asarray(fe_all)[order][
                    np.searchsorted(keys_sorted, ekeys)
                ]
                return pd.DataFrame(
                    {
                        "doc_id": (bkeys // stride).astype(np.int64),
                        "begin": (bkeys % stride).astype(np.int64),
                        "end": (ekeys % stride).astype(np.int64),
                        "offset_begin": ob.astype(np.int64),
                        "offset_end": oe.astype(np.int64),
                    }
                )

            tombs = set() if ctx.tomb is None else set(ctx.tomb.tolist())
            all_ids = np.unique(np.concatenate([v[0] for v in per_term.values()]))
            idx_of = {
                t: dict(zip(v[0].tolist(), range(v[0].size)))
                for t, v in per_term.items()
            }
            rows = []
            for d in all_ids.tolist():
                if d in tombs:
                    continue
                pos, omap = {}, {}
                for t, (ids, flat, offs, fs, fe) in per_term.items():
                    j = idx_of[t].get(d)
                    if j is not None:
                        sl = slice(offs[j], offs[j + 1])
                        ps = flat[sl]
                        pos[t] = ps.tolist()
                        for p, s0, e0 in zip(ps, fs[sl], fe[sl]):
                            omap[int(p)] = (int(s0), int(e0))
                m = IK.match_intervals(q, pos)
                if not m:
                    continue
                for b, e in m:
                    ob = omap.get(b, (0, 0))[0]
                    oe = omap.get(e, (0, 0))[1]
                    rows.append((d, b, e, ob, oe))
            if not rows:
                return empty
            return pd.DataFrame(
                rows, columns=["doc_id", "begin", "end", "offset_begin", "offset_end"]
            )

        postings = self._postings(leaf_terms, self._segs(leaf_terms))
        cols = ["seg", "term", "doc_ids", "tfs", "positions", "offsets"]
        return self._on_spark(postings, kernel, schema, cols, with_norms=False)

    def search_many(
        self,
        term_queries: list[str],
        k: int = 10,
        mode: str = "wand",
    ) -> DataFrame:
        """Batch top-k: score MANY single-term queries in ONE Spark job.

        The throughput shape for analytical/offline retrieval (and the
        honest scaling measurement: work per task grows with the query
        batch, so task-scheduling overhead amortizes).  Returns
        (query_term, doc_id, score, rank<=k) via per-segment kernels + one
        window.

        Term stats stay IN-PLAN: global df per term is aggregated from the
        same pruned scan and broadcast-joined back onto the postings, so no
        driver round-trip ever happens — one job end to end, weights
        computed vectorized inside the kernel from the df_total column.
        """
        from pyspark.sql import Window

        terms = sorted(set(term_queries))
        n_docs = self.n_docs
        cache = self.cache
        postings = self._postings(terms, self._segs(terms))
        stats = postings.groupBy("term").agg(F.sum("df").alias("df_total"))
        postings = postings.join(F.broadcast(stats), "term")

        schema = T.StructType(
            [
                T.StructField("query_term", T.StringType()),
                T.StructField("doc_id", T.LongType()),
                T.StructField("score", T.FloatType()),
            ]
        )

        codec = self.codec

        def kernel(pdf: pd.DataFrame, ctx: _SegCtx) -> pd.DataFrame:
            base, norms, tomb_arr = ctx.base, ctx.norms, ctx.tomb
            w_all = (
                idf32(pdf["df_total"].to_numpy(dtype=np.int64), n_docs)
                * np.float32(2.2)
            ).astype(np.float32)
            out_t, out_d, out_s = [], [], []
            # batched decode: one codec pass per CHUNK of rows (the registry
            # codecs decode concatenations), then a segmented gap-cumsum;
            # arithmetic is in-place.  Per-posting intermediate traffic is
            # the measured memory-bandwidth pin of this phase, so (a) every
            # avoided copy shows up in the scaling ratio — ids are .view()ed
            # not .astype()d, the idf weight is a per-row scalar slice
            # multiply instead of an np.repeat array, the norm->denom gather
            # goes through a doc-sized precomputed table — and (b) rows are
            # processed in bounded chunks so the 4 passes after decode run
            # over cache-resident arrays instead of streaming DRAM five
            # times (the fused-accumulation answer to the r6 scaling
            # diagnosis).  The id chain must stay int64: the cumsum runs
            # over the chunk concatenation (reset per row by seg_base
            # afterwards), so its running value is sum-of-max-doc-ids across
            # rows, far past 2^31.
            counts = pdf["df"].to_numpy(dtype=np.int64)
            offsets = np.zeros(counts.size + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            terms_col = pdf["term"].tolist()
            id_bufs = pdf["doc_ids"].tolist()
            tf_bufs = pdf["tfs"].tolist()
            dbd = cache[norms]  # per-doc denom base, one gather per task
            # chunk-level vector passes (NOT per-row: with a zipf vocabulary
            # most rows are tiny, and per-row numpy dispatch measured 5-10%
            # slower than chunked passes end to end)
            n_rows = counts.size
            row = 0
            while row < n_rows:
                row_end = row + 1
                total = int(counts[row])
                while row_end < n_rows and total + counts[row_end] <= _BATCH_CHUNK:
                    total += int(counts[row_end])
                    row_end += 1
                rel = offsets[row : row_end + 1] - offsets[row]
                ids_cat = codec.decode(b"".join(id_bufs[row:row_end])).view(np.int64)
                np.cumsum(ids_cat, out=ids_cat)
                seg_base = np.zeros(ids_cat.size, dtype=np.int64)
                starts = rel[:-1][counts[row:row_end] > 0]
                seg_base[starts[1:]] = ids_cat[starts[1:] - 1]
                np.maximum.accumulate(seg_base, out=seg_base)
                ids_cat -= seg_base
                tfs_cat = codec.decode(
                    b"".join(tf_bufs[row:row_end])
                ).astype(np.float32)
                np.subtract(ids_cat, base, out=seg_base)  # reuse as index
                denom = dbd[seg_base]
                denom += tfs_cat
                for i in range(row, row_end):
                    # scalar multiply keeps the canonical f32 op order
                    # (w*tf first) bit-identical to _exact_scores
                    tfs_cat[rel[i - row] : rel[i - row + 1]] *= w_all[i]
                tfs_cat /= denom
                sc_cat = tfs_cat
                if tomb_arr is not None:
                    dead = np.isin(ids_cat, tomb_arr)
                    sc_cat[dead] = np.float32(-1.0)  # never reaches top-k
                for i in range(row, row_end):
                    a, b2 = rel[i - row], rel[i - row + 1]
                    ids_k, sc_k = _topk(ids_cat[a:b2], sc_cat[a:b2], k)
                    out_t.extend([terms_col[i]] * ids_k.size)
                    out_d.append(ids_k)
                    out_s.append(sc_k)
                row = row_end
            return pd.DataFrame(
                {
                    "query_term": pd.Series(out_t, dtype="object"),
                    "doc_id": np.concatenate(out_d or [np.empty(0, np.int64)]),
                    "score": np.concatenate(out_s or [np.empty(0, np.float32)]),
                }
            )

        per_seg = self._on_spark(
            postings, kernel, schema, _scoring_cols(postings, "df_total")
        )
        w = Window.partitionBy("query_term").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_seg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )

    def search(
        self, terms: list[str], k: int = 10, mode: str = "wand", conjunctive: bool = False
    ) -> DataFrame:
        """Top-k for one query: scan_with_weights with the searcher's own
        weights, which come from the per-snapshot _dfs memo (a driver-side
        term-dictionary seek per UNSEEN term — bounded by the query
        workload, never the vocabulary).

        Shape note (r10, measured): the r9 in-plan variant (stats
        aggregated in the same job and broadcast-joined back) re-priced
        every query at ~0.85 s vs 0.15 s stats + 0.62 s kernel separate at
        sf0.1 — the broadcast exchange + AQE replan inside the query job
        cost more than a driver round-trip, and the memo makes repeated
        terms (an interactive workload's common case) skip the stats job
        entirely.  Weight VALUES are identical either way (missing terms
        have no postings rows, so their weight never multiplies anything)."""
        return self.scan_with_weights(
            terms, self._weights(terms), self.cache, k, mode, conjunctive
        )

    def count(self, terms: list[str], conjunctive: bool = False) -> int:
        """TotalHitCountCollector over the packed index: per-segment numpy
        counting on either executor.  Doc ids are globally disjoint across
        segments (contiguous ranges by construction), so the total is the
        SUM of per-segment counts — no explode, no corpus-wide distinct
        shuffle.  It reads only doc_ids, a subset of the scoring columns,
        so it shares search's byte gate and snapshot caches."""
        codec = self.codec
        n_required = len(set(terms))

        def kernel(pdf: pd.DataFrame, ctx: _SegCtx | None) -> pd.DataFrame:
            if pdf.empty:
                return pd.DataFrame({"n": [0]})
            ids = np.concatenate([unpack_doc_ids(b, codec) for b in pdf["doc_ids"]])
            if conjunctive:
                u, c = np.unique(ids, return_counts=True)
                u = u[c >= n_required]
            else:
                u = np.unique(ids)
            if ctx.tomb is not None:
                u = u[~np.isin(u, ctx.tomb)]
            return pd.DataFrame({"n": [int(u.size)]})

        schema = T.StructType([T.StructField("n", T.LongType())])
        out = self._execute(
            terms, kernel, schema, conjunctive=conjunctive,
            cols=["seg", "term", "doc_ids"], with_norms=False,
        )
        if isinstance(out, pd.DataFrame):
            return int(out["n"].sum())
        return int(out.agg(F.sum("n")).collect()[0][0] or 0)

    def scan_with_weights(
        self,
        terms: list[str],
        weights: dict,
        cache,
        k: int,
        mode: str = "wand",
        conjunctive: bool = False,
    ) -> DataFrame:
        """Ordered top-k with CALLER-SUPPLIED weights and norm cache — the
        shard-side half of distributed search: a coordinator computes
        globally consistent stats (summed df, global avgdl) and each shard
        scores with them (Solr distributed IDF / ExactStatsCache role)."""
        codec = self.codec

        def kernel(pdf: pd.DataFrame, ctx: _SegCtx | None) -> pd.DataFrame:
            return segment_topk_kernel(
                pdf, ctx, weights, cache, k, mode, conjunctive, codec
            )

        return self._execute(terms, kernel, TOPK_SCHEMA, k=k, conjunctive=conjunctive)

    # ------------------------------------------------------------ the core
    def _segs(self, terms: list[str]) -> list[int]:
        """Candidate segments: live ones, bloom-pruned."""
        cands = self.candidate_segs(terms)
        return list(self.live) if cands is None else cands

    def _postings(self, terms: list[str], segs: list[int]) -> DataFrame:
        """The postings relation pruned to `terms` (predicate pushdown) and
        to `segs` (partition pruning)."""
        if len(terms) > 32:
            # broadcast hash semi-join beats a giant per-row IN list (and is
            # the shape that survives 10^5-term batches at cluster scale)
            terms_df = self.spark.createDataFrame([(t,) for t in terms], ["term"])
            postings = self.postings.join(F.broadcast(terms_df), "term", "left_semi")
        else:
            postings = self.postings.where(F.col("term").isin(terms))
        if len(segs) < len(self.live):
            postings = postings.where(F.col("seg").isin(segs))
        return postings

    def _on_spark(
        self, postings: DataFrame, kernel, schema, cols: list[str],
        n_required: int = 0, with_norms: bool = True,
    ) -> DataFrame:
        """The Spark executor: the per-segment kernel outputs of one
        groupBy("seg").applyInPandas over the projected postings — a
        segment's rows reach ONE kernel call with that segment's context
        (SNIPPETS [3]: one group, one call).  The context is loaded
        task-side, so norms never enter the plan: the norms RELATION is
        total-corpus doc-count bytes (~1 TB at 10^12 docs) and must never
        be shuffled or broadcast; per-task memory stays one segment's blob.
        Segments holding fewer than `n_required` distinct query terms
        return the kernel's empty output."""
        index_dir, spilled, tombstones = self.index_dir, self._spilled, self.tombstones

        def _run(pdf: pd.DataFrame) -> pd.DataFrame:
            if n_required and pdf["term"].nunique() < n_required:
                return kernel(pdf.iloc[:0], None)
            ctx = _seg_ctx(
                index_dir, int(pdf["seg"].iloc[0]), spilled, tombstones, with_norms
            )
            return kernel(pdf, ctx)

        return postings.select(*cols).groupBy("seg").applyInPandas(_run, schema)

    def _execute(
        self, terms: list[str], kernel, schema, k: int | None = None,
        conjunctive: bool = False, cols: list[str] | None = None,
        with_norms: bool = True,
    ):
        """The runner: candidate segments, the required-term check of a
        conjunction, and the one local-vs-Spark decision — the coordinator
        executor when its slot is free and the byte gate admits the
        candidate row groups, else the Spark executor (see the
        _driver_topk block comment).  With `k`, returns the ordered top-k
        as a DataFrame; without, the per-segment outputs (pandas when the
        coordinator ran the query).  `cols` is the Spark projection
        (default: the scoring columns)."""
        segs = self._segs(terms)
        n_required = len(set(terms)) if conjunctive else 0
        if _DRIVER_EXEC_SLOTS.acquire(blocking=False):
            try:
                out = _driver_topk(self, segs, terms, kernel, k, n_required)
            finally:
                _DRIVER_EXEC_SLOTS.release()
            if out is not None:
                if k is None:
                    return out
                # pandas + Arrow -> LocalTableScan: collect() without a job
                # (~25 ms vs ~220 ms for the ExistingRDD tuple path, measured)
                return self.spark.createDataFrame(out, schema=schema)
        postings = self._postings(terms, segs)
        rel = self._on_spark(
            postings, kernel, schema, cols or _scoring_cols(postings),
            n_required, with_norms,
        )
        return rel if k is None else _ordered(rel, k)


def _ordered(rel: DataFrame, k: int) -> DataFrame:
    """The final merge of per-segment top-k rows: (score desc, doc_id asc)
    LIMIT k (HitQueue order)."""
    return rel.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
