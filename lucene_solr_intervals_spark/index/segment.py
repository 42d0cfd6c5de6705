"""Packed segment store: LSM-style immutable segments + manifest.

Maps the reference's segment architecture (SURVEY.md §3.1) to Spark:

  DocumentsWriterPerThread (shared-nothing ingest) -> one Spark task per
      segment: groupBy(seg).applyInPandas builds a whole segment with zero
      cross-partition traffic (the only shuffle is the seg hash)
  FreqProxTermsWriter.flush (term-sorted postings)  -> per-segment invert +
      sort + numpy varbyte pack (codecs.varbyte)
  Lucene41 skip data                                -> per-128-doc block
      metadata (last docid, max tf, min norm byte) = block-max WAND input
  segments_N two-phase commit                       -> manifest.json written
      via temp file + atomic rename after all segment parquet lands
  TieredMergePolicy + SegmentMerger                 -> plan_merges() +
      merge_segments(): repartitionByRange(term) sort-merge, concat posting
      streams (doc ids are global and segments hold disjoint contiguous doc
      ranges, so concatenation in doc_base order is already sorted — the
      docID-rebasing step of SegmentMerger.mergeTerms:110 is a no-op here
      by construction)
  CheckIndex                                        -> verify_index()

Resumability (north rule): the manifest records per-segment status +
lineage + metrics; build_segments(resume=True) skips segments already
'done', so a killed job continues where it stopped.

Layout under index_dir/:
  postings/seg=<id>/*.parquet   (term-sorted within files)
  docs/seg=<id>/*.parquet
  manifest.json                 {segments: [{seg, doc_base, n_docs, ...}]}
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.tokenizer import ANALYZERS
from ..codecs.varbyte import (
    BLOCK_SIZE,
    block_meta,
    pack_doc_ids,
    pack_tfs,
    unpack_doc_ids,
    unpack_tfs,
    vb_decode,
    vb_encode,
    vb_encode_batch,
)
from ..scoring.smallfloat import encode_norm

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("ttf", T.LongType()),
        T.StructField("doc_ids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
        T.StructField("block_last", T.BinaryType()),
        T.StructField("block_max_tf", T.BinaryType()),
        T.StructField("block_max_nb", T.BinaryType()),
        # skip data (Lucene41SkipWriter analog): byte offset of each
        # 128-value block inside doc_ids / tfs, so WAND decodes ONLY the
        # blocks whose upper bound can still matter
        T.StructField("block_id_offs", T.BinaryType()),
        T.StructField("block_tf_offs", T.BinaryType()),
        # OFFSETS posting stream (optional — build_segments(keep_offsets=True)):
        # per-doc interleaved (start_delta, length) pairs, aligned with the
        # positions stream (Lucene41PostingsWriter offsets, :324-339)
        T.StructField("offsets", T.BinaryType()),
    ]
)

NORMS_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType()),
        T.StructField("doc_base", T.LongType()),
        T.StructField("span", T.LongType()),
        T.StructField("norm_bytes", T.BinaryType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("doclen", T.IntegerType()),
        # raw emitted-token count incl. posInc=0 overlaps (== doclen for
        # non-overlap analyzers); per-seg sums = sumTotalTermFreq, the
        # avgdl numerator (BM25Similarity.java:82-89)
        T.StructField("n_tok", T.LongType()),
        T.StructField("norm_byte", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
    ]
)


def _invert_segment(pdf: pd.DataFrame, codec=None) -> pd.DataFrame:
    """Build one segment's postings from tokenized docs (runs per seg group).

    Fully vectorized invert — the FreqProxTermsWriter flush re-expressed as
    array ops: flatten all (term, doc, pos) occurrences, factorize terms,
    one stable argsort brings occurrences into (term, doc, pos) order, and
    run-length boundaries give per-(term,doc) tfs.  No per-token Python.

    `codec` (codecs.registry.IntStreamCodec, None = varbyte) encodes the
    doc-id / tf / position / offset streams; skip offsets use the SAME
    codec's per-value widths so block byte starts stay valid for any
    registered format.
    """
    if codec is None:
        from ..codecs.registry import VARBYTE as codec  # noqa: N813
    seg = int(pdf["seg"].iloc[0])
    pdf = pdf.sort_values("doc_id")
    doc_ids_col = pdf["doc_id"].to_numpy(dtype=np.int64)
    lens = np.fromiter((len(t) for t in pdf["terms"]), dtype=np.int64, count=len(pdf))
    if lens.sum() == 0:
        return pd.DataFrame([], columns=[f.name for f in POSTINGS_SCHEMA.fields])
    terms_flat = np.concatenate([np.asarray(t, dtype=object) for t in pdf["terms"]])
    pos_flat = np.concatenate(
        [np.asarray(p, dtype=np.int64) for p in pdf["positions"]]
    )
    with_offsets = "starts" in pdf.columns
    if with_offsets:
        starts_flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["starts"]]
        )
        ends_flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["ends"]]
        )
    else:
        starts_flat = ends_flat = None
    doc_rep = np.repeat(doc_ids_col, lens)
    nb_rep = np.repeat(pdf["norm_byte"].to_numpy(dtype=np.int64), lens)
    return _invert_occurrences(
        seg, terms_flat, pos_flat, doc_rep, nb_rep, starts_flat, ends_flat, codec
    )


def _invert_occurrences(
    seg: int,
    terms_flat: np.ndarray,
    pos_flat: np.ndarray,
    doc_rep: np.ndarray,
    nb_rep: np.ndarray,
    starts_flat: np.ndarray | None = None,
    ends_flat: np.ndarray | None = None,
    codec=None,
) -> pd.DataFrame:
    """Invert a FLAT occurrence stream (doc-major, position order) into one
    segment's packed postings.  `doc_rep`/`nb_rep` repeat doc_id/norm_byte
    per occurrence; the stream must be sorted by (doc_id, position)."""
    if codec is None:
        from ..codecs.registry import VARBYTE as codec  # noqa: N813
    if terms_flat.size == 0:
        return pd.DataFrame([], columns=[f.name for f in POSTINGS_SCHEMA.fields])
    with_offsets = starts_flat is not None

    codes, uniques = pd.factorize(pd.Series(terms_flat), sort=True)
    order = np.argsort(codes, kind="stable")  # stable keeps (doc, pos) order
    tc, dr, pf, nbr = codes[order], doc_rep[order], pos_flat[order], nb_rep[order]
    if with_offsets:
        sf_, ef_ = starts_flat[order], ends_flat[order]

    # (term, doc) run boundaries over the sorted occurrence stream
    new_run = np.empty(tc.size, dtype=bool)
    new_run[0] = True
    new_run[1:] = (tc[1:] != tc[:-1]) | (dr[1:] != dr[:-1])
    run_starts = np.nonzero(new_run)[0]
    run_ends = np.append(run_starts[1:], tc.size)
    tfs_all = (run_ends - run_starts).astype(np.int64)
    run_doc = dr[run_starts]
    run_nb = nbr[run_starts]
    run_term = tc[run_starts]

    # per-doc position deltas in one shot: pos - prev_pos, reset at run starts
    deltas = np.empty(pf.size, dtype=np.int64)
    deltas[1:] = pf[1:] - pf[:-1]
    deltas[run_starts] = pf[run_starts]

    # per-term slices over the run arrays
    n_terms = len(uniques)
    term_run_starts = np.searchsorted(run_term, np.arange(n_terms))
    term_run_offsets = np.append(term_run_starts, run_term.size)
    occ_offsets = np.zeros(run_term.size + 1, dtype=np.int64)
    np.cumsum(tfs_all, out=occ_offsets[1:])

    # delta-gap doc ids WITHIN each term (reset at term starts)
    doc_deltas = np.empty(run_doc.size, dtype=np.int64)
    doc_deltas[1:] = run_doc[1:] - run_doc[:-1]
    doc_deltas[term_run_starts] = run_doc[term_run_starts]

    # batch encode: one vectorized pass each for ids / tfs / positions
    ids_bufs = codec.encode_batch(doc_deltas.astype(np.uint64), term_run_offsets)
    tfs_bufs = codec.encode_batch(tfs_all.astype(np.uint64), term_run_offsets)
    pos_bufs = codec.encode_batch(
        deltas.astype(np.uint64), occ_offsets[term_run_offsets]
    )
    if with_offsets:
        # interleaved (start_delta, length) pairs per occurrence, deltas
        # resetting at run starts like positions
        sdel = np.empty(sf_.size, dtype=np.int64)
        sdel[1:] = sf_[1:] - sf_[:-1]
        sdel[run_starts] = sf_[run_starts]
        inter = np.empty(2 * sf_.size, dtype=np.int64)
        inter[0::2] = sdel
        inter[1::2] = ef_ - sf_
        off_bufs = codec.encode_batch(
            inter.astype(np.uint64), 2 * occ_offsets[term_run_offsets]
        )
    else:
        off_bufs = None

    # vectorized block metadata: block boundaries every BLOCK_SIZE runs
    # within each term (reduceat over global block starts)
    rel = np.arange(run_term.size, dtype=np.int64) - term_run_starts[run_term]
    bstart_mask = (rel % BLOCK_SIZE) == 0
    bstarts = np.nonzero(bstart_mask)[0]
    bends = np.append(bstarts[1:], run_term.size)
    blk_last = run_doc[bends - 1]
    blk_max_tf = np.maximum.reduceat(tfs_all, bstarts).astype(np.int32)
    blk_max_nb = np.maximum.reduceat(run_nb, bstarts).astype(np.int32)
    blk_term = run_term[bstarts]
    term_blk_offsets = np.append(
        np.searchsorted(blk_term, np.arange(n_terms)), blk_term.size
    )

    # skip data: byte offset of each block start within its term's encoded
    # doc_ids / tfs buffers (one vectorized pass over per-value byte counts).
    # Grouped form: a block codec's layout restarts at each term's stream
    # start, so widths must be computed per term run, not over the concat.
    from ..codecs.registry import nbytes_grouped

    id_nb = nbytes_grouped(codec, doc_deltas.astype(np.uint64), term_run_offsets)
    tf_nb = nbytes_grouped(codec, tfs_all.astype(np.uint64), term_run_offsets)
    id_bs = np.zeros(run_term.size, dtype=np.int64)
    id_bs[1:] = np.cumsum(id_nb)[:-1]
    tf_bs = np.zeros(run_term.size, dtype=np.int64)
    tf_bs[1:] = np.cumsum(tf_nb)[:-1]
    term_first_run = term_run_starts[blk_term]
    blk_id_off = id_bs[bstarts] - id_bs[term_first_run]
    blk_tf_off = tf_bs[bstarts] - tf_bs[term_first_run]

    df_all = (term_run_offsets[1:] - term_run_offsets[:-1]).astype(np.int64)
    ttf_all = np.add.reduceat(tfs_all, term_run_offsets[:-1]).astype(np.int64)

    rows = []
    for ti in range(n_terms):
        ba, bb = term_blk_offsets[ti], term_blk_offsets[ti + 1]
        rows.append(
            {
                "seg": seg,
                "term": uniques[ti],
                "df": int(df_all[ti]),
                "ttf": int(ttf_all[ti]),
                "doc_ids": ids_bufs[ti],
                "tfs": tfs_bufs[ti],
                "positions": pos_bufs[ti],
                "block_last": blk_last[ba:bb].astype(np.int64).tobytes(),
                "block_max_tf": blk_max_tf[ba:bb].tobytes(),
                "block_max_nb": blk_max_nb[ba:bb].tobytes(),
                "block_id_offs": blk_id_off[ba:bb].tobytes(),
                "block_tf_offs": blk_tf_off[ba:bb].tobytes(),
                "offsets": off_bufs[ti] if off_bufs is not None else b"",
            }
        )
    return pd.DataFrame(
        rows,
        columns=[f.name for f in POSTINGS_SCHEMA.fields],
    )


def _norms_blob(pdf: pd.DataFrame) -> pd.DataFrame:
    """One row per segment: norm bytes + doclens as dense arrays indexed by
    (doc_id - doc_base).  Joined seg-wise at query time so scoring kernels
    never shuffle the docs table."""
    seg = int(pdf["seg"].iloc[0])
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    base = int(ids.min())
    span = int(ids.max()) - base + 1
    nb = np.zeros(span, dtype=np.uint8)
    nb[ids - base] = pdf["norm_byte"].to_numpy(dtype=np.int64).astype(np.uint8)
    return pd.DataFrame(
        [
            {
                "seg": seg,
                "doc_base": base,
                "span": span,
                "norm_bytes": nb.tobytes(),
            }
        ]
    )


# Sidecar row per segment inside the postings table: carries the packed
# per-doc data (ids, doclens, norm bytes, shas) so ONE fused pass produces
# everything; real terms can never collide with it (analyzer strips \x00)
DOCS_MARKER = "\x00__docs__"


def _tokenize_pdf(pdf: pd.DataFrame, analyzer: str, keep_offsets: bool = False) -> pd.DataFrame:
    """Tokenize a raw (seg, doc_id, _text) frame in place (kernel-side).
    keep_offsets adds aligned char-offset streams (OFFSETS posting feature)."""
    import hashlib

    cols = {"terms": [], "positions": [], "doclen": [], "sha256": []}
    if keep_offsets:
        from ..analysis.tokenizer import OFFSET_ANALYZERS

        fn = OFFSET_ANALYZERS[analyzer]
        cols["starts"], cols["ends"] = [], []
        for t in pdf["_text"]:
            terms, positions, starts, ends, doclen = fn(t)
            cols["terms"].append(terms)
            cols["positions"].append(positions)
            cols["starts"].append(starts)
            cols["ends"].append(ends)
            cols["doclen"].append(doclen)
            cols["sha256"].append(hashlib.sha256((t or "").encode("utf-8")).hexdigest())
    else:
        fn = ANALYZERS[analyzer]
        for t in pdf["_text"]:
            terms, positions, doclen = fn(t)
            cols["terms"].append(terms)
            cols["positions"].append(positions)
            cols["doclen"].append(doclen)
            cols["sha256"].append(hashlib.sha256((t or "").encode("utf-8")).hexdigest())
    lens = np.maximum(np.array(cols["doclen"], dtype=np.int64), 1)
    out = {
        "seg": pdf["seg"].to_numpy(),
        "doc_id": pdf["doc_id"].to_numpy(),
        "sha256": cols["sha256"],
        "terms": cols["terms"],
        "positions": cols["positions"],
        "doclen": cols["doclen"],
        "norm_byte": encode_norm(lens).astype(np.int64),
    }
    if keep_offsets:
        out["starts"] = cols["starts"]
        out["ends"] = cols["ends"]
    return pd.DataFrame(out)


def _docs_sidecar_row(seg: int, tok: pd.DataFrame) -> dict:
    """Pack the per-doc columns of one segment into a single postings row.

    `block_max_tf` (unused by marker rows otherwise) carries the per-doc
    RAW token counts (n_tok — every emitted token, posInc=0 overlaps
    included).  doclen stays the overlap-DISCOUNTED norm length; the two
    are identical for non-overlap analyzers.  sum(n_tok) is Lucene's
    sumTotalTermFreq, the avgdl numerator (BM25Similarity.java:82-89)."""
    ids = tok["doc_id"].to_numpy(dtype=np.int64)
    doclens = tok["doclen"].to_numpy(dtype=np.int64)
    if "n_tok" in tok.columns:
        # fillna: rows from pre-n_tok parquet files arrive as null in a
        # mixed-schema index — treat them as doclen (exact for non-overlap
        # analyzers, same rule as the column-absent fallback below).
        n_tok = (
            tok["n_tok"].astype("float64").fillna(pd.Series(doclens, index=tok.index))
            .to_numpy(dtype=np.int64)
        )
    else:
        n_tok = doclens
    nbs = tok["norm_byte"].to_numpy(dtype=np.int64).astype(np.uint8)
    shas = "".join(tok["sha256"]).encode("ascii")
    return {
        "seg": seg,
        "term": DOCS_MARKER,
        "df": int(ids.size),
        "ttf": int(doclens.sum()),
        "doc_ids": pack_doc_ids(ids),
        "tfs": vb_encode(doclens.astype(np.uint64)),
        "positions": nbs.tobytes(),
        "block_last": shas,
        "block_max_tf": vb_encode(n_tok.astype(np.uint64)),
        "block_max_nb": b"",
        "block_id_offs": b"",
        "block_tf_offs": b"",
        "offsets": b"",
    }


def _tokenize_flat_pdf(
    g: pd.DataFrame, ftok
) -> tuple[pd.DataFrame, dict]:
    """Tokenize one segment's (seg, doc_id, _text) rows via the batched
    flat tokenizer (analysis.tokenizer.tokenize_flat — ONE buffer pass, no
    per-doc Python in the fast path).  Returns (docmeta, flat):
    docmeta = per-doc frame sorted by doc_id (seg, doc_id, doclen,
    norm_byte, sha256); flat = occurrence arrays keyed by doc row index."""
    import hashlib

    g = g.sort_values("doc_id")
    texts = g["_text"].tolist()
    flat = ftok(texts)
    doclens = flat["doclens"]
    docmeta = pd.DataFrame(
        {
            "seg": g["seg"].to_numpy(),
            "doc_id": g["doc_id"].to_numpy(dtype=np.int64),
            "doclen": doclens,
            # raw emitted-token count (overlaps included) — sumTotalTermFreq
            "n_tok": np.bincount(
                flat["doc_idx"], minlength=len(texts)
            ).astype(np.int64),
            "norm_byte": encode_norm(np.maximum(doclens, 1)).astype(np.int64),
            "sha256": [
                hashlib.sha256((t or "").encode("utf-8")).hexdigest() for t in texts
            ],
        }
    )
    return docmeta, flat


def _fused_build_fn(analyzer: str, keep_offsets: bool = False, codec: str = "varbyte"):
    """mapInPandas kernel: tokenize + invert + pack every segment in the
    partition (repartitionByRange(seg) guarantees a segment never spans
    partitions), emitting postings rows plus one docs sidecar row per seg.
    The tokenize step is the batched flat path — occurrences go straight
    from the shared byte buffer into _invert_occurrences without building
    per-doc Python lists."""

    from ..analysis.tokenizer import flat_tokenizer

    ftok = flat_tokenizer(analyzer, keep_offsets=keep_offsets)

    def fn(batches):
        from ..codecs.registry import get_codec

        cdc = get_codec(codec)
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        for seg, g in pdf.groupby("seg", sort=True):
            docmeta, flat = _tokenize_flat_pdf(g, ftok)
            di = flat["doc_idx"]
            doc_ids = docmeta["doc_id"].to_numpy(dtype=np.int64)
            nbs = docmeta["norm_byte"].to_numpy(dtype=np.int64)
            out = _invert_occurrences(
                int(seg),
                flat["terms"],
                flat["positions"],
                doc_ids[di],
                nbs[di],
                flat.get("starts"),
                flat.get("ends"),
                codec=cdc,
            )
            side = pd.DataFrame([_docs_sidecar_row(int(seg), docmeta)])
            yield pd.concat([out, side], ignore_index=True)

    return fn


def _docs_from_sidecar(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sidecar rows -> per-doc rows (seg, doc_id, doclen, n_tok,
    norm_byte, sha256).  Sidecars written before the n_tok stream existed
    fall back to n_tok = doclen (exact for non-overlap analyzers)."""
    rows = {
        "seg": [], "doc_id": [], "doclen": [], "n_tok": [],
        "norm_byte": [], "sha256": [],
    }
    for _, r in pdf.iterrows():
        ids = unpack_doc_ids(r["doc_ids"])
        doclens = vb_decode(r["tfs"]).astype(np.int64)
        ntb = r["block_max_tf"]
        n_tok = vb_decode(ntb).astype(np.int64) if ntb else doclens
        nbs = np.frombuffer(r["positions"], dtype=np.uint8)
        shas = r["block_last"].decode("ascii")
        rows["seg"].extend([int(r["seg"])] * ids.size)
        rows["doc_id"].extend(ids.tolist())
        rows["doclen"].extend(doclens.tolist())
        rows["n_tok"].extend(n_tok.tolist())
        rows["norm_byte"].extend(nbs.astype(np.int64).tolist())
        rows["sha256"].extend(shas[i * 64 : (i + 1) * 64] for i in range(ids.size))
    return pd.DataFrame(rows)


def _sidecar_from_docs(pdf: pd.DataFrame) -> pd.DataFrame:
    """Docs rows of ONE segment -> its sidecar postings row (used by merge
    and NRT append so every live segment has a sidecar).  Carries the
    per-doc n_tok stream like _docs_sidecar_row (falls back to doclen for
    docs written before the stream existed)."""
    pdf = pdf.sort_values("doc_id")
    return pd.DataFrame(
        [_docs_sidecar_row(int(pdf["seg"].iloc[0]), pdf)],
        columns=[f.name for f in POSTINGS_SCHEMA.fields],
    )


def _norms_from_sidecar(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for _, r in pdf.iterrows():
        ids = unpack_doc_ids(r["doc_ids"])
        nbs = np.frombuffer(r["positions"], dtype=np.uint8)
        base = int(ids.min())
        span = int(ids.max()) - base + 1
        dense = np.zeros(span, dtype=np.uint8)
        dense[ids - base] = nbs
        out.append(
            {"seg": int(r["seg"]), "doc_base": base, "span": span,
             "norm_bytes": dense.tobytes()}
        )
    return pd.DataFrame(out)


def _write_seg_partitioned(pdf: pd.DataFrame, path: str, kind: str) -> None:
    """Driver-side write of a small docs/norms frame in the SAME seg=N
    partition layout (and physical column types) Spark's
    ``partitionBy("seg")`` produces, so every reader — Spark partitioned
    scans, mergeSchema docs loads, and the task-side per-file norms read
    (`wand._seg_norms_pdf`) — sees an identical table.  Used only by the
    byte-gated driver tail of `build_segments`."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    if kind == "docs":
        schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("doclen", pa.int32()),
                ("n_tok", pa.int64()),
                ("norm_byte", pa.int32()),
                ("sha256", pa.string()),
            ]
        )
    else:
        schema = pa.schema(
            [
                ("doc_base", pa.int64()),
                ("span", pa.int64()),
                ("norm_bytes", pa.binary()),
            ]
        )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    cols = [f.name for f in schema]
    for seg, g in pdf.groupby("seg", sort=True):
        d = os.path.join(path, f"seg={int(seg)}")
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pandas(
            g[cols].reset_index(drop=True), schema=schema, preserve_index=False
        )
        pq.write_table(tbl, os.path.join(d, "part-00000.parquet"))


def assign_doc_ids(corpus: DataFrame, order_cols: tuple[str, ...]) -> DataFrame:
    """Deterministic dense doc ids = global rank by `order_cols`, WITHOUT a
    single-partition window (the F1 canonical ordering, FIXTURES.md).

    Two-pass prefix-sum (the zipWithIndex pattern): range-shuffle + sort on
    the order columns, count rows per partition, prefix-sum the counts on
    the driver (one tiny collect), then a mapInPandas pass stamps
    doc_id = partition_offset + local_row_number.  The global rank is
    invariant to where the range boundaries fall (order keys are unique), so
    ids are reproducible run-to-run; the frame is persisted so the count
    pass and the build pass see identical partitioning.  Every stage is
    parallel — no task ever sees more than one partition of rows.
    """
    import numpy as np

    spark = corpus.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    parts = (
        corpus.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .persist()
    )
    counts = {
        int(r["pid"]): int(r["n"])
        for r in parts.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in range(max(counts, default=-1) + 1):
        offsets[pid] = acc
        acc += counts.get(pid, 0)

    out_schema = T.StructType(
        list(corpus.schema.fields) + [T.StructField("doc_id", T.LongType())]
    )

    def _stamp(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        nxt = offsets.get(pid, 0)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["doc_id"] = np.arange(nxt, nxt + len(pdf), dtype=np.int64)
            nxt += len(pdf)
            yield pdf

    return parts.mapInPandas(_stamp, out_schema)


def build_segments(
    corpus: DataFrame,
    index_dir: str,
    n_segments: int = 32,
    id_col: str | None = None,
    text_col: str = "text",
    analyzer: str = "code",
    order_cols: tuple[str, ...] = ("repo", "path"),
    resume: bool = False,
    n_docs_hint: int | None = None,
    keep_offsets: bool = False,
    codec: str = "varbyte",
    bloom: bool = False,
) -> dict:
    """Tokenize + invert + pack the corpus into `n_segments` parquet segments.

    Deterministic global_doc_id: either `id_col` (already dense) or
    row_number over `order_cols` - 1 (FIXTURES.md F1 canonical ordering —
    fixes the (score, docID) tie-break so runs are reproducible).
    seg = doc_id % n_segments? NO — contiguous ranges: seg = doc_id * n / N
    keeps each segment a disjoint contiguous doc range so merges never
    re-sort doc ids.
    """
    t0 = time.time()
    spark = corpus.sparkSession
    n_total = n_docs_hint if n_docs_hint is not None else corpus.count()
    docs_per_seg = max(1, (n_total + n_segments - 1) // n_segments)

    if id_col is None:
        corpus = assign_doc_ids(corpus, order_cols)
        id_col = "doc_id"

    done: set[int] = set()
    manifest_path = os.path.join(index_dir, "manifest.json")
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            prev = json.load(f)
        done = {s["seg"] for s in prev["segments"] if s.get("status") == "done"}

    base = corpus.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("_text"),
    ).withColumn("seg", (F.col("doc_id") / F.lit(docs_per_seg)).cast("int"))
    if done:
        base = base.where(~F.col("seg").isin(sorted(done)))

    # ONE range shuffle of RAW TEXT on seg (a key never splits across
    # partitions), then a single fused mapInPandas pass does tokenize +
    # invert + pack and emits postings rows + one docs sidecar row per
    # segment.  No token-array shuffle, no second tokenize, no persist.
    from ..codecs.registry import get_codec

    get_codec(codec)  # fail fast on unknown codec, before any Spark work
    n_remaining = n_segments - len(done)
    fused = base.repartitionByRange(max(n_remaining, 1), "seg").mapInPandas(
        _fused_build_fn(analyzer, keep_offsets, codec), POSTINGS_SCHEMA
    )
    # dynamic partition overwrite: a resumed build rewrites exactly the
    # partitions of the segments it re-processes (idempotent even if a
    # previous run died mid-write of a segment)
    overwrite_mode = "dynamic" if done else "static"
    fused.write.mode("overwrite").option(
        "partitionOverwriteMode", overwrite_mode
    ).partitionBy("seg").parquet(os.path.join(index_dir, "postings"))

    # derive docs + norms + manifest stats from the sidecar rows (one row
    # per segment).  Two value-identical tails (pinned by
    # test_build_tail_driver_matches_spark):
    #
    #   * driver tail (byte-gated): ONE pruned-column scan collects the
    #     n_segments sidecar rows (~100 B/doc of packed streams), docs and
    #     norms are expanded in pandas and written with pyarrow in the same
    #     seg=N partition layout.  This removes the sidecar persist+count
    #     job, both partitioned Spark write jobs and both manifest collects
    #     — each of which is mostly fixed scheduler/commit latency that
    #     dominates the build tail at small-corpus scale.
    #   * Spark tail (the at-scale shape): docs is a corpus-sized relation,
    #     so above the gate the sidecar is persisted and expanded by
    #     distributed jobs exactly as before; the driver never holds a
    #     per-doc row.
    #
    # The gate is bytes-based (like LSI_DRIVER_QUERY_MAX_BYTES): ~96 B/doc
    # across the sidecar streams (the 64-byte sha dominates), so the same
    # build goes distributed on a bigger corpus automatically.
    driver_tail = n_total * 96 <= int(
        os.environ.get("LSI_DRIVER_BUILD_MAX_BYTES", str(32 << 20))
    )
    # explicit schema: an empty corpus writes no postings file to infer from
    sidecar = (
        spark.read.schema(POSTINGS_SCHEMA)
        .parquet(os.path.join(index_dir, "postings"))
        .where(F.col("term") == DOCS_MARKER)
    )
    seg_stats, base_by_seg = [], {}  # an empty corpus has no sidecar rows
    if driver_tail:
        side_pdf = (
            sidecar.select(
                "seg", "df", "ttf", "doc_ids", "tfs", "positions",
                "block_last", "block_max_tf",
            )
            .toPandas()
            .sort_values("seg")
            .reset_index(drop=True)
        )
        if len(side_pdf):
            docs_pdf = _docs_from_sidecar(side_pdf)
            norms_pdf = _norms_from_sidecar(side_pdf)
            _write_seg_partitioned(docs_pdf, os.path.join(index_dir, "docs"), "docs")
            _write_seg_partitioned(norms_pdf, os.path.join(index_dir, "norms"), "norms")
            seg_stats = [
                {
                    "seg": int(r["seg"]),
                    "n_docs": int(r["df"]),
                    "sum_doclen": int(r["ttf"]),
                    "ntok_blob": r["block_max_tf"],
                }
                for _, r in side_pdf.iterrows()
            ]
            base_by_seg = {
                int(s): int(b) for s, b in zip(norms_pdf["seg"], norms_pdf["doc_base"])
            }
    else:
        sidecar = sidecar.persist()
        # materialize the cache once, before concurrent readers
        if sidecar.count():
            docs_df = sidecar.mapInPandas(
                lambda it: (_docs_from_sidecar(p) for p in it), DOCS_SCHEMA
            )
            norms = sidecar.mapInPandas(
                lambda it: (_norms_from_sidecar(p) for p in it), NORMS_SCHEMA
            ).persist()
            final_norms = os.path.join(index_dir, "norms")

            # docs and norms derive independently from the cached sidecar: run the
            # two writes as concurrent jobs (guide §2.6 — actions are sequential
            # only because driver code calls them sequentially); each is mostly
            # fixed job/commit overhead at any scale, so overlapping them removes
            # ~min(docs, norms) from the build tail
            from concurrent.futures import ThreadPoolExecutor

            def _write_docs():
                docs_df.write.mode("overwrite").option(
                    "partitionOverwriteMode", "static"
                ).partitionBy("seg").parquet(os.path.join(index_dir, "docs"))

            def _write_norms():
                # partitioned by seg so merges/NRT can commit one partition at a time
                norms.write.mode("overwrite").partitionBy("seg").parquet(final_norms)

            with ThreadPoolExecutor(max_workers=2) as ex:
                for f in [ex.submit(_write_docs), ex.submit(_write_norms)]:
                    f.result()

            # manifest: per-segment doc stats from the sidecar aggregates;
            # doc_base comes from the already-computed (cached) norms relation —
            # no read-back of the just-written parquet
            seg_stats = sidecar.select(
                "seg",
                F.col("df").alias("n_docs"),
                F.col("ttf").alias("sum_doclen"),
                F.col("block_max_tf").alias("ntok_blob"),
            ).collect()
            base_by_seg = {
                int(r["seg"]): int(r["doc_base"])
                for r in norms.select("seg", "doc_base").collect()
            }
            norms.unpersist()
        sidecar.unpersist()
    wall = time.time() - t0
    segments = [
        {
            "seg": int(r["seg"]),
            "doc_base": base_by_seg[int(r["seg"])],
            "n_docs": int(r["n_docs"]),
            "sum_doclen": int(r["sum_doclen"]),
            # sumTotalTermFreq (overlap tokens included) — the avgdl
            # numerator; == sum_doclen for non-overlap analyzers
            "sum_ttf": int(vb_decode(bytes(r["ntok_blob"])).sum())
            if r["ntok_blob"]
            else int(r["sum_doclen"]),
            "status": "done",
            "lineage": [],
            "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        for r in sorted(seg_stats, key=lambda r: r["seg"])
    ]
    manifest = {
        "version": 1,
        "n_docs": int(sum(s["n_docs"] for s in segments)),
        "sum_doclen": int(sum(s["sum_doclen"] for s in segments)),
        "sum_ttf": int(sum(s["sum_ttf"] for s in segments)),
        "analyzer": analyzer,
        "offsets": keep_offsets,
        "codec": codec,
        "bloom": bloom,
        "segments": segments,
        "metrics": {"build_wall_sec": wall, "docs_per_sec": n_total / wall if wall else 0},
    }
    if bloom and segments:
        write_blooms(spark, index_dir, [s["seg"] for s in segments])
    _write_manifest(index_dir, manifest)
    return manifest


def _tokenize_for_segments(analyzer: str):
    schema = T.StructType(
        [
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("positions", T.ArrayType(T.IntegerType())),
            T.StructField("doclen", T.IntegerType()),
            T.StructField("norm_byte", T.IntegerType()),
        ]
    )

    @F.pandas_udf(schema)
    def _tok(texts: pd.Series) -> pd.DataFrame:
        fn = ANALYZERS[analyzer]
        terms_col, pos_col, len_col = [], [], []
        for t in texts:
            terms, positions, doclen = fn(t)
            terms_col.append(terms)
            pos_col.append(positions)
            len_col.append(doclen)
        lens = np.maximum(np.array(len_col, dtype=np.int64), 1)
        return pd.DataFrame(
            {
                "terms": terms_col,
                "positions": pos_col,
                "doclen": len_col,
                "norm_byte": encode_norm(lens).astype(np.int32),
            }
        )

    return _tok


def _write_manifest(index_dir: str, manifest: dict) -> None:
    path = os.path.join(index_dir, "manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, path)  # atomic commit, like segments_N


def read_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        return json.load(f)


def load_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    # explicit schema: an index over an empty corpus has no postings file
    # to infer one from.  Exclude the per-segment docs sidecar rows (real
    # terms never start \x00)
    return (
        spark.read.schema(POSTINGS_SCHEMA)
        .parquet(os.path.join(index_dir, "postings"))
        .where(F.col("term") != DOCS_MARKER)
    )


BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType()),
        T.StructField("nbits", T.LongType()),
        T.StructField("bits", T.BinaryType()),
    ]
)


def write_blooms(spark: SparkSession, index_dir: str, seg_ids: list[int]) -> None:
    """Per-segment term-dictionary bloom sidecar
    (BloomFilteringPostingsFormat.java:63 role — see codecs/bloom.py).
    One row per segment under blooms/; built from the postings' term
    column in the same seg grouping the build uses, folded to the
    smallest power-of-two at sane saturation (kilobytes per segment)."""
    from ..codecs.bloom import build_bloom, fold_bloom

    def _mk(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg"].iloc[0])
        nbits, bits = build_bloom(pdf["term"].tolist())
        nbits, bits = fold_bloom(nbits, bits)
        return pd.DataFrame([{"seg": seg, "nbits": nbits, "bits": bits}])

    blooms = (
        load_postings(spark, index_dir)
        .where(F.col("seg").isin(list(seg_ids)))
        .select("seg", "term")
        .groupBy("seg")
        .applyInPandas(_mk, BLOOM_SCHEMA)
    )
    if len(seg_ids) == 1:
        # merge/NRT path: atomic per-partition rename, concurrent-safe
        _stage_partition(blooms, os.path.join(index_dir, "blooms"), seg_ids[0])
    else:
        blooms.write.mode("overwrite").partitionBy("seg").parquet(
            os.path.join(index_dir, "blooms")
        )


def load_blooms(spark: SparkSession, index_dir: str) -> DataFrame | None:
    path = os.path.join(index_dir, "blooms")
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)


def load_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    # mergeSchema: a mixed-generation index (pre-n_tok segments + newer
    # appends) must surface n_tok-as-null for the old files rather than
    # silently adopting whichever file's schema Spark samples first —
    # otherwise real n_tok data in new segments is dropped and merge's
    # removed_ttf accounting drifts.  Footer merging is a distributed
    # job over file metadata only (cheap relative to any docs scan).
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(index_dir, "docs")
    )


def load_norms(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "norms"))


# Above this many tombstones the doc-id list leaves the JSON manifest for a
# parquet side table — a manifest (and every reader closure) must stay O(1)
# in corpus size; deletes at 100 TB can reach billions of ids.
TOMBSTONE_SPILL_THRESHOLD = 10_000


def spill_tombstones(index_dir: str, manifest: dict, doc_ids: set[int]) -> None:
    """Move the full tombstone set into index_dir/tombstones/ parquet
    (seg, doc_id — seg from the manifest's doc_base ranges so readers prune
    and aggregate per segment), leaving only metadata in the manifest.
    Written with pyarrow (a pure-manifest operation needs no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ranges = sorted(
        (s["doc_base"], s["doc_base"] + s["n_docs"], s["seg"])
        for s in manifest["segments"]
        if s.get("status") == "done"
    )

    def seg_of(d: int) -> int:
        import bisect

        i = bisect.bisect_right(ranges, (d, float("inf"), float("inf"))) - 1
        if i >= 0 and ranges[i][0] <= d < ranges[i][1]:
            return ranges[i][2]
        return -1

    ids = sorted(doc_ids)
    segs = [seg_of(d) for d in ids]
    table = pa.table({"seg": pa.array(segs, pa.int32()),
                      "doc_id": pa.array(ids, pa.int64())})
    dest = os.path.join(index_dir, "tombstones")
    os.makedirs(dest, exist_ok=True)
    tmp = os.path.join(dest, "_tomb.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(dest, "tombstones.parquet"))
    manifest.pop("tombstones", None)
    manifest["tombstones_spilled"] = True
    manifest["n_tombstones"] = len(ids)


def read_spilled_tombstones(index_dir: str, segs: list[int] | None = None) -> set[int]:
    """Driver-side read of the spilled set, optionally pruned to segments
    (merge-reclaim needs exactly the merged ranges' deletes — which merge
    must materialize anyway to drop the rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(index_dir, "tombstones", "tombstones.parquet")
    if not os.path.exists(path):
        return set()
    t = pq.read_table(path)
    if segs is not None:
        import pyarrow.compute as pc

        t = t.filter(pc.is_in(t["seg"], value_set=pa.array(segs)))
    return set(t["doc_id"].to_pylist())


def load_tombstones_per_seg(spark: SparkSession, index_dir: str, manifest: dict):
    """(seg, tomb: array<long>) DataFrame when spilled, else None — joined
    onto the norms relation so each segment's kernel receives ONLY its own
    deletes through the existing seg-cogroup (never a driver-side closure
    of the whole set)."""
    if not manifest.get("tombstones_spilled"):
        return None
    df = spark.read.parquet(os.path.join(index_dir, "tombstones"))
    return df.groupBy("seg").agg(F.collect_list("doc_id").alias("tomb"))


def rebuild_norms(spark: SparkSession, index_dir: str) -> None:
    """Regenerate ALL per-segment norms blobs from the docs table — a full
    repair pass (normal operation writes norms per segment: build writes
    them all once, merge/NRT write only their new segment's partition)."""
    norms = (
        spark.read.parquet(os.path.join(index_dir, "docs"))
        .select("seg", "doc_id", "norm_byte")
        .groupBy("seg")
        .applyInPandas(lambda p: _norms_blob(p), NORMS_SCHEMA)
    )
    tmp = os.path.join(index_dir, "norms_tmp")
    norms.write.mode("overwrite").partitionBy("seg").parquet(tmp)
    final = os.path.join(index_dir, "norms")
    if os.path.exists(final):
        import shutil

        shutil.rmtree(final)
    os.replace(tmp, final)


# ------------------------------------------------------------------- merge


def _merge_group(
    pdf: pd.DataFrame, tombstones: frozenset = frozenset(), codec=None
) -> pd.DataFrame:
    """Merge one term's postings across segments (runs per term group).

    Segments hold disjoint contiguous doc ranges, so concatenating streams
    in doc_base order keeps doc_ids sorted — no rebase, no re-sort.
    Tombstoned doc ids are dropped here — the liveDocs reclaim step of
    SegmentMerger (deletes become physical at merge).
    """
    pdf = pdf.sort_values("seg")
    term = pdf["term"].iloc[0]
    new_seg = int(pdf["new_seg"].iloc[0])
    all_ids = np.concatenate([unpack_doc_ids(b, codec) for b in pdf["doc_ids"]])
    all_tfs = np.concatenate([unpack_tfs(b, codec) for b in pdf["tfs"]])
    has_offsets = "offsets" in pdf.columns and all(
        len(b) > 0 for b in pdf["offsets"]
    )
    keep = None
    if tombstones:
        drop = np.isin(all_ids, np.fromiter(tombstones, dtype=np.int64))
        if drop.any():
            keep = ~drop
    # Positions/offsets streams: per-doc delta encoding restarts at every
    # doc and every block is self-delimiting (codecs/forpack.py stream
    # layout), so whole-stream CONCATENATION is a valid stream for the
    # merged posting — the ttf-sized payload is never decoded or re-packed
    # (Lucene's SegmentMerger bulk-copy fast path, SegmentMerger.java
    # mergeTerms; doc_ids/tfs below stay 128-block-aligned re-packs so the
    # WAND block metadata keeps its exact-offset contract).
    if keep is None:
        positions_buf = b"".join(pdf["positions"])
        offsets_buf = b"".join(pdf["offsets"]) if has_offsets else b""
    else:
        # liveDocs reclaim: whole docs drop, and a doc's position deltas
        # are self-contained — filter the RAW delta stream with one
        # repeat-mask, no per-doc Python and no cumsum round-trip.
        from ..codecs.varbyte import vb_decode, vb_encode

        dec = codec.decode if codec is not None else vb_decode
        enc = codec.encode if codec is not None else vb_encode
        flat_pos = np.concatenate([dec(b) for b in pdf["positions"]])
        pos_mask = np.repeat(keep, all_tfs)
        positions_buf = enc(flat_pos[pos_mask].astype(np.uint64))
        offsets_buf = b""
        if has_offsets:
            flat_off = np.concatenate([dec(b) for b in pdf["offsets"]])
            off_mask = np.repeat(keep, 2 * all_tfs)
            offsets_buf = enc(flat_off[off_mask].astype(np.uint64))
        all_ids = all_ids[keep]
        all_tfs = all_tfs[keep]
        if all_ids.size == 0:
            return pd.DataFrame([], columns=[f.name for f in POSTINGS_SCHEMA.fields])
    # block meta must be recomputed (block boundaries move); max-norm-byte
    # per new block would need per-doc norms, so keep the conservative
    # per-source max (a valid, looser WAND upper bound)
    last_b, max_b = block_meta(all_ids, all_tfs)
    n_blocks = (all_ids.size + BLOCK_SIZE - 1) // BLOCK_SIZE
    old_max = max(int(np.frombuffer(b, dtype=np.int32).max()) for b in pdf["block_max_nb"])
    max_nb = np.full(n_blocks, old_max, dtype=np.int32)
    from ..codecs.varbyte import block_byte_starts, delta_encode, vb_nbytes

    nbytes_fn = codec.nbytes if codec is not None else vb_nbytes
    id_offs = block_byte_starts(nbytes_fn(delta_encode(all_ids).astype(np.uint64)))
    tf_offs = block_byte_starts(nbytes_fn(all_tfs.astype(np.uint64)))
    return pd.DataFrame(
        [
            {
                "seg": new_seg,
                "term": term,
                "df": int(all_ids.size),
                "ttf": int(all_tfs.sum()),
                "doc_ids": pack_doc_ids(all_ids, codec),
                "tfs": pack_tfs(all_tfs, codec),
                "positions": positions_buf,
                "block_last": last_b,
                "block_max_tf": max_b,
                "block_max_nb": max_nb.tobytes(),
                "block_id_offs": id_offs.tobytes(),
                "block_tf_offs": tf_offs.tobytes(),
                "offsets": offsets_buf,
            }
        ],
        columns=[f.name for f in POSTINGS_SCHEMA.fields],
    )


def _merge_partition_batched(pdf: pd.DataFrame, codec=None) -> pd.DataFrame:
    """Vectorized multi-term merge — the tombstone-free twin of
    _merge_group over a WHOLE partition of term-clustered postings rows.

    _merge_group pays ~10-25 ms of fixed numpy/codec dispatch per term
    (16 per-stream decodes, per-term block_meta loop, two encodes);
    at vocabulary scale that cost dominates the merge (measured 3.2 s of
    the 5 s merge_tier phase at sf0.1).  Here every (term, new_seg) group
    in the partition is merged in a handful of batched array passes:
    ONE decode_grouped over all doc-id streams, ONE over all tf streams,
    segmented cumsum -> per-group re-delta -> ONE encode_batch each, and
    block metadata via the same reduceat machinery _invert_occurrences
    uses.  Positions/offsets stay raw byte concatenation (the
    SegmentMerger bulk-copy fast path), exactly like _merge_group.
    Output rows are byte-identical to _merge_group's (pinned by test)."""
    if codec is None:
        from ..codecs.registry import VARBYTE as codec  # noqa: N813
    from ..codecs.registry import decode_grouped, nbytes_grouped

    if pdf.empty:
        return pd.DataFrame([], columns=[f.name for f in POSTINGS_SCHEMA.fields])
    pdf = pdf.sort_values(["term", "new_seg", "seg"], kind="mergesort")
    n_rows = len(pdf)
    id_bufs = [bytes(b) for b in pdf["doc_ids"]]
    tf_bufs = [bytes(b) for b in pdf["tfs"]]
    gaps, s_cnt = decode_grouped(codec, id_bufs)
    tf_vals, s_cnt_tf = decode_grouped(codec, tf_bufs)
    # absolute doc ids: per-stream cumsum (first value of each stream is
    # absolute, the rest are gaps) — streams are seg slices in doc order
    from ..codecs.varbyte import _segmented_cumsum

    ids, s_offs = _segmented_cumsum(gaps.astype(np.int64), s_cnt)
    tf64 = tf_vals.astype(np.int64)

    # group boundaries over the sorted rows: (term, new_seg) changes
    terms = pdf["term"].to_numpy()
    nsegs = pdf["new_seg"].to_numpy(dtype=np.int64)
    new_grp = np.empty(n_rows, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (terms[1:] != terms[:-1]) | (nsegs[1:] != nsegs[:-1])
    grp_first_row = np.nonzero(new_grp)[0]
    n_grps = grp_first_row.size
    grp_row_ends = np.append(grp_first_row[1:], n_rows)
    # per-VALUE offsets of each group = stream offsets at its row bounds
    grp_val_offsets = np.concatenate(
        [s_offs[grp_first_row], [int(s_offs[n_rows])]]
    ).astype(np.int64)
    grp_sizes = np.diff(grp_val_offsets)

    # re-delta WITHIN each group (the merged posting's doc-id stream)
    deltas = np.empty_like(ids)
    if ids.size:
        deltas[0] = ids[0]
        deltas[1:] = ids[1:] - ids[:-1]
        starts = grp_val_offsets[:-1][grp_sizes > 0]
        deltas[starts] = ids[starts]
    ids_bufs = codec.encode_batch(deltas.astype(np.uint64), grp_val_offsets)
    tfs_bufs = codec.encode_batch(tf_vals, grp_val_offsets)

    # per-128-value block metadata per group (block_meta vectorized)
    val_grp_start = np.repeat(grp_val_offsets[:-1], grp_sizes)
    rel = np.arange(ids.size, dtype=np.int64) - val_grp_start
    bstart_mask = (rel % BLOCK_SIZE) == 0
    bstarts = np.nonzero(bstart_mask)[0]
    bends = np.append(bstarts[1:], ids.size)
    blk_last = ids[bends - 1] if bstarts.size else np.empty(0, dtype=np.int64)
    blk_max_tf = (
        np.maximum.reduceat(tf64, bstarts).astype(np.int32)
        if bstarts.size
        else np.empty(0, dtype=np.int32)
    )
    grp_of_val = np.repeat(np.arange(n_grps, dtype=np.int64), grp_sizes)
    blk_grp = grp_of_val[bstarts] if bstarts.size else np.empty(0, dtype=np.int64)
    grp_blk_offsets = np.append(
        np.searchsorted(blk_grp, np.arange(n_grps)), blk_grp.size
    )

    # skip data: byte offsets of each block within its group's stream
    id_nb = nbytes_grouped(codec, deltas.astype(np.uint64), grp_val_offsets)
    tf_nb = nbytes_grouped(codec, tf_vals, grp_val_offsets)
    id_bs = np.zeros(ids.size, dtype=np.int64)
    tf_bs = np.zeros(ids.size, dtype=np.int64)
    if ids.size:
        id_bs[1:] = np.cumsum(id_nb)[:-1]
        tf_bs[1:] = np.cumsum(tf_nb)[:-1]
    blk_id_off = id_bs[bstarts] - id_bs[val_grp_start[bstarts]] if bstarts.size else np.empty(0, np.int64)
    blk_tf_off = tf_bs[bstarts] - tf_bs[val_grp_start[bstarts]] if bstarts.size else np.empty(0, np.int64)

    # groups are nonempty by construction (every posting row has df >= 1),
    # so reduceat at group starts aligns 1:1 with groups
    ttf_all = np.add.reduceat(tf64, grp_val_offsets[:-1])

    # per-row block_max_nb maxes -> per-group max (two-level reduceat)
    nb_cat = np.concatenate(
        [np.frombuffer(b, dtype=np.int32) for b in pdf["block_max_nb"]]
    )
    nb_lens = np.fromiter(
        (len(b) // 4 for b in pdf["block_max_nb"]), dtype=np.int64, count=n_rows
    )
    row_nb_starts = np.zeros(n_rows, dtype=np.int64)
    row_nb_starts[1:] = np.cumsum(nb_lens)[:-1]
    row_max = np.maximum.reduceat(nb_cat, row_nb_starts)
    grp_max_nb = np.maximum.reduceat(row_max, grp_first_row)

    pos_list = pdf["positions"].tolist()
    has_off_col = "offsets" in pdf.columns
    off_list = pdf["offsets"].tolist() if has_off_col else None
    term_of_grp = terms[grp_first_row]
    seg_of_grp = nsegs[grp_first_row]

    rows = []
    for g in range(n_grps):
        r0, r1 = grp_first_row[g], grp_row_ends[g]
        ba, bb = grp_blk_offsets[g], grp_blk_offsets[g + 1]
        n_blocks = bb - ba
        if has_off_col and all(len(off_list[i]) > 0 for i in range(r0, r1)):
            off_buf = b"".join(bytes(off_list[i]) for i in range(r0, r1))
        else:
            off_buf = b""
        rows.append(
            {
                "seg": int(seg_of_grp[g]),
                "term": term_of_grp[g],
                "df": int(grp_sizes[g]),
                "ttf": int(ttf_all[g]),
                "doc_ids": ids_bufs[g],
                "tfs": tfs_bufs[g],
                "positions": b"".join(bytes(pos_list[i]) for i in range(r0, r1)),
                "block_last": blk_last[ba:bb].astype(np.int64).tobytes(),
                "block_max_tf": blk_max_tf[ba:bb].tobytes(),
                "block_max_nb": np.full(
                    n_blocks, grp_max_nb[g], dtype=np.int32
                ).tobytes(),
                "block_id_offs": blk_id_off[ba:bb].tobytes(),
                "block_tf_offs": blk_tf_off[ba:bb].tobytes(),
                "offsets": off_buf,
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in POSTINGS_SCHEMA.fields])


def _stage_partition(df: DataFrame, root: str, seg: int) -> None:
    """Write df (carrying a constant `seg` column) as partition seg=<seg>
    under `root` via a private staging dir + atomic rename.

    Concurrent merges write DISJOINT partitions; staging isolation keeps
    them from sharing one Hadoop `_temporary` under the root (the classic
    concurrent-append clobber), and the rename is the per-partition commit
    point — a killed merge leaves only an ignored `<root>_stage_*` dir.
    """
    stage = f"{root}_stage_{seg}_{os.getpid()}"
    df.drop("seg").write.mode("overwrite").parquet(stage)
    dest = os.path.join(root, f"seg={seg}")
    os.makedirs(root, exist_ok=True)
    if os.path.exists(dest):
        import shutil

        shutil.rmtree(dest)
    os.replace(stage, dest)


_MANIFEST_LOCK_DEFAULT = None  # module-level fallback (single-process CLI)


def merge_segments(
    spark: SparkSession, index_dir: str, seg_ids: list[int], new_seg: int,
    salt: int = 1, manifest_lock=None,
) -> dict:
    """Sort-merge compaction of `seg_ids` into `new_seg` (SegmentMerger.merge).

    One shuffle: repartitionByRange on term (range-partitioned like the
    BlockTree term dict), then per-term concat+repack.  Manifest updated
    with lineage; old segment files are superseded, not deleted (point-in-
    time readers keep working — DirectoryReader snapshot semantics).

    Concurrency (ConcurrentMergeScheduler analog): merges of DISJOINT
    segment sets may run on concurrent threads — every data write goes
    through a staged per-partition rename, the new segment's norms are
    written for seg=new_seg only (never a full rebuild), and the manifest
    read-modify-write happens last under `manifest_lock`.

    Skew (north rule): with thousands of input segments, a stop-word-grade
    term's merge group is one giant task.  `salt > 1` runs a two-level
    salted merge — stage 1 merges (term, seg % salt) sub-groups in
    parallel, stage 2 concatenates the (ordered) partials per term.
    Correct because segments hold disjoint ordered doc ranges, so partial
    concatenation in doc_base order composes associatively.
    """
    manifest = read_manifest(index_dir)
    live = {s["seg"] for s in manifest["segments"] if s.get("status") == "done"}
    assert set(seg_ids) <= live, f"segments {set(seg_ids) - live} not live"

    # tombstones inside the merged ranges become physical now (liveDocs
    # reclaim); those outside stay in the manifest / spill table.  The
    # spilled read is pruned to exactly the merged segments — the set merge
    # must materialize anyway to drop the rows.
    old = [s for s in manifest["segments"] if s["seg"] in set(seg_ids)]
    tombs = set(manifest.get("tombstones", []))
    if manifest.get("tombstones_spilled"):
        tombs |= read_spilled_tombstones(index_dir, segs=sorted(seg_ids))
    reclaim = frozenset(
        d
        for d in tombs
        if any(s["doc_base"] <= d < s["doc_base"] + s["n_docs"] for s in old)
    )

    from ..codecs.registry import get_codec

    merge_codec = get_codec(manifest.get("codec", "varbyte"))

    def _mg(pdf: pd.DataFrame) -> pd.DataFrame:
        return _merge_group(pdf, tombstones=reclaim, codec=merge_codec)

    def _grouped_merge(src: DataFrame, keys: list[str], n_part: int) -> DataFrame:
        """One merged row per (term[, new_seg]) group.  Tombstone-free
        merges take the batched whole-partition kernel (one mapInPandas
        over the range shuffle — no per-term applyInPandas dispatch);
        reclaiming merges keep the per-group kernel, which drops dead
        docs from every stream."""
        clustered = src.repartitionByRange(n_part, *keys)
        if not reclaim:

            def _fn(batches):
                # a group can span arrow batches: concatenate the whole
                # partition first (the _fused_build_fn pattern)
                parts = list(batches)
                if parts:
                    yield _merge_partition_batched(
                        pd.concat(parts, ignore_index=True), codec=merge_codec
                    )

            return clustered.mapInPandas(_fn, POSTINGS_SCHEMA)
        return clustered.groupBy(*keys).applyInPandas(_mg, POSTINGS_SCHEMA)

    postings = load_postings(spark, index_dir).where(F.col("seg").isin(seg_ids))
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    if salt > 1:
        # salt groups must be CONTIGUOUS seg ranges (doc_base increases with
        # seg), so stage-2 concat in group order keeps doc ids sorted
        ordered = sorted(seg_ids)
        per_group = max(1, (len(ordered) + salt - 1) // salt)
        group_of = {s: i // per_group for i, s in enumerate(ordered)}
        mapping = F.create_map(
            *[F.lit(x) for kv in group_of.items() for x in kv]
        )
        partial = _grouped_merge(
            postings.withColumn("new_seg", mapping[F.col("seg")].cast("int")),
            ["term", "new_seg"],
            n_part,
        )
        merged = _grouped_merge(
            partial.withColumn("new_seg", F.lit(new_seg)), ["term"], n_part
        )
    else:
        merged = _grouped_merge(
            postings.withColumn("new_seg", F.lit(new_seg)), ["term"], n_part
        )

    docs = load_docs(spark, index_dir).where(F.col("seg").isin(seg_ids))
    if "n_tok" not in docs.columns:  # pre-n_tok indexes
        docs = docs.withColumn("n_tok", F.col("doclen"))
    else:
        # Mixed-schema indexes (old segments + NRT appends): pre-upgrade
        # parquet files read n_tok as null — normalize to doclen so the
        # removed_ttf sum cannot silently undercount and the sidecar cast
        # cannot hit NaN.
        docs = docs.withColumn("n_tok", F.coalesce(F.col("n_tok"), F.col("doclen")))
    removed_doclen = 0
    removed_ttf = 0
    if reclaim:
        removed = docs.where(F.col("doc_id").isin(sorted(reclaim)))
        agg = removed.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("doclen"), F.lit(0)).alias("s"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).alias("t"),
        ).collect()[0]
        removed_doclen = int(agg["s"])
        removed_ttf = int(agg["t"])
        docs = docs.where(~F.col("doc_id").isin(sorted(reclaim)))
    docs_new = docs.withColumn("seg", F.lit(new_seg)).persist()
    docs_new.count()  # materialize once before concurrent consumers

    # sidecar row derived from the SAME frame (docs/norms stay derivable)
    sidecar = docs_new.groupBy("seg").applyInPandas(_sidecar_from_docs, POSTINGS_SCHEMA)
    norms_new = (
        docs_new.select("seg", "doc_id", "norm_byte")
        .groupBy("seg")
        .applyInPandas(lambda p: _norms_blob(p), NORMS_SCHEMA)
    )

    # the three staged writes are independent jobs over the cached
    # docs_new / the merged plan: overlap them (guide §2.6) — the docs and
    # norms jobs fit entirely inside the postings merge's tail
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as ex:
        futures = [
            ex.submit(
                _stage_partition,
                merged.unionByName(sidecar),
                os.path.join(index_dir, "postings"),
                new_seg,
            ),
            ex.submit(
                _stage_partition, docs_new, os.path.join(index_dir, "docs"), new_seg
            ),
            # norms for the NEW segment only — a merge never rescans other
            # segments' docs (a full rebuild_norms pass does not scale)
            ex.submit(
                _stage_partition, norms_new, os.path.join(index_dir, "norms"), new_seg
            ),
        ]
        for f in futures:
            f.result()
    docs_new.unpersist()
    if manifest.get("bloom"):
        # bloom sidecar for the merged segment (atomic rename, like the
        # data partitions — readers only see it once the manifest commits)
        write_blooms(spark, index_dir, [new_seg])

    import contextlib

    with manifest_lock if manifest_lock is not None else contextlib.nullcontext():
        # fresh read-modify-write: concurrent disjoint merges serialize here
        manifest = read_manifest(index_dir)
        old = [s for s in manifest["segments"] if s["seg"] in set(seg_ids)]
        for s in manifest["segments"]:
            if s["seg"] in set(seg_ids):
                s["status"] = "merged"
        manifest["segments"].append(
            {
                "seg": new_seg,
                "doc_base": min(s["doc_base"] for s in old),
                "n_docs": sum(s["n_docs"] for s in old) - len(reclaim),
                "sum_doclen": sum(s["sum_doclen"] for s in old) - removed_doclen,
                "sum_ttf": sum(s.get("sum_ttf", s["sum_doclen"]) for s in old)
                - removed_ttf,
                "status": "done",
                "lineage": sorted(seg_ids),
                "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        if reclaim:
            manifest["tombstones"] = sorted(set(manifest.get("tombstones", [])) - reclaim)
            if manifest.get("tombstones_spilled"):
                remaining = read_spilled_tombstones(index_dir) - reclaim
                spill_tombstones(index_dir, manifest, remaining)
        if "n_docs" in manifest:
            live = [s for s in manifest["segments"] if s["status"] == "done"]
            manifest["n_docs"] = sum(s["n_docs"] for s in live)
            manifest["sum_doclen"] = sum(s["sum_doclen"] for s in live)
            manifest["sum_ttf"] = sum(
                s.get("sum_ttf", s["sum_doclen"]) for s in live
            )
        _write_manifest(index_dir, manifest)
    return manifest


def concurrent_merge(
    spark: SparkSession,
    index_dir: str,
    segs_per_tier: int = 10,
    max_workers: int = 2,
    salt: int = 1,
) -> dict:
    """ConcurrentMergeScheduler analog (ConcurrentMergeScheduler.java): all
    planned tier merges run as CONCURRENT Spark jobs on background threads
    (plans are disjoint segment sets by construction, and the Spark
    scheduler interleaves their stages across executors).  Data writes are
    per-partition staged renames; the manifest read-modify-write is
    serialized by a lock — the commit point, like IndexWriter's
    synchronized segmentInfos update."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    manifest = read_manifest(index_dir)
    plans = plan_merges(manifest, segs_per_tier)
    if not plans:
        return manifest
    lock = threading.Lock()
    base = 1 + max(s["seg"] for s in manifest["segments"])
    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        futures = [
            ex.submit(
                merge_segments, spark, index_dir, plan, base + i,
                salt, lock,
            )
            for i, plan in enumerate(plans)
        ]
        for f in futures:
            f.result()
    return read_manifest(index_dir)


def plan_merges(manifest: dict, segs_per_tier: int = 10) -> list[list[int]]:
    """TieredMergePolicy-lite (TieredMergePolicy.java:81-86): group live
    segments of similar size into merge candidates of `segs_per_tier`."""
    live = sorted(
        (s for s in manifest["segments"] if s.get("status") == "done"),
        key=lambda s: s["n_docs"],
    )
    plans = []
    for i in range(0, len(live) - segs_per_tier + 1, segs_per_tier):
        plans.append([s["seg"] for s in live[i : i + segs_per_tier]])
    return plans


# ------------------------------------------------------------------ verify


def _check_rows_loop(codec, doc_ids, tfs, positions, dfv, ttfv) -> pd.Series:
    """Per-row postings checks — the error-localizing slow path (also the
    historical implementation): exact per-row messages whatever is broken."""
    from ..codecs.varbyte import unpack_positions_flat

    out = []
    for db, tb, pb, dfx, ttfx in zip(doc_ids, tfs, positions, dfv, ttfv):
        try:
            ids = unpack_doc_ids(db, codec)
            tf = unpack_tfs(tb, codec)
            msgs = []
            if ids.size != dfx:
                msgs.append(f"df {dfx} != {ids.size}")
            if int(tf.sum()) != ttfx:
                msgs.append(f"ttf {ttfx} != {int(tf.sum())}")
            if ids.size > 1 and not bool(np.all(np.diff(ids) > 0)):
                msgs.append("doc_ids not strictly increasing")
            # flat decode + doc-boundary mask instead of the historical
            # per-doc list split (same checks, no per-doc Python loop)
            flat, offs = unpack_positions_flat(pb, tf, codec)
            if flat.size != int(tf.sum()):
                msgs.append("positions count != ttf")
            if flat.size > 1:
                bad = np.diff(flat) < 0
                # negative steps at doc starts are boundary artifacts,
                # not within-doc disorder
                bad[offs[1:-1][(offs[1:-1] > 0) & (offs[1:-1] < flat.size)] - 1] = False
                if bool(bad.any()):
                    msgs.append("positions not sorted")
        except Exception as e:  # undecodable blob = broken row
            msgs = [f"decode error: {type(e).__name__}"]
        out.append(";".join(msgs))
    return pd.Series(out)


def _check_rows_batched(codec, doc_ids, tfs, positions, dfv, ttfv):
    """Vectorized green path: decode EVERY stream of the batch in three
    concatenated codec passes (registry.decode_grouped — true per-stream
    counts, independent of the claimed df/ttf) and evaluate all invariants
    as whole-batch array ops.  Returns a Series of "" when the whole batch
    is clean, or None to hand off to the per-row loop for exact messages —
    so healthy indexes never pay per-row Python (measured ~1 ms/row, 6.5 s
    of the 8 s verify phase at sf0.1), and broken ones keep the historical
    diagnostics."""
    from ..codecs.registry import decode_grouped

    n = len(doc_ids)
    gaps, id_counts = decode_grouped(codec, list(doc_ids))
    tf_vals, tf_counts = decode_grouped(codec, list(tfs))
    pos_deltas, pos_counts = decode_grouped(codec, list(positions))

    if not bool(np.array_equal(id_counts, dfv.to_numpy(dtype=np.int64))):
        return None  # some df mismatch -> per-row messages
    if not bool(np.array_equal(id_counts, tf_counts)):
        return None  # tf stream length disagrees with doc count
    # per-row ttf sums over the concatenated tf stream
    tf_ends = np.cumsum(tf_counts)
    cum = np.zeros(tf_vals.size + 1, dtype=np.int64)
    np.cumsum(tf_vals.astype(np.int64), out=cum[1:])
    ttf_sums = cum[tf_ends] - cum[tf_ends - tf_counts]
    if not bool(np.array_equal(ttf_sums, ttfv.to_numpy(dtype=np.int64))):
        return None
    # doc_ids strictly increasing within a row == every non-first gap > 0
    g = gaps.astype(np.int64)
    nonpos = g <= 0
    row_starts = np.cumsum(id_counts) - id_counts
    nonpos[row_starts[id_counts > 0]] = False  # first value is absolute
    if bool(nonpos.any()):
        return None
    # positions count per row == ttf; deltas are unsigned so within-doc
    # order holds by construction — a negative int64 view means a >2^63
    # raw delta, which the per-row path would also surface
    if not bool(np.array_equal(pos_counts, ttf_sums)):
        return None
    if bool((pos_deltas.astype(np.int64) < 0).any()):
        return None
    return pd.Series([""] * n)


def _postings_check_udf(codec_name: str):
    """Per-row postings invariants (shared by verify_index / repair_index)."""

    @F.pandas_udf(T.StringType())
    def _check(doc_ids: pd.Series, tfs: pd.Series, positions: pd.Series,
               dfv: pd.Series, ttfv: pd.Series) -> pd.Series:
        from ..codecs.registry import get_codec

        codec = get_codec(codec_name)
        if len(doc_ids) == 0:
            return pd.Series([], dtype=object)
        try:
            out = _check_rows_batched(codec, doc_ids, tfs, positions, dfv, ttfv)
        except Exception:
            out = None  # undecodable somewhere in the batch -> localize
        if out is not None:
            return out
        return _check_rows_loop(codec, doc_ids, tfs, positions, dfv, ttfv)

    return _check


def repair_index(
    spark: SparkSession, index_dir: str, dry_run: bool = False
) -> dict:
    """CheckIndex -fix analog (CheckIndex.java:62 exorciseIndex / the -fix
    flag): drop every segment that fails its checks, LOSING that segment's
    documents, so the rest of the index opens and searches cleanly.

    Each live segment is checked INDEPENDENTLY (its own partition
    directory scan — an unreadable/corrupt parquet file marks only that
    segment broken, never the whole index), then all broken segments flip
    to status="dropped" in ONE atomic manifest replace; readers' live-set
    filter skips them from then on.

    Failure classes are distinguished (dropping docs is lossy, so a
    transient executor/FS hiccup must not masquerade as corruption):
      * "corrupt"    — the check job ran and found decode/invariant
        failures: genuinely broken rows;
      * "unreadable" — the check job itself raised; it is RETRIED once
        first, so only a repeatable read failure lands here.
    With dry_run=True nothing is mutated — the report says what WOULD be
    dropped (run that first; Lucene's -fix is likewise documented as a
    last resort).  Returns {dropped, corrupt, unreadable, remaining,
    lost_docs, dry_run}."""
    manifest = read_manifest(index_dir)
    codec_name = manifest.get("codec", "varbyte")
    check = _postings_check_udf(codec_name)
    corrupt: list[int] = []
    unreadable: list[int] = []

    def _n_bad(seg: int) -> int:
        part = spark.read.parquet(
            os.path.join(index_dir, "postings", f"seg={seg}")
        )
        return (
            part.where(F.col("term") != DOCS_MARKER)
            .select(check("doc_ids", "tfs", "positions", "df", "ttf").alias("e"))
            .where(F.col("e") != "")
            .count()
        )

    for s in manifest["segments"]:
        if s.get("status") != "done":
            continue
        seg = int(s["seg"])
        try:
            try:
                n_bad = _n_bad(seg)
            except Exception:
                n_bad = _n_bad(seg)  # retry once: transient vs repeatable
            if n_bad:
                corrupt.append(seg)
        except Exception:
            unreadable.append(seg)
    bad = corrupt + unreadable
    if dry_run:
        lost = sum(
            int(s["n_docs"])
            for s in manifest["segments"]
            if int(s["seg"]) in bad and s.get("status") == "done"
        )
        remaining = len(
            [s for s in manifest["segments"] if s.get("status") == "done"]
        ) - len(bad)
        return {
            "dropped": sorted(bad),
            "corrupt": sorted(corrupt),
            "unreadable": sorted(unreadable),
            "remaining": remaining,
            "lost_docs": lost,
            "dry_run": True,
        }
    if bad:
        lost = 0
        for s in manifest["segments"]:
            if int(s["seg"]) in bad and s.get("status") == "done":
                s["status"] = "dropped"
                lost += int(s["n_docs"])
        keep = [s for s in manifest["segments"] if s.get("status") == "done"]
        manifest["n_docs"] = int(sum(s["n_docs"] for s in keep))
        manifest["sum_doclen"] = int(sum(s["sum_doclen"] for s in keep))
        manifest["sum_ttf"] = int(
            sum(s.get("sum_ttf", s["sum_doclen"]) for s in keep)
        )
        _write_manifest(index_dir, manifest)
    else:
        lost = 0
    remaining = len([s for s in manifest["segments"] if s.get("status") == "done"])
    return {
        "dropped": sorted(bad),
        "corrupt": sorted(corrupt),
        "unreadable": sorted(unreadable),
        "remaining": remaining,
        "lost_docs": lost,
        "dry_run": False,
    }


def verify_index(spark: SparkSession, index_dir: str, corpus: DataFrame | None = None,
                 text_col: str = "text", id_col: str = "doc_id") -> dict:
    """CheckIndex analog (CheckIndex.java:62): structural invariants.

    - df == decoded doc_id count; ttf == sum(tfs); positions count == tf sum
    - doc_ids strictly increasing
    - manifest doc counts match the docs table
    - optional: per-row sha256 parity against the source corpus
    """
    manifest = read_manifest(index_dir)
    live = [s["seg"] for s in manifest["segments"] if s.get("status") == "done"]
    postings = load_postings(spark, index_dir).where(F.col("seg").isin(live))
    codec_name = manifest.get("codec", "varbyte")
    _check = _postings_check_udf(codec_name)

    @F.pandas_udf(T.StringType())
    def _check_offsets(offsets: pd.Series, tfs: pd.Series) -> pd.Series:
        """OFFSETS stream invariants (CheckIndex.checkPostings offset checks):
        pair count == ttf, start <= end, starts non-decreasing per doc."""
        from ..codecs.registry import get_codec
        from ..codecs.varbyte import unpack_offsets_flat

        codec = get_codec(codec_name)
        out = []
        for ob, tb in zip(offsets, tfs):
            if not ob:
                out.append("")
                continue
            msgs = []
            tf = unpack_tfs(tb, codec)
            fs, fe, doffs = unpack_offsets_flat(ob, tf, codec)
            if fs.size != int(tf.sum()):
                msgs.append(f"offsets count {fs.size} != ttf {int(tf.sum())}")
            if bool(np.any(fe < fs)):
                msgs.append("offset end < start")
            for i in range(tf.size):
                sl = fs[doffs[i] : doffs[i + 1]]
                if sl.size > 1 and not bool(np.all(np.diff(sl) >= 0)):
                    msgs.append("offset starts not sorted")
                    break
            out.append(";".join(msgs))
        return pd.Series(out)

    docs = load_docs(spark, index_dir).where(F.col("seg").isin(live))

    # the check sweep, the docs count, and the sha-parity join are
    # independent jobs over different relations — run them concurrently
    # (guide §2.6); each is dominated by fixed scan/job overhead here
    def _postings_errs() -> list:
        errs = (
            postings.select(
                _check("doc_ids", "tfs", "positions", "df", "ttf").alias("err")
            )
            .where(F.col("err") != "")
            .limit(20)
            .collect()
        )
        out = [r["err"] for r in errs]
        if manifest.get("offsets"):
            oerrs = (
                postings.select(_check_offsets("offsets", "tfs").alias("err"))
                .where(F.col("err") != "")
                .limit(20)
                .collect()
            )
            out.extend(r["err"] for r in oerrs)
        return out

    def _sha_mismatches() -> int | None:
        if corpus is None:
            return None
        # per-row content sha256 parity (BASELINE.json per-row invariant)
        src = corpus.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.sha2(F.col(text_col).cast("binary"), 256).alias("sha_src"),
        )
        return (
            docs.select("doc_id", "sha256")
            .join(src, "doc_id", "inner")
            .where(F.col("sha256") != F.col("sha_src"))
            .count()
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as ex:
        f_errs = ex.submit(_postings_errs)
        f_ndocs = ex.submit(docs.count)
        f_sha = ex.submit(_sha_mismatches)
        problems = f_errs.result()
        n_docs = f_ndocs.result()
        mismatches = f_sha.result()

    if n_docs != manifest["n_docs"] and not any(
        s.get("status") == "merged" for s in manifest["segments"]
    ):
        problems.append(f"manifest n_docs {manifest['n_docs']} != docs table {n_docs}")

    sha_ok = None
    if mismatches is not None:
        sha_ok = mismatches == 0
        if not sha_ok:
            problems.append(f"{mismatches} sha256 mismatches")

    return {"ok": not problems, "problems": problems, "n_docs": n_docs, "sha_ok": sha_ok}


def split_index(index_dir: str, out_dirs: list[str]) -> list[dict]:
    """IndexSplitter analog (lucene/misc/src/java/org/apache/lucene/index/
    IndexSplitter.java:47): split one index into shards ALONG SEGMENT
    BOUNDARIES — pure metadata + hardlink work, no data rewrite (the
    reference likewise copies whole segment files).

    Live segments are round-robined across `out_dirs` (balanced by doc
    count, largest first); each shard gets hardlinks (copy fallback) of
    its segments' postings/docs/norms partitions and its own manifest.
    Tombstones follow every shard (ids are globally unique, so a shard
    simply ignores tombstones of docs it does not hold).  The shards
    reopen via SegmentSearcher, and MultiIndexSearcher over all shards is
    bit-equal to the original (the sharded == unsharded equality the
    scatter-gather tests pin).  Returns the shard manifests."""
    import shutil

    manifest = read_manifest(index_dir)
    live = [s for s in manifest["segments"] if s.get("status") == "done"]
    if not live:
        raise ValueError("no live segments to split")
    out_dirs = [d for d in out_dirs]
    if not out_dirs or any(not d or not str(d).strip() for d in out_dirs):
        raise ValueError(f"invalid out_dirs: {out_dirs!r}")
    if len(out_dirs) > len(live):
        # a shard with zero segments has no partition dirs and cannot open
        raise ValueError(
            f"cannot split {len(live)} live segments into {len(out_dirs)} "
            "shards (every shard needs at least one segment)"
        )
    # balance by doc count: biggest segment to the lightest shard
    shards: list[list[dict]] = [[] for _ in out_dirs]
    loads = [0] * len(out_dirs)
    for s in sorted(live, key=lambda x: -int(x["n_docs"])):
        i = loads.index(min(loads))
        shards[i].append(s)
        loads[i] += int(s["n_docs"])

    def _link_tree(src: str, dst: str) -> None:
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            troot = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(troot, exist_ok=True)
            for f in files:
                sp, tp = os.path.join(root, f), os.path.join(troot, f)
                try:
                    os.link(sp, tp)
                except OSError:
                    shutil.copy2(sp, tp)

    out_manifests = []
    for out_dir, segs in zip(out_dirs, shards):
        os.makedirs(out_dir, exist_ok=True)
        for sub in ("postings", "docs", "norms"):
            for s in segs:
                src = os.path.join(index_dir, sub, f"seg={int(s['seg'])}")
                if os.path.isdir(src):
                    _link_tree(src, os.path.join(out_dir, sub, f"seg={int(s['seg'])}"))
        m = {
            k: v
            for k, v in manifest.items()
            if k not in ("segments", "n_docs", "sum_doclen", "sum_ttf")
        }
        m["segments"] = [dict(s) for s in segs]
        m["n_docs"] = int(sum(s["n_docs"] for s in segs))
        m["sum_doclen"] = int(sum(s["sum_doclen"] for s in segs))
        m["sum_ttf"] = int(
            sum(s.get("sum_ttf", s["sum_doclen"]) for s in segs)
        )
        if manifest.get("tombstones_spilled"):
            # shard keeps a copy of the spill table (ids are global; the
            # anti-join simply misses foreign ids)
            spill_src = os.path.join(index_dir, "tombstones")
            if os.path.isdir(spill_src):
                _link_tree(spill_src, os.path.join(out_dir, "tombstones"))
        _write_manifest(out_dir, m)
        out_manifests.append(m)
    return out_manifests
