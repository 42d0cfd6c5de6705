"""Round-10 optimization pins: batched codec decode + the vectorized
postings-check green path must be invisible (same outputs, same error
messages) relative to the per-row implementations they replace."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from lucene_solr_intervals_spark.codecs.registry import (
    CODECS,
    decode_grouped,
    get_codec,
)


@pytest.mark.parametrize("codec_name", sorted(CODECS))
def test_decode_grouped_matches_per_stream(codec_name):
    c = get_codec(codec_name)
    rng = random.Random(11)
    streams = [
        np.array(
            [rng.randrange(0, 2**31) for _ in range(n)], dtype=np.uint64
        )
        for n in (0, 1, 5, 127, 128, 129, 257, 777)
    ]
    bufs = [c.encode(s) for s in streams]
    vals, counts = decode_grouped(c, bufs)
    assert list(counts) == [s.size for s in streams]
    assert np.array_equal(vals, np.concatenate(streams))
    # per-stream split equals per-stream decode
    offs = np.concatenate([[0], np.cumsum(counts)])
    for i, s in enumerate(streams):
        assert np.array_equal(vals[offs[i]:offs[i + 1]], s)


@pytest.mark.parametrize("codec_name", sorted(CODECS))
def test_merge_partition_batched_matches_merge_group(codec_name):
    """The vectorized multi-term merge must emit BYTE-identical rows to the
    per-term _merge_group kernel (block metadata included) — WAND's skip
    offsets depend on exact bytes."""
    from lucene_solr_intervals_spark.codecs.varbyte import (
        block_byte_starts, block_meta, delta_encode, pack_doc_ids,
        pack_positions, pack_tfs,
    )
    from lucene_solr_intervals_spark.index.segment import (
        POSTINGS_SCHEMA, _merge_group, _merge_partition_batched,
    )

    codec = get_codec(codec_name)
    rng = random.Random(29)
    rows = []
    base = 0
    for seg in range(4):  # disjoint ascending doc ranges per seg
        for term in ["alpha", "beta", "gamma", "delta"]:
            if term == "delta" and seg == 2:
                continue  # a term missing from one segment
            n = rng.randrange(1, 200)
            ids = np.sort(
                np.array(rng.sample(range(base, base + 1000), n), dtype=np.int64)
            )
            tfs = np.array([rng.randrange(1, 4) for _ in range(n)], dtype=np.int64)
            pos = [
                np.sort(np.array(rng.sample(range(0, 300), int(t)), dtype=np.int64))
                for t in tfs
            ]
            nbm = np.array(
                [rng.randrange(20, 120) for _ in range((n + 127) // 128)],
                dtype=np.int32,
            )
            last_b, max_b = block_meta(ids, tfs)
            rows.append(
                {
                    "seg": seg,
                    "term": term,
                    "df": int(n),
                    "ttf": int(tfs.sum()),
                    "doc_ids": pack_doc_ids(ids, codec),
                    "tfs": pack_tfs(tfs, codec),
                    "positions": pack_positions(pos, codec),
                    "block_last": last_b,
                    "block_max_tf": max_b,
                    "block_max_nb": nbm.tobytes(),
                    "block_id_offs": b"",
                    "block_tf_offs": b"",
                    "offsets": b"",
                    "new_seg": 99,
                }
            )
        base += 1000
    pdf = pd.DataFrame(rows)
    cols = [f.name for f in POSTINGS_SCHEMA.fields]
    batched = _merge_partition_batched(pdf, codec=codec)
    per_term = pd.concat(
        [
            _merge_group(g, tombstones=frozenset(), codec=codec)
            for _, g in pdf.groupby("term", sort=True)
        ],
        ignore_index=True,
    )
    batched = batched.sort_values("term").reset_index(drop=True)[cols]
    per_term = per_term.sort_values("term").reset_index(drop=True)[cols]
    assert list(batched["term"]) == list(per_term["term"])
    for c in cols:
        for i in range(len(batched)):
            assert batched[c][i] == per_term[c][i], (c, batched["term"][i])


def _mk_row(codec, rng, n_docs):
    from lucene_solr_intervals_spark.codecs.varbyte import (
        pack_doc_ids, pack_positions, pack_tfs,
    )

    ids = np.sort(
        np.array(rng.sample(range(0, 10 * n_docs + 10), n_docs), dtype=np.int64)
    )
    tfs = np.array([rng.randrange(1, 5) for _ in range(n_docs)], dtype=np.int64)
    pos = [
        np.sort(np.array(rng.sample(range(0, 500), int(t)), dtype=np.int64))
        for t in tfs
    ]
    return {
        "doc_ids": pack_doc_ids(ids, codec),
        "tfs": pack_tfs(tfs, codec),
        "positions": pack_positions(pos, codec),
        "df": int(ids.size),
        "ttf": int(tfs.sum()),
    }


def test_positional_required_filter_branches_identical(spark):
    """The required-terms semi-filter is an optimization only: forcing it
    ON and OFF must produce identical positional results (rows + scores),
    whatever the stats-driven default picks."""
    from lucene_solr_intervals_spark.index.builder import build_index
    from lucene_solr_intervals_spark.search import queries as Q
    from lucene_solr_intervals_spark.search.executor import Searcher

    rng = random.Random(41)
    vocab = ["hot", "cold", "pea", "pod", "rare"]
    rows = [
        (i, " ".join(rng.choice(vocab[:4]) for _ in range(rng.randint(4, 25)))
         + (" rare pod" if i % 9 == 0 else ""))
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(docs, analyzer="code")
    try:
        queries = [
            Q.Phrase(("hot", "cold")),                      # balanced dfs
            Q.Phrase(("rare", "pod"), slop=2),              # skewed dfs
            Q.OrderedNear(3, (Q.Term("pea"), Q.Term("pod"))),
            Q.UnorderedNear(2, (Q.Term("hot"), Q.Term("rare"))),
        ]
        for mode in ("sql", "lucene"):
            s = Searcher(idx, mode=mode)
            for q in queries:
                outs = []
                for force in (True, False):
                    s._required_filter_helps = (
                        lambda *_a, _f=force, **_k: _f
                    )
                    outs.append(sorted(
                        (r["doc_id"], round(float(r["score"]), 6))
                        for r in s.scored(q).collect()
                    ))
                assert outs[0] == outs[1], (mode, q)
                assert outs[0], (mode, q)  # non-vacuous
    finally:
        idx.unpersist()


@pytest.mark.parametrize("codec_name", sorted(CODECS))
def test_batched_check_parity_green_and_corrupt(codec_name):
    """The batched green path returns all-clean exactly when the per-row
    loop does; any corruption falls back to the per-row loop's messages."""
    from lucene_solr_intervals_spark.index.segment import (
        _check_rows_batched, _check_rows_loop,
    )

    codec = get_codec(codec_name)
    rng = random.Random(13)
    rows = [_mk_row(codec, rng, n) for n in (1, 2, 7, 130, 300)]

    def cols(rws):
        return (
            pd.Series([r["doc_ids"] for r in rws]),
            pd.Series([r["tfs"] for r in rws]),
            pd.Series([r["positions"] for r in rws]),
            pd.Series([r["df"] for r in rws]),
            pd.Series([r["ttf"] for r in rws]),
        )

    out = _check_rows_batched(codec, *cols(rows))
    assert out is not None and list(out) == [""] * len(rows)
    assert list(_check_rows_loop(codec, *cols(rows))) == [""] * len(rows)

    # corrupt variants: wrong df, wrong ttf, truncated positions buffer
    for mutate in (
        lambda r: r.update(df=r["df"] + 1),
        lambda r: r.update(ttf=r["ttf"] + 3),
        lambda r: r.update(positions=r["positions"][:-1]),
    ):
        bad = [dict(r) for r in rows]
        mutate(bad[2])
        try:
            b = _check_rows_batched(codec, *cols(bad))
        except Exception:
            b = None
        assert b is None  # batched path must hand off, never green-wash
        loop_out = list(_check_rows_loop(codec, *cols(bad)))
        assert loop_out[2] != ""  # the per-row loop localizes the break
        assert all(m == "" for i, m in enumerate(loop_out) if i != 2)


def test_seg_norms_pdf_matches_relation(spark, tmp_path):
    """The task-side norms read (_seg_norms_pdf) must deliver exactly what
    the old per-query norms cogroup delivered: the segment's (doc_base,
    span, norm_bytes) row plus, when tombstones are spilled, that
    segment's delete slice — and search results must mask spilled deletes
    identically on every packed path."""
    from lucene_solr_intervals_spark.corpus import generate_corpus
    from lucene_solr_intervals_spark.index.segment import build_segments
    from lucene_solr_intervals_spark.search.wand import (
        SegmentSearcher,
        _seg_norms_pdf,
    )
    from lucene_solr_intervals_spark.streaming.nrt import delete_by_doc_ids

    corpus = generate_corpus(spark, 400)
    d = str(tmp_path / "norm_idx")
    build_segments(corpus, d, n_segments=4, id_col="doc_id",
                   text_col="content", n_docs_hint=400)
    ss = SegmentSearcher(spark, d)
    rel = {int(r["seg"]): r for r in ss.norms.collect()}
    for seg in ss.live:
        pdf = _seg_norms_pdf(d, seg, False)
        assert int(pdf["doc_base"].iloc[0]) == int(rel[seg]["doc_base"])
        assert int(pdf["span"].iloc[0]) == int(rel[seg]["span"])
        assert bytes(pdf["norm_bytes"].iloc[0]) == bytes(rel[seg]["norm_bytes"])

    # spill a big delete set and compare the per-segment slices too
    victims = [r["doc_id"] for r in
               ss.search(["get_index"], k=8, mode="exhaustive").collect()]
    delete_by_doc_ids(d, victims, spill_threshold=0)
    ss2 = SegmentSearcher(spark, d)
    assert ss2._spilled
    rel2 = {int(r["seg"]): r for r in ss2.norms.collect()}
    for seg in ss2.live:
        pdf = _seg_norms_pdf(d, seg, True)
        want = sorted(rel2[seg]["tomb"] or [])
        assert sorted(pdf["tomb"].iloc[0]) == [int(x) for x in want]
        light = _seg_norms_pdf(d, seg, True, with_norms=False)
        assert sorted(light["tomb"].iloc[0]) == [int(x) for x in want]
    # deleted docs are masked on wand + exhaustive + count
    for mode in ("wand", "exhaustive"):
        got = [r["doc_id"] for r in
               ss2.search(["get_index"], k=20, mode=mode).collect()]
        assert not set(victims) & set(got)
    n_before = ss.count(["get_index"])
    n_after = ss2.count(["get_index"])
    assert n_after == n_before - len(victims)


def test_df_seek_matches_scan(spark, tmp_path):
    """The driver-side term-dictionary seek must return exactly the df sums
    the pruned Spark scan returns — present terms, absent terms, and terms
    bloom-pruned in some segments — so memoized weights are bit-identical
    whichever path populated them."""
    from lucene_solr_intervals_spark.corpus import generate_corpus
    from lucene_solr_intervals_spark.index.segment import build_segments
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher
    from pyspark.sql import functions as F

    corpus = generate_corpus(spark, 600)
    d = str(tmp_path / "seek_idx")
    build_segments(corpus, d, n_segments=6, id_col="doc_id",
                   text_col="content", n_docs_hint=600)
    ss = SegmentSearcher(spark, d)
    terms = ["get_index", "merge_posting", "scan_doc", "zz_absent_term"]
    seek = ss._df_seek(terms)
    rows = (
        ss.postings.select("term", "df")
        .where(F.col("term").isin(terms))
        .groupBy("term").agg(F.sum("df").alias("df")).collect()
    )
    scan = {t: 0 for t in terms}
    scan.update({r["term"]: int(r["df"]) for r in rows})
    assert seek == scan
    assert scan["get_index"] > 0          # non-vacuous
    assert scan["zz_absent_term"] == 0
    # and _dfs (the memoized front) agrees with the scan too
    ss._df_memo = {}
    assert ss._dfs(terms) == scan
    # a repeated query term is counted once
    ss._df_memo = {}
    assert ss._dfs(["get_index", "get_index"]) == {"get_index": scan["get_index"]}


def test_driver_path_matches_spark_path(spark, tmp_path):
    """The coordinator-local small-query execution must be output-identical
    (rows, values, ORDER) to the distributed kernel path on every mode —
    wand, exhaustive, conjunctive, count, caller-supplied weights — with
    manifest AND spilled tombstones, and the cold search_segments path
    likewise.  Conjunctions with a term absent from the index or present
    in one segment only return only docs holding every term, as many as
    count(conjunctive=True) allows."""
    from lucene_solr_intervals_spark.analysis.tokenizer import ANALYZERS
    from lucene_solr_intervals_spark.corpus import generate_corpus
    from lucene_solr_intervals_spark.index.segment import (
        build_segments,
        merge_segments,
        read_manifest,
    )
    from lucene_solr_intervals_spark.search import wand as W
    from lucene_solr_intervals_spark.streaming.nrt import (
        append_segment_batch,
        delete_by_doc_ids,
    )

    corpus = generate_corpus(spark, 900)
    d = str(tmp_path / "dq_idx")
    build_segments(corpus, d, n_segments=6, id_col="doc_id",
                   text_col="content", n_docs_hint=900)
    # an appended segment is the only one holding the batch marker
    batch = [(900 + i, "get_index batchmarker" if i % 4 else "batchmarker")
             for i in range(20)]
    append_segment_batch(
        spark.createDataFrame(batch, "doc_id long, content string"), d,
        text_col="content",
    )
    tokens = {
        int(r["doc_id"]): set(ANALYZERS["code"](r["content"])[0])
        for r in corpus.select("doc_id", "content").collect()
    }
    tokens.update({i: set(ANALYZERS["code"](t)[0]) for i, t in batch})

    def both(fn):
        old = W._DRIVER_QUERY_MAX_BYTES
        try:
            W._DRIVER_QUERY_MAX_BYTES = 1 << 30
            drv = fn()
            W._DRIVER_QUERY_MAX_BYTES = 0  # gate shut -> Spark job path
            dist = fn()
        finally:
            W._DRIVER_QUERY_MAX_BYTES = old
        return drv, dist

    def rows(df):
        if isinstance(df, int):  # count
            return df
        return [(r["doc_id"], float(r["score"])) for r in df.collect()]

    conj_k = 10
    conjunctions = [["get_index", "zz_absent"], ["get_index", "batchmarker"]]
    for stage in ("plain", "merged", "deleted", "spilled"):
        if stage == "merged":
            # multi-file / merged segments: a segment's rows must reach ONE
            # kernel call even when split across files (the r10 driver-path
            # per-file bug this stage regression-pins)
            live0 = [s["seg"] for s in read_manifest(d)["segments"]
                     if s["status"] == "done"]
            merge_segments(spark, d, live0[:3], new_seg=50)
        elif stage == "deleted":
            ss0 = W.SegmentSearcher(spark, d)
            victims = [r["doc_id"] for r in
                       ss0.search(["get_index"], k=5, mode="exhaustive").collect()]
            delete_by_doc_ids(d, victims)
        elif stage == "spilled":
            delete_by_doc_ids(d, [1, 2, 3, 903], spill_threshold=0)
        ss = W.SegmentSearcher(spark, d)
        w = ss._weights(["get_index", "merge_posting"])
        cases = [
            lambda: ss.search(["get_index"], k=10, mode="wand"),
            lambda: ss.search(["get_index", "merge_posting"], k=10, mode="wand"),
            lambda: ss.search(["get_index", "merge_posting"], k=10,
                              mode="exhaustive"),
            lambda: ss.search(["get_index", "merge_posting"], k=10,
                              conjunctive=True),
            lambda: ss.search(["zz_absent"], k=10),
            lambda: W.search_segments(spark, d, ["get_index"], k=10,
                                      mode="wand"),
            lambda: ss.scan_with_weights(["get_index", "merge_posting"], w,
                                         ss.cache, 10),
            lambda: ss.count(["get_index", "merge_posting"]),
            lambda: ss.count(["get_index", "merge_posting"], conjunctive=True),
        ] + [
            (lambda t=t: ss.search(t, k=conj_k, conjunctive=True))
            for t in conjunctions
        ]
        got = {}
        for i, fn in enumerate(cases):
            drv, dist = both(fn)
            rd, rs = rows(drv), rows(dist)
            assert rd == rs, (stage, i, rd if isinstance(rd, int) else rd[:3],
                              rs if isinstance(rs, int) else rs[:3])
            got[i] = rd
            if i in (0, 7, 8):
                assert rd, (stage, i, "vacuous")
        dead = set(ss.tombstones)
        if ss._spilled:
            from lucene_solr_intervals_spark.index.segment import (
                read_spilled_tombstones,
            )

            dead |= read_spilled_tombstones(d)
        if stage in ("deleted", "spilled"):
            assert dead
        # search_segments honours tombstones
        assert not {doc for doc, _ in got[5]} & dead, stage
        assert got[5] == got[0], stage
        for j, terms in enumerate(conjunctions):
            hits = got[len(cases) - len(conjunctions) + j]
            n = ss.count(terms, conjunctive=True)
            assert len(hits) == min(conj_k, n), (stage, terms, len(hits), n)
            assert all(set(terms) <= tokens[doc] for doc, _ in hits), (stage, terms)
            assert not {doc for doc, _ in hits} & dead, (stage, terms)
        assert got[len(cases) - 1], (stage, "vacuous")


def test_build_index_aggregated_matches_groupby(spark):
    """The in-batch FreqProx aggregation (tokenize_agg_expr) must produce
    postings value-identical to the relational explode + groupBy +
    sort_array(collect_list) it replaces — including stop-word position
    holes, empty documents, and docs/term_stats/avgdl bookkeeping."""
    from pyspark.sql import functions as F

    from lucene_solr_intervals_spark.index.builder import (
        build_index,
        tokenize_expr,
    )

    rows = [
        (0, "the quick brown fox the quick"),
        (1, ""),
        (2, "over the lazy dog dog dog"),
        (3, "a a a b b c"),
        (4, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for analyzer in ("code", "stop", "en_stem"):
        idx = build_index(docs, analyzer=analyzer)
        try:
            got = {
                (r["field"], r["term"], r["doc_id"], r["tf"],
                 tuple(r["positions"]))
                for r in idx.postings.collect()
            }
            # reference: the historical relational aggregation
            tok = tokenize_expr(analyzer)
            tokenized = docs.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit("text").alias("field"),
                tok(F.col("text")).alias("t"),
            ).select("doc_id", "field", "t.terms", "t.positions",
                     "t.doclen", "t.norm_byte")
            occ = tokenized.select(
                "doc_id", "field",
                F.explode(F.arrays_zip("terms", "positions")).alias("o"),
            ).select(
                "doc_id", "field",
                F.col("o.terms").alias("term"),
                F.col("o.positions").alias("pos"),
            )
            ref_postings = occ.groupBy("field", "term", "doc_id").agg(
                F.count(F.lit(1)).cast("int").alias("tf"),
                F.sort_array(F.collect_list("pos")).alias("positions"),
            )
            want = {
                (r["field"], r["term"], r["doc_id"], r["tf"],
                 tuple(r["positions"]))
                for r in ref_postings.collect()
            }
            assert got == want, (analyzer, got ^ want)
            assert got, analyzer  # non-vacuous
            ref_docs = {
                (r["doc_id"], r["field"], r["doclen"], r["norm_byte"])
                for r in tokenized.select(
                    "doc_id", "field", "doclen", "norm_byte").collect()
            }
            got_docs = {
                (r["doc_id"], r["field"], r["doclen"], r["norm_byte"])
                for r in idx.docs.collect()
            }
            assert got_docs == ref_docs, analyzer
            assert idx.max_doc == 5
            ref_ttf = sum(tf for (_f, _t, _d, tf, _p) in want)
            assert idx.sum_ttf == ref_ttf, analyzer
        finally:
            idx.unpersist()


def test_build_tail_driver_matches_spark(spark, tmp_path, monkeypatch):
    """build_segments' byte-gated driver tail (sidecar collect + pandas
    expand + pyarrow partitioned writes) must be invisible relative to the
    distributed tail: identical manifest, identical docs and norms tables
    (schema included), identical task-side per-file norms reads, and
    identical search results over the two indexes."""
    import json
    import os

    from lucene_solr_intervals_spark.corpus import generate_corpus
    from lucene_solr_intervals_spark.index.segment import (
        build_segments,
        load_docs,
        load_norms,
        verify_index,
    )
    from lucene_solr_intervals_spark.search.wand import (
        SegmentSearcher,
        _seg_norms_pdf,
    )

    corpus = generate_corpus(spark, 400).persist()
    corpus.count()
    dirs = {}
    for name, gate in (("spark", "0"), ("driver", str(1 << 30))):
        monkeypatch.setenv("LSI_DRIVER_BUILD_MAX_BYTES", gate)
        d = str(tmp_path / f"idx_{name}")
        m = build_segments(
            corpus, d, n_segments=4, id_col="doc_id", text_col="content",
            analyzer="code", n_docs_hint=400, codec="for128",
        )
        dirs[name] = (d, m)
    (d1, m1), (d2, m2) = dirs["spark"], dirs["driver"]

    def strip(m):
        m = json.loads(json.dumps(m))
        m.pop("metrics")
        for s in m["segments"]:
            s.pop("built_at")
        return m

    assert strip(m1) == strip(m2)

    docs1, docs2 = load_docs(spark, d1), load_docs(spark, d2)
    assert docs1.schema == docs2.schema
    rows1 = [tuple(r) for r in docs1.orderBy("doc_id").collect()]
    rows2 = [tuple(r) for r in docs2.orderBy("doc_id").collect()]
    assert rows1 and rows1 == rows2

    n1 = {int(r["seg"]): r for r in load_norms(spark, d1).collect()}
    n2 = {int(r["seg"]): r for r in load_norms(spark, d2).collect()}
    assert set(n1) == set(n2) and n1
    for seg in n1:
        assert int(n1[seg]["doc_base"]) == int(n2[seg]["doc_base"])
        assert int(n1[seg]["span"]) == int(n2[seg]["span"])
        assert bytes(n1[seg]["norm_bytes"]) == bytes(n2[seg]["norm_bytes"])
        # the task-side per-file read must work on both layouts
        a, b = _seg_norms_pdf(d1, seg, False), _seg_norms_pdf(d2, seg, False)
        assert bytes(a["norm_bytes"].iloc[0]) == bytes(b["norm_bytes"].iloc[0])
        assert int(a["doc_base"].iloc[0]) == int(b["doc_base"].iloc[0])

    s1, s2 = SegmentSearcher(spark, d1), SegmentSearcher(spark, d2)
    for terms, kw in (
        (["get_index"], {"mode": "wand"}),
        (["get_index", "merge_posting"], {"mode": "exhaustive"}),
    ):
        r1 = [tuple(r) for r in s1.search(terms, k=10, **kw).collect()]
        r2 = [tuple(r) for r in s2.search(terms, k=10, **kw).collect()]
        assert r1 and r1 == r2

    v = verify_index(spark, d2, corpus=corpus, text_col="content",
                     id_col="doc_id")
    assert v["ok"] and v["sha_ok"] is True
    corpus.unpersist()
