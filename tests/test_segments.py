"""Segment store tests: build -> verify -> merge -> query (WAND == exhaustive
== exploded-index lucene-mode search)."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_intervals_spark.index.builder import build_index
from lucene_solr_intervals_spark.index.segment import (
    build_segments,
    load_docs,
    load_postings,
    merge_segments,
    plan_merges,
    read_manifest,
    verify_index,
)
from lucene_solr_intervals_spark.search import queries as Q
from lucene_solr_intervals_spark.search.executor import Searcher
from lucene_solr_intervals_spark.search.wand import search_segments


@pytest.fixture(scope="module")
def corpus(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)] + ["rare1", "rare2"]
    rows = []
    for i in range(400):
        n = rng.randint(5, 60)
        words = [vocab[min(int(rng.expovariate(0.12)), len(vocab) - 1)] for _ in range(n)]
        if i % 37 == 0:
            words.append("rare1")
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, corpus):
    d = str(tmp_path_factory.mktemp("segidx"))
    m = build_segments(corpus, d, n_segments=8, id_col="doc_id", analyzer="code")
    assert m["n_docs"] == 400
    return d


def test_verify_index(spark, index_dir, corpus):
    res = verify_index(spark, index_dir, corpus=corpus)
    assert res["ok"], res["problems"]
    assert res["sha_ok"] is True


def test_manifest_contiguous_segments(index_dir):
    m = read_manifest(index_dir)
    segs = sorted(m["segments"], key=lambda s: s["doc_base"])
    covered = 0
    for s in segs:
        assert s["doc_base"] == covered
        covered += s["n_docs"]
    assert covered == 400


def test_wand_equals_exhaustive_equals_dataframe(spark, index_dir, corpus):
    idx = build_index(corpus, analyzer="code")
    s = Searcher(idx, mode="lucene")
    for terms in [["w0"], ["w1", "w5"], ["rare1", "w3"], ["w2", "w7", "w11"]]:
        k = 10
        wand = [
            (r["doc_id"], r["score"])
            for r in search_segments(spark, index_dir, terms, k=k, mode="wand").collect()
        ]
        exh = [
            (r["doc_id"], r["score"])
            for r in search_segments(
                spark, index_dir, terms, k=k, mode="exhaustive"
            ).collect()
        ]
        assert wand == exh, terms
        q = (
            Q.Term(terms[0])
            if len(terms) == 1
            else Q.Boolean(should=tuple(Q.Term(t) for t in terms))
        )
        df_path = [(r["doc_id"], r["score"]) for r in s.search(q, k=k).collect()]
        assert [d for d, _ in wand] == [d for d, _ in df_path], terms
        for (wd, wsc), (dd, dsc) in zip(wand, df_path):
            assert wsc == pytest.approx(dsc, rel=1e-6)
    idx.unpersist()


def test_conjunctive_segments(spark, index_dir, corpus):
    got = [
        r["doc_id"]
        for r in search_segments(
            spark, index_dir, ["rare1", "w0"], k=100, conjunctive=True
        ).collect()
    ]
    rows = corpus.collect()
    want = {
        r["doc_id"]
        for r in rows
        if "rare1" in r["text"].split() and "w0" in r["text"].split()
    }
    assert set(got) == want


def test_merge_preserves_results(spark, index_dir, corpus, tmp_path):
    import shutil

    d2 = str(tmp_path / "merged")
    shutil.copytree(index_dir, d2)
    before = [
        (r["doc_id"], r["score"])
        for r in search_segments(spark, d2, ["w1", "w5"], k=10).collect()
    ]
    m = read_manifest(d2)
    live = [s["seg"] for s in m["segments"] if s["status"] == "done"]
    merge_segments(spark, d2, live[:4], new_seg=100)
    m2 = read_manifest(d2)
    live2 = [s["seg"] for s in m2["segments"] if s["status"] == "done"]
    assert 100 in live2 and len(live2) == len(live) - 3
    after = [
        (r["doc_id"], r["score"])
        for r in search_segments(spark, d2, ["w1", "w5"], k=10).collect()
    ]
    assert before == after
    res = verify_index(spark, d2, corpus=corpus)
    assert res["ok"], res["problems"]
    # lineage recorded
    merged_entry = [s for s in m2["segments"] if s["seg"] == 100][0]
    assert merged_entry["lineage"] == sorted(live[:4])


def test_salted_merge_equals_plain(spark, index_dir, corpus, tmp_path):
    import shutil

    d_plain = str(tmp_path / "m_plain")
    d_salt = str(tmp_path / "m_salt")
    shutil.copytree(index_dir, d_plain)
    shutil.copytree(index_dir, d_salt)
    m = read_manifest(index_dir)
    live = [s["seg"] for s in m["segments"] if s["status"] == "done"]
    merge_segments(spark, d_plain, live, new_seg=200, salt=1)
    merge_segments(spark, d_salt, live, new_seg=200, salt=3)
    for d in (d_plain, d_salt):
        res = verify_index(spark, d, corpus=corpus)
        assert res["ok"], (d, res["problems"])
    a = [
        (r["doc_id"], r["score"])
        for r in search_segments(spark, d_plain, ["w1", "w5"], k=20).collect()
    ]
    b = [
        (r["doc_id"], r["score"])
        for r in search_segments(spark, d_salt, ["w1", "w5"], k=20).collect()
    ]
    assert a == b
    # packed postings byte-identical per term
    pa = {r["term"]: (r["doc_ids"], r["tfs"], r["positions"])
          for r in load_postings(spark, d_plain).where(F.col("seg") == 200).collect()}
    pb = {r["term"]: (r["doc_ids"], r["tfs"], r["positions"])
          for r in load_postings(spark, d_salt).where(F.col("seg") == 200).collect()}
    assert pa == pb


def test_packed_interval_search(spark, index_dir, corpus):
    from lucene_solr_intervals_spark.search import queries as Q
    from lucene_solr_intervals_spark.search.executor import Searcher
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher

    ss = SegmentSearcher(spark, index_dir)
    idx = build_index(corpus, analyzer="code")
    s = Searcher(idx, mode="lucene")
    for q in [
        Q.UnorderedNear(3, (Q.Term("rare1"), Q.Term("w0"))),
        Q.OrderedNear(5, (Q.Term("w1"), Q.Term("w2"))),
        Q.Phrase(("w0", "w1")),
    ]:
        packed = [(r["doc_id"], round(float(r["score"]), 5))
                  for r in ss.search_intervals(q, k=50).collect()]
        exploded = [(r["doc_id"], round(float(r["score"]), 5))
                    for r in s.search(q, k=50).collect()]
        # doc sets and order must agree (scores float32 on both paths)
        assert [d for d, _ in packed] == [d for d, _ in exploded], q
    idx.unpersist()


def test_resume_skips_done_segments(spark, corpus, tmp_path):
    d = str(tmp_path / "resume")
    m1 = build_segments(corpus, d, n_segments=4, id_col="doc_id")
    # simulate a partial build: drop the last segment from the manifest
    m1["segments"] = m1["segments"][:-1]
    m1["n_docs"] = sum(s["n_docs"] for s in m1["segments"])
    with open(f"{d}/manifest.json", "w") as f:
        json.dump(m1, f)
    m2 = build_segments(corpus, d, n_segments=4, id_col="doc_id", resume=True)
    assert m2["n_docs"] == 400
    assert len([s for s in m2["segments"] if s["status"] == "done"]) == 4


def test_plan_merges():
    manifest = {
        "segments": [
            {"seg": i, "n_docs": 100, "status": "done"} for i in range(25)
        ]
    }
    plans = plan_merges(manifest, segs_per_tier=10)
    assert len(plans) == 2
    assert all(len(p) == 10 for p in plans)


def test_search_many_matches_single(spark, index_dir):
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher

    ss = SegmentSearcher(spark, index_dir)
    terms = ["w0", "w1", "w5", "rare1"]
    batch = ss.search_many(terms, k=10).collect()
    by_term = {}
    for r in batch:
        by_term.setdefault(r["query_term"], []).append((r["rank"], r["doc_id"], r["score"]))
    for t in terms:
        single = [(i + 1, r["doc_id"], r["score"])
                  for i, r in enumerate(ss.search([t], k=10).collect())]
        got = sorted(by_term.get(t, []))
        assert got == single, t


def test_tombstones_and_reclaim(spark, index_dir, corpus, tmp_path):
    import shutil

    from lucene_solr_intervals_spark.index.segment import read_manifest
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher
    from lucene_solr_intervals_spark.streaming.nrt import delete_by_doc_ids

    d = str(tmp_path / "tomb")
    shutil.copytree(index_dir, d)
    ss = SegmentSearcher(spark, d)
    before = [r["doc_id"] for r in ss.search(["w0"], k=5).collect()]
    assert before
    victim = before[0]
    delete_by_doc_ids(d, [victim])
    ss2 = SegmentSearcher(spark, d)
    after = [r["doc_id"] for r in ss2.search(["w0"], k=5).collect()]
    assert victim not in after
    # batch path also excludes it
    batch = ss2.search_many(["w0"], k=5).collect()
    assert victim not in [r["doc_id"] for r in batch]
    # merge reclaims: tombstone leaves the manifest, doc physically gone
    m = read_manifest(d)
    live = [s["seg"] for s in m["segments"] if s["status"] == "done"]
    merge_segments(spark, d, live, new_seg=300)
    m2 = read_manifest(d)
    assert m2.get("tombstones", []) == []
    ss3 = SegmentSearcher(spark, d)
    final = [r["doc_id"] for r in ss3.search(["w0"], k=100).collect()]
    assert victim not in final
    res = verify_index(spark, d)
    assert res["ok"], res["problems"]


def test_concurrent_merge_scheduler(spark, corpus, tmp_path):
    """ConcurrentMergeScheduler analog: disjoint tier merges on concurrent
    threads produce the same index state as sequential merges — and queries
    over the compacted index equal queries over the original."""
    from lucene_solr_intervals_spark.index.segment import concurrent_merge
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher

    d = str(tmp_path / "cms")
    build_segments(corpus, d, n_segments=8, id_col="doc_id", analyzer="code")
    before = SegmentSearcher(spark, d)
    baseline = [(r["doc_id"], round(float(r["score"]), 5))
                for r in before.search(["w1"], k=20).collect()]

    m = concurrent_merge(spark, d, segs_per_tier=4, max_workers=2)
    live = [s for s in m["segments"] if s["status"] == "done"]
    assert len(live) == 2  # 8 segments -> two concurrent 4-way merges
    assert all(len(s["lineage"]) == 4 for s in live)
    assert m["n_docs"] == 400
    res = verify_index(spark, d, corpus=corpus)
    assert res["ok"], res["problems"]

    after = SegmentSearcher(spark, d)
    got = [(r["doc_id"], round(float(r["score"]), 5))
           for r in after.search(["w1"], k=20).collect()]
    assert got == baseline


def test_wand_skip_multiblock_rank_safety(spark, tmp_path):
    """Block-skip WAND == exhaustive on an index with MANY 128-doc blocks
    per term (the skip path actually fires), incl. under tombstones."""
    from lucene_solr_intervals_spark.corpus import generate_corpus
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher
    from lucene_solr_intervals_spark.streaming.nrt import delete_by_doc_ids

    d = str(tmp_path / "skipidx")
    corpus = generate_corpus(spark, 1500)
    build_segments(corpus, d, n_segments=1, id_col="doc_id", analyzer="code",
                   text_col="content")
    ss = SegmentSearcher(spark, d)
    # common terms -> >10 blocks each; mixed with a rare probe
    batteries = [
        ["w0"],
        ["w0", "w1"],
        ["interval_probe_alpha", "w0"],
        ["w2", "w3", "w5"],
    ]
    for terms in batteries:
        wand = [(r["doc_id"], round(float(r["score"]), 5))
                for r in ss.search(terms, k=10, mode="wand").collect()]
        exact = [(r["doc_id"], round(float(r["score"]), 5))
                 for r in ss.search(terms, k=10, mode="exhaustive").collect()]
        assert wand == exact, terms
    # tombstones still masked on the skip path
    victims = [r["doc_id"] for r in ss.search(["w0"], k=3, mode="exhaustive").collect()]
    delete_by_doc_ids(d, victims)
    ss2 = SegmentSearcher(spark, d)
    wand = [r["doc_id"] for r in ss2.search(["w0"], k=10, mode="wand").collect()]
    exact = [r["doc_id"] for r in ss2.search(["w0"], k=10, mode="exhaustive").collect()]
    assert wand == exact
    assert not set(victims) & set(wand)


def test_norms_never_broadcast(spark, index_dir):
    """100-TB guard: the norms relation is total-corpus doc-count bytes, so
    it must never be broadcast — and since r10 it never enters the query
    plan at all: each per-segment kernel task reads exactly its own
    segment's blob from the seg-partitioned sidecar (_seg_norms_pdf), so
    the per-query plan has ONE grouped-map node over the pruned postings
    scan, no norms scan, no norms Exchange, and trivially no
    BroadcastExchange of norms."""
    from lucene_solr_intervals_spark.search import wand as W
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher

    ss = SegmentSearcher(spark, index_dir)
    # shut the coordinator-local gate: this test pins the DISTRIBUTED plan
    old_gate = W._DRIVER_QUERY_MAX_BYTES
    W._DRIVER_QUERY_MAX_BYTES = 0
    try:
        dfs = [
            ss.search(["w0", "w1"], k=10),
            ss.search_many(["w0", "w1", "w5"], k=10),
        ]
    finally:
        W._DRIVER_QUERY_MAX_BYTES = old_gate
    for df in dfs:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan, plan[:2000]
        # norms reach the kernel task-side, never through the plan — so
        # no norms scan, no norms Exchange, and no possible broadcast of
        # them (search_many's tiny in-plan STATS broadcast is fine)
        assert "/norms" not in plan, plan[:2000]
        # exactly one Exchange feeds the kernel (the seg grouping); the
        # old cogroup's second (norms-side) Exchange is gone
        n_seg_exchanges = sum(
            1 for ln in plan.splitlines()
            if "Exchange hashpartitioning(seg" in ln
        )
        assert n_seg_exchanges == 1, plan[:2000]


def test_search_many_pruned_path_rank_safe(spark, tmp_path):
    """The batched search_many kernel on heavy terms (df >> 256 per
    segment): ranks and scores must equal the exhaustive single-query path
    exactly, with and without tombstones."""
    from lucene_solr_intervals_spark.corpus import generate_corpus
    from lucene_solr_intervals_spark.index.segment import build_segments
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher
    from lucene_solr_intervals_spark.streaming.nrt import delete_by_doc_ids

    corpus = generate_corpus(spark, 3000)
    d = str(tmp_path / "prune_idx")
    build_segments(corpus, d, n_segments=2, id_col="doc_id",
                   text_col="content", n_docs_hint=3000)
    ss = SegmentSearcher(spark, d)
    terms = ["get_index", "merge_posting", "scan_segment", "read_term",
             "flush_segment"]
    # confirm at least one term is heavy
    dfs = ss._dfs(terms)
    assert max(dfs.values()) > 512, dfs
    batch = {}
    for r in ss.search_many(terms, k=10).collect():
        batch.setdefault(r["query_term"], []).append(
            (r["rank"], r["doc_id"], round(float(r["score"]), 6))
        )
    for t in terms:
        single = [
            (i + 1, r["doc_id"], round(float(r["score"]), 6))
            for i, r in enumerate(ss.search([t], k=10, mode="exhaustive").collect())
        ]
        assert sorted(batch.get(t, [])) == single, t

    # tombstones: kill half the current top-10 of the heaviest term
    heavy = max(dfs, key=lambda t: dfs[t])
    top = [r["doc_id"] for r in ss.search([heavy], k=10).collect()]
    delete_by_doc_ids(d, [int(x) for x in top[:5]])
    ss2 = SegmentSearcher(spark, d)
    batch2 = [
        (r["rank"], r["doc_id"], round(float(r["score"]), 6))
        for r in ss2.search_many([heavy], k=10).collect()
        if r["query_term"] == heavy
    ]
    single2 = [
        (i + 1, r["doc_id"], round(float(r["score"]), 6))
        for i, r in enumerate(ss2.search([heavy], k=10, mode="exhaustive").collect())
    ]
    assert sorted(batch2) == single2
    assert not set(top[:5]) & {d_ for _, d_, _ in batch2}


@pytest.mark.parametrize("tail", ["driver", "spark"])
def test_empty_corpus_index(spark, tmp_path, monkeypatch, tail):
    """build_segments over zero rows writes a valid manifest on both build
    tails, and a searcher over it answers every query with nothing."""
    from pyspark.sql import types as T

    from lucene_solr_intervals_spark.search.wand import SegmentSearcher

    hint = 0
    if tail == "spark":
        # the Spark tail runs when the hinted sidecar bytes exceed the gate
        monkeypatch.setenv("LSI_DRIVER_BUILD_MAX_BYTES", "0")
        hint = 1
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    d = str(tmp_path / f"empty_{tail}")
    m = build_segments(spark.createDataFrame([], schema), d, n_segments=2,
                       id_col="doc_id", n_docs_hint=hint)
    assert m["n_docs"] == 0 and read_manifest(d)["n_docs"] == 0
    ss = SegmentSearcher(spark, d)
    assert ss.search(["w1"], k=10).collect() == []
    assert ss.search(["w1", "w2"], k=10, conjunctive=True).collect() == []
    assert ss.count(["w1"]) == 0
    assert ss.search_many(["w1", "w2"], k=10).collect() == []


def test_every_writer_emits_skip_data(spark, corpus, tmp_path, monkeypatch):
    """Every postings row (sidecar markers aside) carries skip offsets, one
    per 128-doc block, from every writer: both build tails, NRT append,
    merge with and without reclaimed deletes, salted merge.  This is why
    segment_topk_kernel has no decode-all block-max branch: postings
    without skip data only come from a relation stripped of it."""
    import shutil

    from lucene_solr_intervals_spark.index.segment import DOCS_MARKER
    from lucene_solr_intervals_spark.streaming.nrt import (
        append_segment_batch,
        delete_by_doc_ids,
    )

    def check(d, segs):
        rows = (
            spark.read.parquet(f"{d}/postings")
            .where(F.col("seg").isin(segs) & (F.col("term") != DOCS_MARKER))
            .select("seg", "df", "block_id_offs", "block_tf_offs")
            .collect()
        )
        assert rows, (d, segs)
        for r in rows:
            n_blocks = (r["df"] + 127) // 128
            for c in ("block_id_offs", "block_tf_offs"):
                assert r[c] is not None, (d, r["seg"], c)
                assert len(r[c]) == 8 * n_blocks, (d, r["seg"], c, r["df"])
        return max(r["df"] for r in rows)

    built = {}
    for tail in ("driver", "spark"):
        if tail == "spark":
            monkeypatch.setenv("LSI_DRIVER_BUILD_MAX_BYTES", "0")
        d = built[tail] = str(tmp_path / tail)
        build_segments(corpus, d, n_segments=2, id_col="doc_id", analyzer="code")
        assert check(d, [0, 1]) > 128  # multi-block rows are covered
    monkeypatch.delenv("LSI_DRIVER_BUILD_MAX_BYTES")

    d = built["driver"]
    append_segment_batch(
        spark.createDataFrame([(400 + i, "w1 w2 w3") for i in range(200)],
                              ["doc_id", "text"]), d,
    )
    check(d, [2])
    plain, reclaim, salted = (str(tmp_path / n) for n in ("m0", "m1", "m2"))
    for dst in (plain, reclaim, salted):
        shutil.copytree(d, dst)
    merge_segments(spark, plain, [0, 1, 2], new_seg=10)
    check(plain, [10])
    delete_by_doc_ids(reclaim, [3, 250, 401])
    merge_segments(spark, reclaim, [0, 1, 2], new_seg=10)
    check(reclaim, [10])
    merge_segments(spark, salted, [0, 1, 2], new_seg=10, salt=2)
    check(salted, [10])
