"""Regression tests for the round-6 ADVICE findings (fixed round 7).

1. datemath: bucket epoch is timezone-independent (naive-1970 origin +
   session timeZone pinned UTC) — no int(dt.timestamp()) host-TZ leak.
2. forpack: a stream truncated to a lone trailing header byte raises the
   intended ValueError, not IndexError.
3. search_many on a postings relation WITHOUT block-max metadata answers
   like the full relation instead of KeyError-ing.
4. single-partition windows are gone: kmeans seed selection and the
   search_after_page2 driver query use no Window at all (plan + source
   asserts).
"""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd
import pytest


# ------------------------------------------------------- 1. datemath TZ
def test_session_timezone_pinned_utc():
    src = inspect.getsource(
        __import__(
            "lucene_solr_intervals_spark.session", fromlist=["get_spark"]
        ).get_spark
    )
    assert "spark.sql.session.timeZone" in src and "UTC" in src


def test_date_range_facets_no_host_tz_timestamp(monkeypatch):
    """The epoch must come from the naive-1970 subtraction, never from
    datetime.timestamp() (which consults the host TZ for naive values)."""
    from lucene_solr_intervals_spark.ops import datemath

    src = inspect.getsource(datemath.date_range_facets)
    code_only = "\n".join(
        line.split("#", 1)[0] for line in src.splitlines()
    )
    assert ".timestamp()" not in code_only
    assert "datetime(1970, 1, 1)" in code_only


def test_date_range_facets_buckets(spark):
    """Day buckets under TZ=UTC session: 7 days -> 7 buckets regardless of
    the host's /etc/localtime."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from lucene_solr_intervals_spark.ops.datemath import date_range_facets

    rows = [(datetime(2024, 1, 3 + i // 2, 5 * (i % 2), 30),) for i in range(14)]
    df = spark.createDataFrame(rows, "ts timestamp")
    out = date_range_facets(
        df, "ts", "NOW/DAY-7DAYS", "NOW/DAY", 1, datetime(2024, 1, 10, 13, 45)
    ).collect()
    assert [r["n"] for r in out] == [2] * 7
    assert out[0]["bucket_start"] == datetime(2024, 1, 3)


# ------------------------------------------------------ 2. forpack guard
def test_for_decode_truncated_header_raises_valueerror():
    from lucene_solr_intervals_spark.codecs.forpack import for_decode, for_encode

    buf = for_encode(np.arange(5, dtype=np.uint64))
    # whole stream decodes
    assert for_decode(buf).tolist() == list(range(5))
    # lone trailing width byte (header cut between its two bytes)
    with pytest.raises(ValueError):
        for_decode(buf + b"\x03")
    # truncated payload still the same error class
    with pytest.raises(ValueError):
        for_decode(buf[:-1])


# --------------------------------- 3. search_many without block metadata
def test_search_many_prune_df_no_block_meta(spark, tmp_path):
    """An index whose postings lack block-max sidecars must not KeyError in
    search_many, and must return what the full relation returns."""
    from lucene_solr_intervals_spark.index.segment import build_segments
    from lucene_solr_intervals_spark.search.wand import SegmentSearcher

    docs = spark.createDataFrame(
        [(i, "alpha beta " + ("alpha " * (i % 3))) for i in range(40)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_segments(
        docs, idx, n_segments=2, id_col="doc_id", text_col="text",
        order_cols=("doc_id",),
    )
    s = SegmentSearcher(spark, idx)
    base = s.search_many(["alpha"], k=5).collect()
    # strip the block-meta columns
    pruned = SegmentSearcher(spark, idx)
    pruned.postings = pruned.postings.drop(
        "block_max_tf", "block_max_nb", "block_id_offs", "block_tf_offs", "block_last"
    )
    got = pruned.search_many(["alpha"], k=5).collect()
    key = lambda r: (r["query_term"], r["doc_id"])
    assert sorted(map(key, got)) == sorted(map(key, base))


# ------------------------------------------- 4. no single-partition windows
def test_kmeans_seed_selection_no_window(spark):
    from lucene_solr_intervals_spark.ops import similarity

    src = inspect.getsource(similarity.kmeans_centroids)
    code_only = "\n".join(
        line.split("#", 1)[0]
        for line in src.splitlines()
        if not line.lstrip().startswith(("#",))
    )
    assert "Window" not in code_only and "row_number" not in code_only
    emb = spark.createDataFrame(
        [(i, [float(i % 3 == j) for j in range(3)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.kmeans_centroids(emb, n_centroids=3, iters=2)
    assert len(cents) == 3


def test_search_after_page2_plan_has_no_window(spark):
    from lucene_solr_intervals_spark import driver_queries as dq

    # the @register decorator embeds the DuckDB oracle SQL (which uses
    # row_number legitimately); assert only on the Spark-side body
    src = inspect.getsource(dq.search_after_page2)
    body = src.split('"""')[-1]  # code after the docstring close
    assert "row_number" not in body and "Window" not in body
    out = dq.QUERIES["search_after_page2"](spark, "/root/testdata/sf0.001")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
