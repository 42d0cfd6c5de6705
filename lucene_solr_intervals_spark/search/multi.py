"""Distributed scatter-gather over independent index shards.

The reference's distributed story is Solr's: a query fans out to N shards,
each scores its own hits, the coordinator merges ordered streams
(HttpShardHandler / QueryComponent.mergeIds), and — when configured — term
statistics are exchanged first so scores are GLOBALLY consistent
(distributed IDF, solr ExactStatsCache; the single-JVM analog is
MultiReader over several Directories).

MultiIndexSearcher plays the coordinator:

  1. stats phase: per-shard df point-lookups (pruned scans, memoized) are
     SUMMED; n_docs and field-token totals likewise -> one global weight
     per term and one global norm cache (avgdl over all shards).
  2. scatter: every shard scores its segments with the SAME weights via
     SegmentSearcher.scan_with_weights, which returns the shard's ordered
     top-k (per-segment kernels and merge, in the coordinator or as one
     Spark job over the shard's own parquet, by the shard's byte gate).
  3. gather: union + ordered merge LIMIT k (score desc, doc_id asc).

Invariant (pinned by tests/test_multi_index.py): scores over a sharded
corpus equal scores over the SAME corpus in one unsharded index, because
every score input (df, N, avgdl, doclen, tf) is identical.  That is the
exact guarantee distributed IDF exists to provide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scoring.bm25 import idf as idf32
from ..scoring.bm25 import norm_cache
from .wand import SegmentSearcher


class MultiIndexSearcher:
    def __init__(self, spark: SparkSession, index_dirs: list[str]):
        if not index_dirs:
            raise ValueError("need at least one index dir")
        self.shards = [SegmentSearcher(spark, d) for d in index_dirs]
        self.n_docs = sum(s.n_docs for s in self.shards)
        total_tokens = sum(
            s.manifest.get("sum_ttf", s.manifest["sum_doclen"]) for s in self.shards
        )
        self.avgdl = total_tokens / self.n_docs if self.n_docs else 1.0
        # ONE norm cache from the GLOBAL avgdl — what a merged index would use
        self.cache = norm_cache(self.avgdl)

    def _global_weights(self, terms: list[str]) -> dict[str, np.float32]:
        """Distributed IDF: df summed across shards (ExactStatsCache role)."""
        dfs: dict[str, int] = {t: 0 for t in terms}
        for s in self.shards:
            for t, d in s._dfs(terms).items():
                dfs[t] += d
        return {
            t: (idf32(d, self.n_docs) * np.float32(2.2)).astype(np.float32)
            for t, d in dfs.items()
        }

    def search(
        self,
        terms: list[str],
        k: int = 10,
        mode: str = "wand",
        conjunctive: bool = False,
    ) -> DataFrame:
        """Globally consistent top-k over all shards."""
        weights = self._global_weights(terms)
        parts = [
            s.scan_with_weights(terms, weights, self.cache, k, mode, conjunctive)
            for s in self.shards
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        # mergeIds: ordered merge of per-shard streams, k rows survive
        return u.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def count(self, terms: list[str], conjunctive: bool = False) -> int:
        """Distributed TotalHitCount: sum of shard counts (doc ids are
        globally disjoint across shards by construction, and within a
        shard across segments) — each shard counts kernel-side per segment
        via SegmentSearcher.count (numpy unique over decoded ids; spilled
        tombstones arrive as per-segment slices), so no posting ever
        leaves its segment kernel and no corpus-sized explode/distinct
        shuffle exists in the plan."""
        return sum(s.count(terms, conjunctive=conjunctive) for s in self.shards)
