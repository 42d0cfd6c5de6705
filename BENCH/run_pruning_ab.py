#!/usr/bin/env python
"""search_many throughput on the zipf corpus (the skew block-max bounds
separate on).

The opt-in per-term pruned top-k this harness used to A/B against the
batched exhaustive kernel is deleted: over its committed 1M-doc zipf runs
it measured 1.54, 1.17, 1.011 and 0.957x (pruning_ab_{r7,r8,probe,
bench_last}.json), short of the >=1.2x-in-every-run bar for keeping a
second path.  The harness now times the one remaining path, so bench.py's
`zipf_pruning` probe keeps running and its JSON keys stay; the pruned-side
keys (`qps_pruned_best`, `pruned_speedup`, `rank_identity`) are null.

  1. build the zipf packed index ONCE;
  2. per repeat: one fresh subprocess warms up untimed, then times
     `--inner` batches and reports its best;
  3. report the best q/s.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from lucene_solr_intervals_spark.session import get_spark
from lucene_solr_intervals_spark.search.wand import SegmentSearcher
from lucene_solr_intervals_spark.corpus import VOCAB

cpus = {cpus}
spark = get_spark(app_name="pruning-ab", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus * 2)
spark.sparkContext.setLogLevel("ERROR")
ss = SegmentSearcher(spark, {index_dir!r})
terms = [VOCAB[i] for i in range({batch})]
ss.search_many(terms, k=10).count()  # warm-up (untimed)
best = None
for _ in range({inner}):
    t0 = time.time()
    ss.search_many(terms, k=10).count()
    dt = time.time() - t0
    best = dt if best is None or dt < best else best
print(json.dumps({{"mode": "exhaustive", "sec": best, "qps": {batch} / best}}))
spark.stop()
"""


def run(code: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True, cwd=REPO
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def build_once(index_dir: str, docs: int, segments: int, codec: str) -> None:
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from lucene_solr_intervals_spark.session import get_spark
from lucene_solr_intervals_spark.corpus import generate_corpus
from lucene_solr_intervals_spark.index.segment import build_segments
spark = get_spark(app_name="pruning-ab-build", master="local[32]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
corpus = generate_corpus(spark, {docs}, distribution="zipf")
build_segments(corpus, {index_dir!r}, n_segments={segments}, id_col="doc_id",
               text_col="content", analyzer="code", n_docs_hint={docs},
               codec={codec!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], check=True, cwd=REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--segments", type=int, default=64)
    ap.add_argument("--batch", type=int, default=2000)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--inner", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--index-dir", default="/tmp/lsi_pruning_ab_idx")
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--codec", default="for128")
    ap.add_argument("--tag", default="r7")
    args = ap.parse_args()

    if not args.skip_build:
        print(f"[pruning-ab] building {args.docs} zipf docs once ...", flush=True)
        build_once(args.index_dir, args.docs, args.segments, args.codec)

    runs = []
    for i in range(args.repeats):
        r = run(CHILD.format(repo=REPO, cpus=args.cpus, index_dir=args.index_dir,
                             batch=args.batch, inner=args.inner))
        runs.append(r)
        print(f"[pruning-ab] repeat {i+1}: {json.dumps(r)}", flush=True)

    result = {
        "corpus_docs": args.docs,
        "distribution": "zipf",
        "codec": args.codec,
        "batch": args.batch,
        "cpus": args.cpus,
        "rank_identity": None,
        "qps_exhaustive_best": round(max(r["qps"] for r in runs), 1),
        "qps_pruned_best": None,
        "pruned_speedup": None,
        "all_runs": runs,
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, "BENCH", f"pruning_ab_{args.tag}.json"), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
