"""HNSW second-decade probe (r10 VERDICT item 8, carried from r9):
200k dim-64 vectors — 100x the sf0.1 embeddings table, one decade past
the suite-pinned 20k curve (tests/test_hnsw.py) — measuring recall@10
vs brute force and the distance-evaluation ratio.  The 100 TB claim is
the DIRECTION: the eval ratio must keep improving per decade
(1.05x @ 500 -> 0.24x @ 20k in the r9 probe), because beam search
touches O(ef * log n)-ish candidates while brute force grows linearly.

Usage: python scripts/scale_hnsw_probe.py [n_vectors] [n_shards]
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pr2_transformation_spark.functions import similarity
from pr2_transformation_spark.session import build_session


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    shards = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = build_session("hnsw-decade")
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((n + 10, 64))
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n + 10)],
        "vec_id long, embedding array<double>")
    queries = df.filter("vec_id < 10").selectExpr(
        "vec_id as query_id", "embedding")
    corpus = df.filter("vec_id >= 10")

    # exact ground truth driver-side (numpy, seconds at this size)
    q = vecs[:10]
    c = vecs[10:]
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qn @ cn.T
    gt = {qi: set((np.argsort(-sims[qi])[:10] + 10).tolist())
          for qi in range(10)}

    t0 = time.perf_counter()
    res, acct = similarity.hnsw_topk(
        corpus, queries, k=10, n_shards=shards, ef_search=96)
    rows = res.collect()
    wall = time.perf_counter() - t0
    hn: dict = {}
    for r in rows:
        hn.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(gt[qi] & hn.get(qi, set())) / 10 for qi in gt]
    a = acct.collect()
    evals = sum(r["dist_evals"] for r in a)
    brute = 10 * n
    print(f"n={n} shards={shards}: recall@10 mean="
          f"{statistics.mean(recalls):.3f} min={min(recalls):.2f} "
          f"dist_evals={evals} ({evals / brute:.3f}x brute) "
          f"wall={wall:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
