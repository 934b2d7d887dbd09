#!/usr/bin/env python
"""ANN quality-vs-cost curves at sf0.1 (round-4 verdict item 6).

For each approximate leg (SRP-LSH, IVF, PQ+rerank) sweep its cost knob
and report recall@k against the exact brute-force oracle plus measured
wall time, so BENCH/NOTES can document which settings reach recall>=0.9
and at what cost.  One Spark session; truth computed once; each setting
timed as a full action (collect of the top-k result) after a warmup.

Usage: python scripts/ann_curves.py [sf_dir]  (default /root/testdata/sf0.1)
       python scripts/ann_curves.py --structured [n_vecs] [dim]
The --structured mode (round-5 verdict stretch item) sweeps the same
legs over the deterministic mixture-of-Gaussians corpus
(fixtures/embeddings.py) — the clustered regime IVF/PQ are built for;
the parquet corpus is near-uniform on the sphere, their worst case.
Prints a markdown table + one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

K = 10
N_QUERIES = 16


def main() -> None:
    from accelerated_intelligent_document_processing_on_aws_spark.operators import (
        similarity as sim,
    )
    from accelerated_intelligent_document_processing_on_aws_spark.sources.session import (
        get_spark,
    )

    structured = len(sys.argv) > 1 and sys.argv[1] == "--structured"
    sf_dir = (
        "structured"
        if structured
        else (sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1")
    )
    spark = get_spark(
        app_name="ann-curves",
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    if structured:
        from accelerated_intelligent_document_processing_on_aws_spark.fixtures.embeddings import (
            clustered_embeddings_df,
        )

        n_vecs_arg = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
        dim_arg = int(sys.argv[3]) if len(sys.argv) > 3 else 64
        emb = clustered_embeddings_df(spark, n_vecs=n_vecs_arg, dim=dim_arg).cache()
    else:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n_vecs = emb.count()
    dim = len(emb.select("embedding").first()[0])
    qs = (
        emb.where(F.col("vec_id") % 97 == 0)
        .limit(N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        .cache()
    )
    n_q = qs.count()

    exact = sim.brute_force_topk(emb, qs, k=K).cache()
    t0 = time.perf_counter()
    exact.count()
    exact_sec = time.perf_counter() - t0  # cached after this

    rows = []

    def measure(label, knob, build):
        df = build()
        df.count()  # warmup (python workers / codegen)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            build().count()
            best = min(best, time.perf_counter() - t0)
        rec = sim.recall_at_k(df, exact, K)
        rows.append(
            {"leg": label, "setting": knob, "recall_at_10": round(rec, 3),
             "sec": round(best, 3)}
        )

    # -- LSH: tables x bits ------------------------------------------------
    for n_tables, bits in [(2, 4), (4, 4), (8, 4), (16, 4), (24, 4), (8, 6), (16, 6)]:
        measure(
            "lsh", f"tables={n_tables},bits={bits}",
            lambda n=n_tables, b=bits: sim.lsh_topk(
                emb, qs, k=K, dim=dim, bits=b, n_tables=n
            ),
        )

    # -- IVF: nprobe sweep over one distributed-kmeans model ---------------
    cents = sim.train_centroids_distributed(emb, n_centroids=32, iters=4, seed=7)
    for nprobe in (1, 2, 4, 8, 16, 24):
        measure(
            "ivf", f"C=32,nprobe={nprobe}",
            lambda p=nprobe: sim.ivf_topk(emb, qs, cents, k=K, nprobe=p),
        )

    # -- PQ + rerank: shortlist sweep over one codebook model --------------
    m = 8 if dim % 8 == 0 else 4
    books = sim.train_pq_codebooks(emb, n_subspaces=m, n_codes=16, iters=4)
    for shortlist in (20, 50, 100, 200, 400, 800):
        measure(
            "pq_rerank", f"m={m},ksub=16,shortlist={shortlist}",
            lambda s=shortlist: sim.pq_topk_rerank(
                emb, qs, books, k=K, shortlist=s
            ),
        )

    print(f"\ncorpus={n_vecs} vecs dim={dim}, {n_q} queries, k={K}; "
          f"exact brute-force pass: {exact_sec:.3f}s\n")
    print("| leg | setting | recall@10 | sec (min of 2, warm) |")
    print("|---|---|---|---|")
    for r in rows:
        print(f"| {r['leg']} | {r['setting']} | {r['recall_at_10']} | {r['sec']} |")
    print()
    print(json.dumps({"sf_dir": sf_dir, "n_vecs": n_vecs, "dim": dim,
                      "n_queries": n_q, "k": K,
                      "exact_sec": round(exact_sec, 3), "curves": rows}))


if __name__ == "__main__":
    main()
