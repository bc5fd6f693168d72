"""Extra measurement harness for the optimization rounds (bench.py is FROZEN
for driver measurement; this file is the builder's own instrumentation).

Times individual declared queries with the noop sink (guide §1.4), the same
session construction and warm-up as bench.py's headline_queries, and prints
one JSON line {name: seconds} (best of N repeats) plus every sample
as {name}_samples.

Usage:
  python bench_extra.py [--repeats N] [name ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_PICKS = [
    "bm25_topk", "cosine_topk", "dot_product_topk", "rp3beta_topk",
    "minhash_signatures", "simhash", "ann_cosine_topk",
    "winnow_fingerprints", "pricing_summary", "events_window",
]


def main() -> None:
    import __spark_entry__ as E
    from bench import _mk_spark, _skew_demo

    args = sys.argv[1:]
    repeats = 2
    if "--repeats" in args:
        i = args.index("--repeats")
        repeats = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    names = args or DEFAULT_PICKS

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _mk_spark(cpus)
    # warm-up identical in spirit to bench.headline_queries
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1).mapInPandas(lambda it: it, "id long").count()
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(4).toPandas()

    def _gemm_warm(batches):
        import numpy as np

        for b in batches:
            a = np.ones((4, 8), np.float32)
            (a @ a.T)
            yield b

    spark.range(64).repartition(cpus).mapInArrow(
        _gemm_warm, "id long"
    ).count()

    qs = E.queries()
    out = {}
    for name in names:
        if name == "zipf":
            runs = [_skew_demo(spark) for _ in range(repeats)]
            for k in runs[0]:
                out[k] = min(t[k] for t in runs)
                out[f"{k}_samples"] = [t[k] for t in runs]
            continue
        samples = []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            samples.append(round(time.monotonic() - t0, 3))
        out[name] = min(samples)
        out[f"{name}_samples"] = samples
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
