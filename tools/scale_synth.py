"""Deterministic K× scale-up of an sf directory, for core-scaling probes.

The committed sf0.1 bench runs 0.2–6 s per query, where fixed per-query
overhead (job scheduling, plan compile, task launch) drowns the
parallel region — the r16 scaling block measured 8 cores ≈ 32 cores for
the whole bench, which says nothing about whether the expensive PLANS
parallelize. This tool manufactures the missing evidence input: a K×
replica of the sf tables, deterministic (no RNG — replica i shifts keys
by i·STRIDE and salts document tokens with a per-replica suffix), laid
out exactly like an sf dir so every registered query fn runs on it
unmodified.

Token salting (documents.text): every token gets ``_i`` appended in
replica i, so shingle sets are disjoint ACROSS replicas and the
dedup/similarity workloads scale linearly in K — naive duplication
would instead multiply every duplicate cluster K-fold and grow the
near-dup pair OUTPUT quadratically, measuring answer-size blow-up
rather than engine scaling.

This is builder-side measurement input only: nothing in any query path
or the bench reads it; it lives under /tmp and is regenerated on
demand.

  python tools/scale_synth.py [--sf /root/testdata/sf0.1] [--k 8] \
      [--out /tmp/sf_synth]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.session import get_spark

# key columns to shift per table (replica i adds i * STRIDE)
STRIDE = 10**9
SHIFT_COLS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["id"],
    "events": ["event_id", "user_id"],
}
# part keys deliberately NOT shifted in lineitem: the co-purchase graph
# should grow in EDGES (more orders over the same parts), the realistic
# direction — shifting partkeys would instead produce K disconnected
# copies of the same graph.


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--k", type=int, default=8)
    p.add_argument("--out", default="/tmp/sf_synth")
    p.add_argument(
        "--tables",
        default="lineitem,orders,documents,embeddings",
        help="tables to replicate K x (customer follows orders); "
        "everything else is copied 1x",
    )
    args = p.parse_args()
    spark = get_spark("scale-synth")
    os.makedirs(args.out, exist_ok=True)

    replicate = set(args.tables.split(","))
    if "orders" in replicate:
        # replica i shifts o_custkey by i * STRIDE; the customers it points
        # at must exist, so customer is replicated with the same shift
        replicate.add("customer")
    all_tables = [
        os.path.basename(f)[: -len(".parquet")]
        for f in sorted(os.listdir(args.sf))
        if f.endswith(".parquet")
    ]
    for name in all_tables:
        src = load_table(spark, args.sf, name)
        out = os.path.join(args.out, f"{name}.parquet")
        if name not in replicate:
            src.write.mode("overwrite").parquet(out)
            print(f"{name}: copied 1x")
            continue
        reps = []
        for i in range(args.k):
            r = src
            for col in SHIFT_COLS.get(name, []):
                if col in r.columns:
                    r = r.withColumn(
                        col, F.col(col) + F.lit(i * STRIDE).cast("bigint")
                    )
            if name == "documents" and i > 0:
                # per-replica token salt => cross-replica shingle sets
                # disjoint (see module docstring)
                r = r.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"$1_{i}"),
                )
            reps.append(r)
        u = reps[0]
        for r in reps[1:]:
            u = u.unionByName(r)
        # a handful of ~64-128 MB-target files so an 8-core and a
        # 32-core session both start from a multi-split scan
        u.repartition(16).write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        print(f"{name}: {args.k}x -> {n} rows")
    print(f"done: {args.out}")


if __name__ == "__main__":
    main()
