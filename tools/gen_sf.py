"""Derive a larger deterministic benchmark scale from an existing
testdata dir (default: sf0.1 × 10 → "sf1", ~1M turns) so per-query
scale-smoke walls exit Spark fixed-cost dominance.

Each copy k shifts the integer keys by k·OFFSET:
  events:     event_id += k·1e9, user_id += k·10000  (new conversations,
              new template parameters — deterministic, no RNG)
  documents:  doc_id  += k·1e7  (preserves the doc_id % 1e6 slicing the
              dedup queries use, so each copy contributes its own slice)
  embeddings: vec_id  += k·1e7  (vec_id < 5 keeps the same 5 queries;
              the candidate corpus grows 10×)

Bench-only data (the correctness gate stays on the driver's read-only
/root/testdata sf dirs).  Usage:

    python tools/gen_sf.py --out /tmp/sf1 --mult 10
    python tools/scale_smoke.py /tmp/sf1
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument("--mult", type=int, default=10)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from sagan_spark.session import get_spark
    spark = get_spark("gen_sf", cores=os.cpu_count())

    def fan(df, col, offset):
        parts = [df.withColumn(col, F.col(col) + F.lit(k * offset))
                 for k in range(args.mult)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    ev = spark.read.parquet(os.path.join(args.src, "events.parquet"))
    (fan(ev, "event_id", 10 ** 9)
     .withColumn("user_id",
                 F.col("user_id") + (F.col("event_id") / 10 ** 9)
                 .cast("long") * 10000)
     .repartition(32)
     .write.mode("overwrite")
     .parquet(os.path.join(args.out, "events.parquet")))
    dc = spark.read.parquet(os.path.join(args.src, "documents.parquet"))
    (fan(dc, "doc_id", 10 ** 7).repartition(16)
     .write.mode("overwrite")
     .parquet(os.path.join(args.out, "documents.parquet")))
    em = spark.read.parquet(os.path.join(args.src, "embeddings.parquet"))
    (fan(em, "vec_id", 10 ** 7).repartition(16)
     .write.mode("overwrite")
     .parquet(os.path.join(args.out, "embeddings.parquet")))
    for t in ("events", "documents", "embeddings"):
        n = spark.read.parquet(os.path.join(args.out,
                                            f"{t}.parquet")).count()
        print(f"{t}: {n}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
