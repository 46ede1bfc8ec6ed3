"""spark-submit entrypoint (SURVEY §3.4):

    spark-submit --py-files sagan_spark.zip -m sagan_spark.job \\
        --rules rules-fixtures --convs 100000 --out /tmp/sagan_out \\
        [--input /path/to/transcripts.parquet] [--checkpointed --units 16]

Reads (or synthesizes) the transcripts table, runs the full
parse→match→correlate→enrich→route pipeline, writes the alert, eve_alert
and drop sinks and prints the counter row.  ``--checkpointed`` instead runs
it unit by unit with per-unit lineage, skipping completed units on a rerun
(see checkpoint.py for its limits).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rules", default="rules-fixtures")
    ap.add_argument("--input", default=None,
                    help="transcripts parquet path (else synthesized)")
    ap.add_argument("--convs", type=int, default=10000)
    ap.add_argument("--noise", type=int, default=0,
                    help="datagen noise percentage (non-matching turns)")
    ap.add_argument("--out", default="/tmp/sagan_spark_out")
    ap.add_argument("--units", type=int, default=8)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--checkpointed", action="store_true",
                    help="unit-by-unit with lineage/resume")
    ap.add_argument("--warmup", action="store_true",
                    help="run the pipeline once untimed first (JIT/worker "
                         "warm) and report the steady-state second run")
    args = ap.parse_args(argv)

    from .checkpoint import run_with_checkpoint
    from .datagen import transcripts_df
    from .pipeline import run_pipeline
    from .rules.compiler import compile_ruleset_from_dir
    from .session import get_spark
    from .sinks import write_sink

    spark = get_spark("sagan_spark_job", cores=args.cores)
    # Split sizing: target ~4 task waves per core on the scan+match stage.
    # The 128 MB cluster default is right at real table sizes; at sandbox
    # input sizes it yields fewer tasks than cores (idle cores on the
    # heaviest stage), so derive the split size from the actual input.
    if args.input:
        total = sum(os.path.getsize(os.path.join(r, f))
                    for path in args.input.split(",")
                    for r, _, fs in os.walk(path) for f in fs)
        split = min(128 * 1024 * 1024,
                    max(2 * 1024 * 1024, total // (4 * (args.cores or 8))))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    ruleset = compile_ruleset_from_dir(args.rules)
    if args.input:
        transcripts = spark.read.parquet(*args.input.split(","))
    else:
        transcripts = transcripts_df(spark, args.convs,
                                     noise_pct=args.noise)

    if args.warmup and not args.checkpointed:
        warm = run_pipeline(spark, transcripts, ruleset)
        write_sink(warm.alerts, os.path.join(args.out, "_warmup"))
        warm.counters.collect()
        warm.unpersist()

    t0 = time.time()
    if args.checkpointed:
        summary = run_with_checkpoint(spark, transcripts, ruleset,
                                      args.out, args.run_id, args.units)
        print(json.dumps(summary))
        return 0

    res = run_pipeline(spark, transcripts, ruleset)
    # materialize the shared upstream (scan→match→correlate) once, then
    # run the three sink writes + counters as CONCURRENT Spark jobs: the
    # scheduler interleaves their stages, so per-action barrier latency
    # overlaps instead of summing (each alone underutilizes the executor)
    from concurrent.futures import ThreadPoolExecutor

    res.correlated.count()
    with ThreadPoolExecutor(max_workers=4) as pool:
        fa = pool.submit(write_sink, res.alerts,
                         os.path.join(args.out, "alert"))
        fe = pool.submit(write_sink, res.eve_alerts,
                         os.path.join(args.out, "eve_alert"))
        fd = pool.submit(write_sink, res.drops,
                         os.path.join(args.out, "drop"))
        fc = pool.submit(lambda: res.counters.collect()[0].asDict())
        fa.result(), fe.result(), fd.result()
        counters = fc.result()
    counters["wall_sec"] = round(time.time() - t0, 2)
    counters["turns_per_sec"] = round(
        counters["events_received"] / max(counters["wall_sec"], 1e-9))
    print(json.dumps({k: (int(v) if not isinstance(v, float) else v)
                      for k, v in counters.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
