"""spark-submit entrypoint (SURVEY §3.4):

    spark-submit --py-files sagan_spark.zip -m sagan_spark.job \\
        --rules rules-fixtures --convs 100000 --out /tmp/sagan_out \\
        [--input /path/to/transcripts.parquet] [--checkpointed --units 16]

Reads (or synthesizes) the transcripts table, runs the full
parse→match→correlate→enrich→route pipeline through
``pipeline.run_job``, which writes the alert, eve_alert and drop sinks to
``<out>/<sink>``, and prints the counter row.  ``--warmup`` first runs the
same job untimed into ``<out>/_warmup``.  ``--checkpointed`` instead runs
one job per conv unit into ``<out>/unit=<k>/<sink>``, records each unit's
counter row in its lineage row, skips completed units on a rerun and
prints the counters summed over every completed unit — the one-shot
counter row once all units are done.  It accepts only rulesets whose
state is conv-keyed (see checkpoint.py).
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
    from .pipeline import run_job
    from .rules.compiler import compile_ruleset_from_dir
    from .session import get_spark

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
                    max(2 * 1024 * 1024,
                        total // (4 * spark.sparkContext.defaultParallelism)))
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    ruleset = compile_ruleset_from_dir(args.rules)
    if args.input:
        transcripts = spark.read.parquet(*args.input.split(","))
    else:
        transcripts = transcripts_df(spark, args.convs,
                                     noise_pct=args.noise)

    if args.warmup and not args.checkpointed:
        run_job(spark, transcripts, ruleset,
                os.path.join(args.out, "_warmup"))

    t0 = time.time()
    if args.checkpointed:
        counters = run_with_checkpoint(spark, transcripts, ruleset,
                                       args.out, args.run_id, args.units)
    else:
        counters = run_job(spark, transcripts, ruleset, args.out)
    counters["wall_sec"] = round(time.time() - t0, 2)
    if not args.checkpointed:
        counters["turns_per_sec"] = round(
            counters["events_received"] / max(counters["wall_sec"], 1e-9))
    print(json.dumps({k: (int(v) if not isinstance(v, float) else v)
                      for k, v in counters.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
