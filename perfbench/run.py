"""The sagan-spark benchmark: one command generates a seeded workload,
runs the rule-engine pipeline through its layers' public functions,
checks every sink against the oracle and prints the metrics.

    python3 perfbench/run.py --workload dense_conv --seed 1 --seconds 20 \\
        --trace 0

Run it from the root of a sagan-spark checkout.  ``--trace 0`` is the
timed run and prints the end-to-end metrics; ``--trace 1`` is the traced
run and prints the per-layer metrics.  The last line of standard output
is one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``; the line before it carries provenance (commit, nproc,
steal %).  Spark's own logging goes to standard error.  Inputs, oracle
digests, sink output, event logs and a JSON record of every run are kept
under ``.perfbench_work/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3           # set-ups per run; setup_s is their median
WARMUPS = 1          # untimed jobs before the timed ones
# A batch run times at least two jobs: the first timed job still warms
# the JIT, and must not be a run's only sample.  A drain's micro-batches
# are samples of their own, so one drain is enough.
MIN_BATCH_JOBS = 2
DRIVER_MEM = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def configure_env(trace: bool) -> None:
    """Keep every file Spark and its workers write inside the work
    directory, and turn on the event log for the traced run.  Must run
    before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None            # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false"})
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def log(msg: str) -> None:
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Run:
    """One benchmark run: the set-ups, the closed loop of jobs (or stream
    drains) and the oracle check of each."""

    def __init__(self, workload, seed: int, seconds: float):
        from .procstat import nproc
        from .workloads import prepare

        self.w = workload
        self.seconds = seconds
        self.cores = nproc()
        self.rules_dir = os.path.join(ROOT, workload.rules)
        self.work = WORK
        self.out_dir = os.path.join(WORK, "out")
        self.input = prepare(workload, seed, ROOT,
                             os.path.join(WORK, "cache"))
        self.attempted = 0
        self.failed = 0
        self.setups = []
        self.series = []         # measured window of each timed job
        self.spark = None
        self.ruleset = None

    # -- set-up --------------------------------------------------------

    def set_up(self, cores: int | None = None, record: bool = True) -> None:
        """(Re)start the session; the first start also launches the JVM.
        Recorded set-ups make up ``setup_s``."""
        from .drive import set_up

        if self.spark is not None:
            self.spark.stop()
        self.spark, self.ruleset, s = set_up(self.rules_dir,
                                             cores or self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        if record:
            self.setups.append(s)

    def close(self) -> None:
        from .drive import reap_descendants, stop_session

        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None
        reap_descendants()

    # -- one checked operation -------------------------------------------

    def _check(self, counters: dict) -> dict | None:
        from .digest import SINKS, mismatches, sink_digests
        from .drive import STREAM_SINKS

        sinks = STREAM_SINKS if self.w.chunks else SINKS
        got = sink_digests(self.out_dir, counters, sinks)
        bad = mismatches(got, self.input.oracle)
        if bad:
            self.failed += 1
            log("output differs from the oracle: " + "; ".join(bad))
            return None
        return got

    def operation(self, fn):
        """Run ``fn`` (one job or drain) in a measured window, then check
        its sinks against the oracle.  A drain's output is routed to the
        sinks after the window closes.  Returns (window, fn's result,
        digests or None when they differ from the oracle's), or None when
        the operation raised."""
        from .drive import route_stream
        from .procstat import tree_cpu_s

        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            res = fn()
            window = {"wall_s": time.perf_counter() - t0,
                      "cpu_s": tree_cpu_s() - cpu0}
            if self.w.chunks:
                res = route_stream(self.spark, self.ruleset, self.out_dir,
                                   res)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        return window, res, self._check(getattr(res, "counters", res))

    def _job_fn(self, input_path: str):
        from .drive import batch_job, stream_drain

        if self.w.chunks:
            return lambda: stream_drain(self.spark, self.ruleset, input_path,
                                        self.out_dir, WORK)
        return lambda: batch_job(self.spark, self.ruleset, input_path,
                                 self.out_dir)

    def job(self):
        return self.operation(self._job_fn(self.input.input_dir))

    def warm_up(self) -> None:
        """Untimed, unchecked jobs, so the timed ones find the Python
        workers, code caches and JIT warm.  A stream warms up on its first
        chunk only."""
        for _ in range(WARMUPS):
            t0 = time.perf_counter()
            shutil.rmtree(self.out_dir, ignore_errors=True)
            self._job_fn(self.input.warmup_path)()
            log(f"warm-up job: {time.perf_counter() - t0:.2f}s")

    def set_ups(self) -> None:
        t0 = time.perf_counter()
        for _ in range(SETUPS):
            self.set_up()
        self.warm_up()
        log(f"set-ups and warm-up took {time.perf_counter() - t0:.1f}s")

    # -- the timed run -----------------------------------------------------

    def timed(self) -> dict:
        self.set_ups()
        windows, batches = [], []
        measured = 0.0
        min_jobs = 1 if self.w.chunks else MIN_BATCH_JOBS
        while measured < self.seconds or len(windows) < min_jobs:
            r = self.job()
            if r is None:
                if self.failed >= 3:
                    break
                continue
            window, res, _ = r
            log(f"job {len(windows) + 1}: {window['wall_s']:.2f}s wall, "
                f"{window['cpu_s']:.1f}s cpu")
            windows.append(window)
            measured += window["wall_s"]
            if self.w.chunks:
                batches += res.batch_s
        if not windows:
            return {}
        med = lambda k: statistics.median(x[k] for x in windows)  # noqa
        self.series = windows
        return {
            "turns_per_s": ("turns/s", statistics.median(
                self.input.n_turns / x["wall_s"] for x in windows)),
            "cpu_s": ("s", med("cpu_s")),
            "setup_s": ("s", statistics.median(
                s.total_s for s in self.setups)),
            "microbatch_p50_s": ("s", statistics.median(batches)
                                 if batches else med("wall_s")),
        }

    # -- the traced run ----------------------------------------------------

    def traced(self) -> dict:
        from . import layers
        from .procstat import RssSampler

        rss = RssSampler().start()
        self.set_ups()
        ref = self.job()
        ref_wall = ref[0]["wall_s"] if ref else 0.0
        # the untraced engine's footprint: set-ups, warm-up, plain job
        peak_mb = rss.stop()
        app_id = self.spark.sparkContext.applicationId
        if self.w.chunks:
            m = layers.traced_stream(self, app_id, ref_wall)
        else:
            m = layers.traced_batch(self, app_id, ref_wall)
        if m:
            m.update(layers.setup_metrics(self.setups, self.ruleset))
            m["process.peak_rss_mb"] = ("MB", peak_mb)
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import oracle.engine  # noqa: F401
        import pyspark  # noqa: F401
        import sagan_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              "root of a sagan-spark checkout", file=sys.stderr)
        return 2
    from perfbench import layers
    from perfbench.procstat import cpu_jiffies, nproc, steal_pct
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    configure_env(bool(args.trace))
    started = time.time()
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds)
    j0 = cpu_jiffies()
    try:
        metrics = run.traced() if args.trace else run.timed()
    finally:
        run.close()
    steal = steal_pct(j0, cpu_jiffies())

    names = layers.PER_LAYER if args.trace else layers.END_TO_END
    if set(metrics) != set(names):
        log(f"metrics missing: {sorted(set(names) - set(metrics))}")
        return 1
    provenance = {"commit": commit(), "nproc": nproc(),
                  "steal_pct": round(steal, 3), "workload": args.workload,
                  "seed": args.seed, "n_turns": run.input.n_turns,
                  "trace": args.trace,
                  "oracle_s": round(run.input.oracle_s, 3),
                  "run_s": round(time.time() - started, 3)}
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed,
              "metrics": {k: {"value": metrics[k][1], "unit": metrics[k][0]}
                          for k in names}}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = os.path.join(WORK, "results", time.strftime(
        "%Y%m%dT%H%M%S") + f"-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(record, "w") as f:
        json.dump({"provenance": provenance, "result": result,
                   "series": run.series}, f, indent=1)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main
    sys.exit(_main())
