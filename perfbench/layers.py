"""The metric names, and the traced runs that produce the per-layer ones.

``END_TO_END`` and ``PER_LAYER`` are the metric lists of BENCHMARK.json
(name, unit, better); tests check that the two agree.
"""

from __future__ import annotations

import os
import statistics

END_TO_END = {
    "turns_per_s": ("turns/s", "higher"),
    "cpu_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "microbatch_p50_s": ("s", "lower"),
}

PER_LAYER = {
    "process.peak_rss_mb": ("MB", "lower"),
    "session.start_s": ("s", "lower"),
    "compiler.compile_s": ("s", "lower"),
    "compiler.rules": ("count", "higher"),
    "parse.busy_s": ("s", "lower"),
    "parse.rows_in": ("count", "higher"),
    "parse.rows_ignored": ("count", "higher"),
    "match.busy_s": ("s", "lower"),
    "match.rows_prefiltered": ("count", "lower"),
    "match.prefilter_ratio": ("ratio", "lower"),
    "match.rows_out": ("count", "higher"),
    "match.yield_ratio": ("ratio", "higher"),
    "match.python_s": ("s", "lower"),
    "match.arrow_mb": ("MB", "lower"),
    "correlate.busy_s": ("s", "lower"),
    "correlate.rows_keyed": ("count", "lower"),
    "correlate.rows_suppressed": ("count", "higher"),
    "correlate.exchanges": ("count", "lower"),
    "correlate.shuffle_mb": ("MB", "lower"),
    "correlate.spill_mb": ("MB", "lower"),
    "correlate.python_s": ("s", "lower"),
    "correlate.max_task_s": ("s", "lower"),
    "correlate.task_skew": ("ratio", "lower"),
    "correlate.max_group_rows": ("count", "lower"),
    "enrich.busy_s": ("s", "lower"),
    "enrich.rows": ("count", "higher"),
    "sinks.busy_s": ("s", "lower"),
    "sinks.rows.alert": ("count", "higher"),
    "sinks.rows.eve_alert": ("count", "higher"),
    "sinks.rows.drop": ("count", "higher"),
    "sinks.write_mb": ("MB", "lower"),
    "sinks.files": ("count", "lower"),
    "streaming.busy_s": ("s", "lower"),
    "streaming.microbatches": ("count", "higher"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    "streaming.python_s": ("s", "lower"),
    "streaming.late_rows": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "scaling.parallel_eff": ("ratio", "higher"),
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _metrics(values: dict) -> dict:
    """{name: (unit, value)} over every per-layer name; a layer that
    does not run as its own step on a workload reads 0."""
    return {k: (unit, float(values.get(k, 0.0)))
            for k, (unit, _) in PER_LAYER.items()}


def setup_metrics(setups, ruleset) -> dict:
    return {
        "session.start_s": ("s", statistics.median(
            s.session_s for s in setups)),
        "compiler.compile_s": ("s", statistics.median(
            s.compile_s for s in setups)),
        "compiler.rules": ("count", float(len(ruleset.rules))),
    }


def _sink_files(out_dir: str) -> tuple[int, float]:
    files, size = 0, 0
    for root, _, names in os.walk(out_dir):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, size / 1e6


def _event_totals(run, app_id: str, label_of=None) -> dict:
    from .eventlog import find_app_log, job_description, reduce_log

    log = find_app_log(os.path.join(run.work, "eventlog"), app_id)
    return reduce_log(log, label_of or job_description)


def _sink_values(run, got: dict | None, traced_wall: float,
                 ref_wall: float) -> dict:
    """Sink sizes; row counts come from the digests, when the check
    passed."""
    files, mb = _sink_files(run.out_dir)
    rows = {k: v["rows"] for k, v in (got or {}).items() if k != "counters"}
    return {
        "sinks.rows.alert": rows.get("alert", 0),
        "sinks.rows.eve_alert": rows.get("eve_alert", 0),
        "sinks.rows.drop": rows.get("drop", 0),
        "sinks.write_mb": mb,
        "sinks.files": files,
        "trace.overhead_ratio": _ratio(traced_wall, ref_wall),
    }


def traced_batch(run, app_id: str, ref_wall: float) -> dict:
    """Layer-by-layer job, then the same job at local[1]."""
    from .drive import LAYER_PREFIX, traced_batch_job
    from .eventlog import LayerTotals
    from .spans import Tracer, self_times

    tracer = Tracer()
    r = run.operation(lambda: traced_batch_job(
        run.spark, run.ruleset, run.input.input_dir, run.out_dir, tracer))
    if r is None:
        return {}
    _, traced, got = r
    n = traced.counts
    busy = self_times(tracer.spans)
    job_wall = next(s.duration for s in tracer.spans if s.name == "job")
    v = _sink_values(run, got, job_wall, ref_wall)

    # the single-core baseline; stopping the session also completes the
    # event log of the traced one
    run.set_up(cores=1, record=False)
    one = run.job()
    if one is not None and ref_wall:
        v["scaling.parallel_eff"] = one[0]["wall_s"] / (run.cores * ref_wall)
    run.close()

    ev = _event_totals(run, app_id)
    match = ev.get(LAYER_PREFIX + "match", LayerTotals())
    corr = ev.get(LAYER_PREFIX + "correlate", LayerTotals())
    v.update({
        "parse.busy_s": busy.get("parse", 0.0),
        "parse.rows_in": n["parse.rows_in"],
        "parse.rows_ignored": n["parse.rows_ignored"],
        "match.busy_s": busy.get("match", 0.0),
        "match.rows_prefiltered": n["match.rows_prefiltered"],
        "match.prefilter_ratio": _ratio(n["match.rows_prefiltered"],
                                        n["parse.rows_kept"]),
        "match.rows_out": n["match.rows_out"],
        "match.yield_ratio": _ratio(n["match.turns_matched"],
                                    n["match.rows_prefiltered"]),
        "match.python_s": match.python_s,
        "match.arrow_mb": match.arrow_bytes / 1e6,
        "correlate.busy_s": busy.get("correlate", 0.0),
        "correlate.rows_keyed": n["correlate.rows_keyed"],
        "correlate.rows_suppressed": n["correlate.rows_suppressed"],
        "correlate.exchanges": len(corr.shuffle_stages),
        "correlate.shuffle_mb": corr.shuffle_write_bytes / 1e6,
        "correlate.spill_mb": corr.spill_bytes / 1e6,
        "correlate.python_s": corr.python_s,
        "correlate.max_task_s": corr.max_python_task_s,
        "correlate.task_skew": corr.python_task_skew,
        "correlate.max_group_rows": n["correlate.max_group_rows"],
        "enrich.busy_s": busy.get("enrich", 0.0),
        "enrich.rows": n["enrich.rows"],
        "sinks.busy_s": busy.get("sinks", 0.0),
    })
    return _metrics(v)


def traced_stream(run, app_id: str, ref_wall: float) -> dict:
    """One more drain, read through its progress reports and the event
    log of its query's jobs."""
    from .eventlog import LayerTotals

    r = run.job()
    if r is None:
        return {}
    window, drain, got = r
    v = _sink_values(run, got, window["wall_s"], ref_wall)
    run.close()
    ev = _event_totals(
        run, app_id, lambda p: ("stream" if p.get("spark.jobGroup.id") ==
                                drain.run_id else None))
    stream = ev.get("stream") or LayerTotals()
    # match and correlate run fused in each micro-batch; their Python
    # time is told apart by the plan operator that spent it
    by_op = stream.python_s_by_op
    v.update({
        "match.python_s": by_op.get("MapInPandas", 0.0),
        "correlate.python_s": sum(t for op, t in by_op.items()
                                  if op.startswith("FlatMapGroupsInPandas")),
        "streaming.busy_s": window["wall_s"],
        "streaming.microbatches": len(drain.batch_s),
        "streaming.state_rows": drain.state_rows,
        "streaming.state_mb": drain.state_bytes / 1e6,
        "streaming.python_s": stream.python_s,
        "streaming.late_rows": drain.late_rows,
    })
    return _metrics(v)
