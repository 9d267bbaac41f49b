"""Link-graph benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload transcripts --seed 1 --seconds 10 --trace 0

Sets up a session at ``local[<cores>]``, writes the workload's seeded input
(untimed), then runs the workload's timed pipeline until ``--seconds`` have
passed (at least once). Every call's result is checked against an oracle
that does not use Spark. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics (read from Spark's status
store, one job group per span) with ``--trace 1``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import sandbox as sb  # noqa: E402
from harvest import MB, STATS, Span, StorageMonitor, Tracer, storage_used_bytes  # noqa: E402

# a run that is still busy at this age cancels its jobs and reports them failed
DEADLINE_S = 165.0
SESSION_GROUP = "perfbench-session"

SPANS = ("session", "sources.transcripts", "plans.pagerank", "plans.components",
         "plans.labelprop", "plans.triangles")
LOOP_SPANS = ("plans.pagerank", "plans.components", "plans.labelprop")
LABEL_SPANS = ("plans.components", "plans.labelprop")

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "pagerank_s": "s",
    "pagerank_iters_per_h": "1/h",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in output order."""
    units = dict(wall_s="s", jobs="count", stages="count", task_ms="ms",
                 cpu_ms="ms", gc_ms="ms", shuffle_read_bytes="bytes",
                 shuffle_write_bytes="bytes", spill_bytes="bytes",
                 core_busy_frac="ratio", failed_tasks="count",
                 retained_storage_mb="MB")
    loop = dict(supersteps="count", superstep_p50_s="s",
                jobs_per_superstep="jobs/superstep", untimed_s="s")
    out = {}
    for span in SPANS:
        out.update({f"{span}.{k}": u for k, u in units.items()})
        if span in LOOP_SPANS:
            out.update({f"{span}.{k}": u for k, u in loop.items()})
        if span in LABEL_SPANS:
            out[f"{span}.active_frac"] = "ratio"
    out["plans.loop.ckpt_bytes"] = "bytes"
    out["plans.loop.ckpt_snapshots"] = "count"
    out["peak_storage_mb"] = "MB"
    return out


@dataclass
class Rep:
    """One repetition of a workload's timed pipeline."""

    calls: list
    spans: list
    wall_s: float
    ckpt: tuple[int, int]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def span_metrics(span, call, cores: int, vertices: int) -> dict[str, float]:
    """One span's per-layer metrics (``call`` is None for the session)."""
    m = {k: span.stats.get(k, 0) for k in STATS}
    m["wall_s"] = span.wall_s
    m["core_busy_frac"] = m["task_ms"] / (span.wall_s * 1000.0 * cores)
    m["retained_storage_mb"] = span.retained_bytes / MB
    if call is not None and span.name in LOOP_SPANS:
        steps = call.supersteps
        m["supersteps"] = steps
        m["superstep_p50_s"] = _median(call.timers)
        m["jobs_per_superstep"] = m["jobs"] / steps if steps else 0.0
        m["untimed_s"] = span.wall_s - sum(call.timers)
        if span.name in LABEL_SPANS:
            m["active_frac"] = (
                sum(call.changed) / (steps * vertices) if steps and vertices else 0.0
            )
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads  # numpy/pandas/duckdb: outside the setup timing

    if args.workload not in workloads.WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}\n")
        return 2

    sandbox = sb.Sandbox(f"{args.workload}-{args.seed}")
    spark = None
    try:
        t0 = time.perf_counter()
        dps = sb.import_engine()
        spark = sb.start_session(dps, sandbox,
                                 job_group=SESSION_GROUP if args.trace else None)
        session = Span("session", SESSION_GROUP, t0, time.perf_counter())
        wl = workloads.WORKLOADS[args.workload](dps, spark, sandbox, args.seed)
        result = run(wl, args, session)
    finally:
        if spark is not None:
            sb.stop_session(spark)
        sandbox.remove()
    print(json.dumps(result))
    return 0


def measure(wl, tracer, seconds: float) -> list[Rep]:
    """Repeat the timed pipeline until ``seconds`` have passed, at least once."""
    reps: list[Rep] = []
    t_window = time.perf_counter()
    while True:
        t_rep = time.perf_counter()
        calls = wl.rep(tracer)
        rep_s = time.perf_counter() - t_rep
        reps.append(Rep(calls, tracer.spans[-len(calls):], rep_s,
                        (wl.ckpt_bytes, wl.ckpt_snapshots)))
        if (time.perf_counter() - t_window >= seconds
                or time.perf_counter() - T_START + 1.5 * rep_s > DEADLINE_S
                or any(c.error for c in calls)):
            return reps


def run(wl, args, session: Span) -> dict:
    cores = sb.usable_cores()
    sc = wl.spark.sparkContext
    watchdog = threading.Timer(
        max(1.0, DEADLINE_S - (time.perf_counter() - T_START)), sc.cancelAllJobs)
    watchdog.daemon = True
    watchdog.start()
    tracer = Tracer(wl.spark, enabled=bool(args.trace))
    if tracer.enabled:
        session.retained_bytes = storage_used_bytes(sc)
        tracer.untraced()  # input generation belongs to no span

    t = time.perf_counter()
    wl.prepare()
    phases = {"prepare_s": time.perf_counter() - t}
    monitor = StorageMonitor(sc) if tracer.enabled else contextlib.nullcontext()
    with monitor:
        reps = measure(wl, tracer, args.seconds)
    watchdog.cancel()

    t = time.perf_counter()
    verdicts = [v for rep in reps for v in wl.check(rep.calls)]
    failures = [v for v in verdicts if v]
    phases["check_s"] = time.perf_counter() - t
    for v in failures:
        sys.stderr.write(f"FAILED {v}\n")

    ok_calls: dict[str, list] = {}
    for rep in reps:
        for call in rep.calls:
            if not call.error:
                ok_calls.setdefault(call.name, []).append(call)
    summary = dict(
        workload=args.workload, seed=args.seed, cores=cores, reps=len(reps),
        graph=wl.graph, phases_s=phases, wall_s=[r.wall_s for r in reps],
        failed_ops_frac=len(failures) / max(len(verdicts), 1),
        calls_s={k: [c.seconds for c in v] for k, v in ok_calls.items()},
        supersteps={k: [c.supersteps for c in v]
                    for k, v in ok_calls.items() if v[0].supersteps},
    )

    if tracer.enabled:
        tracer.spans.insert(0, session)
        tracer.harvest()
        metrics = per_layer(reps, session, wl, cores)
        metrics["peak_storage_mb"] = monitor.peak / MB
        units = per_layer_units()
        summary["span_coverage"] = sum(s.wall_s for s in reps[0].spans) / reps[0].wall_s
    else:
        pagerank = ok_calls.get("pagerank", [])
        metrics = {
            "setup_s": session.wall_s,
            "wall_s": _median([r.wall_s for r in reps]),
            "pagerank_s": _median([c.seconds for c in pagerank]),
            "pagerank_iters_per_h": _median(
                [c.supersteps * 3600.0 / c.seconds for c in pagerank]),
        }
        units = END_TO_END_UNITS
    print(json.dumps(summary))
    return dict(
        correct=not failures,
        attempted=len(verdicts),
        failed=len(failures),
        metrics={k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    )


def per_layer(reps: list[Rep], session: Span, wl, cores: int) -> dict[str, float]:
    """Per-layer metrics: medians over repetitions; 0 for spans not run."""
    vertices = wl.graph.get("vertices", 0)
    per_rep = []
    for rep in reps:
        m = {f"{span.name}.{k}": v
             for span, call in zip(rep.spans, rep.calls)
             for k, v in span_metrics(span, call, cores, vertices).items()}
        m["plans.loop.ckpt_bytes"], m["plans.loop.ckpt_snapshots"] = rep.ckpt
        per_rep.append(m)
    out = {name: _median([m[name] for m in per_rep if name in m])
           for name in per_rep[0]}
    out.update({f"session.{k}": v
                for k, v in span_metrics(session, None, cores, vertices).items()})
    return out


if __name__ == "__main__":
    sys.exit(main())
