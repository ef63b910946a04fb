"""The repository benchmark: closed-loop workloads over the extraction
engine, with a separate traced run for per-layer numbers.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics of an untraced run.
``--trace 1`` runs the same set-up and loop in a session that writes the
Spark event log, alternating untraced and traced ops (their latency
ratio is ``trace.overhead_frac``), then sweeps every layer
(``layers.py``) and prints the per-layer metrics. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

See README.md for the workloads, their sizes and the metric table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MIN_OPS = 3


def _env(run_dir: str) -> None:
    # Python workers are spawned by the JVM and must import the package
    # from this checkout; every temp file stays inside the run directory
    paths = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) CPU jiffies of the host so far, where /proc/stat
    exists. Steal is time a VM's vCPUs were runnable but not run."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def high_percentile(n: int) -> float | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for q in (0.99, 0.95, 0.9, 0.75):
        if n * (1 - q) >= 10:
            return q
    return None


def quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def measure(clock, wl, seconds: float, switch=None) -> dict:
    """Closed loop, one client: the next op starts when the last one
    returns, for ``seconds`` and at least MIN_OPS ops. With an event-log
    ``switch`` (traced run) odd ops are traced and even ops are not, so
    both halves see the same warm-up state, and each half has at least
    two ops."""
    lat: list[tuple[str, float, bool, str]] = []  # (kind, seconds, traced, label)
    errors: list[str] = []
    min_ops = MIN_OPS if switch is None else max(MIN_OPS, 4)
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or i < min_ops:
        traced = switch is not None and i % 2 == 1
        if switch is not None:
            switch.set(traced)
        kind, params, thunk = wl.op(i)
        label = f"{wl.name}:{kind}:{i}"
        out, dt, ok = clock.run(label, thunk)
        if ok:
            err = wl.check_op(kind, params, out)
        else:
            err = clock.records[-1].error
        if err:
            errors.append(err)
        lat.append((kind, dt, traced, label))
        i += 1
    return {"lat": lat, "errors": errors}


def overhead_frac(lat) -> float:
    """Traced over untraced op latency, minus one: the median over op
    kinds of each kind's median ratio."""
    ratios = []
    for kind in {k for k, *_ in lat}:
        on = [dt for k, dt, t, _ in lat if k == kind and t]
        off = [dt for k, dt, t, _ in lat if k == kind and not t]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    return statistics.median(ratios) - 1.0


def latencies_by_kind(loop: dict) -> dict[str, list[float]]:
    """Untraced op latencies (ms) per op kind, in run order."""
    out: dict[str, list[float]] = {}
    for kind, dt, traced, _ in loop["lat"]:
        if not traced:
            out.setdefault(kind, []).append(dt * 1000.0)
    return out


def latency_ms(loop: dict) -> float:
    """The geometric mean over op kinds of each kind's median latency.
    With one kind (ingest) it is the median; over serve's five query
    kinds it moves when any one kind does, which a median over the
    mixed kinds would not."""
    meds = [statistics.median(v) for v in latencies_by_kind(loop).values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def ops_per_s(loop: dict) -> float:
    """Closed-loop throughput of one round of the fixed op order, each
    kind taking its median latency. The mean rate (ops over busy
    seconds) moves with any single op that a burst of host CPU steal
    delays; on a shared VM it spread more from run to run than either
    median."""
    meds = [statistics.median(v) for v in latencies_by_kind(loop).values()]
    return len(meds) / (sum(meds) / 1000.0)


def e2e_metrics(setup: list[float], loop: dict, wl) -> dict:
    return {
        "setup_s": (statistics.median(setup), "s"),
        "latency_ms": (latency_ms(loop), "ms"),
        "ops_per_s": (ops_per_s(loop), "1/s"),
        "stored_bytes_per_input_byte": (statistics.median(wl.stored_ratio), "ratio"),
    }


def print_table(wl, setup: list[float], loop: dict) -> None:
    """Human-readable summary: each metric with unit, median, the high
    percentile that has ten samples beyond it, and the sample count."""
    by_kind = latencies_by_kind(loop)
    secs = [ms for v in by_kind.values() for ms in v]
    rows = [("setup_s", "s", setup), ("op_ms", "ms", secs)]
    if len(by_kind) > 1:
        rows += [(f"{wl.name}.{k}_p50_ms", "ms", v) for k, v in by_kind.items()]
    print(f"# workload={wl.name} turns={len(wl.rows)} ops={len(secs)} "
          f"setup reps={[round(x, 2) for x in setup]}")
    print(f"{'metric':32s} {'unit':6s} {'median':>12s} {'high pct':>18s} {'n':>5s}")
    for name, unit, xs in rows:
        q = high_percentile(len(xs))
        hp = f"p{int(q * 100)}={quantile(xs, q):.3f}" if q else "-"
        print(f"{name:32s} {unit:6s} {statistics.median(xs):12.3f} {hp:>18s} {len(xs):5d}")
    print(f"{'latency_ms':32s} {'ms':6s} {latency_ms(loop):12.3f} {'-':>18s} {len(secs):5d}")
    rate = ops_per_s(loop)
    print(f"{'ops_per_s':32s} {'1/s':6s} {rate:12.4f} {'-':>18s} {len(secs):5d}")
    if wl.name == "ingest":
        print(f"{'ingest.turns_per_s':32s} {'1/s':6s} {rate * len(wl.rows):12.1f} {'-':>18s} {len(secs):5d}")
    print(f"{'stored_bytes_per_input_byte':32s} {'ratio':6s} "
          f"{statistics.median(wl.stored_ratio):12.4f} {'-':>18s} {len(wl.stored_ratio):5d}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail fast, before any Spark process exists, when the package is absent
    sys.path[:0] = [ROOT, BENCH_DIR]
    import amazon_textract_enhancer_spark  # noqa: F401

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    out_dir = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _env(run_dir)
    try:
        result = run(args, run_dir, out_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, run_dir: str, out_dir: str, wl_cls) -> dict:
    import sparkenv
    from workloads import SETUP_REPS

    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    spark = sparkenv.start_session(run_dir, event_log_dir=log_dir)
    switch = None
    try:
        if args.trace:
            switch = sparkenv.EventLogSwitch(spark)
            switch.set(False)  # set-up is not traced
        wl = wl_cls(spark, run_dir, args.seed)
        setup = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup_rep(r)
            setup.append(time.perf_counter() - t0)
        clock = sparkenv.OpClock(spark)
        j0 = cpu_jiffies()
        loop = measure(clock, wl, args.seconds, switch)
        j1 = cpu_jiffies()
        if j0 and j1 and j1[1] > j0[1]:
            # a diagnostic for drift between runs, not a metric
            print(f"# cpu steal during the timed loop: {100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1]):.1f}%")
        errors = loop["errors"] + wl.final_checks()
        attempted = len(loop["lat"])
        print_table(wl, setup, loop)
        if args.trace:
            from layers import Sweep

            switch.set(True)
            sweep = Sweep(spark, clock, wl, run_dir, args.seed)
            sweep.run()
            errors += sweep.errors
            attempted += sweep.attempted
            rss = (sparkenv.jvm_peak_rss_mb() or 0.0) + sparkenv.python_peak_rss_mb()
    finally:
        sparkenv.shutdown(spark)
    if args.trace:
        metrics, missing = per_layer_metrics(args, out_dir, wl, clock, loop, sweep, rss)
        errors += [f"per-layer metric {k} not measured" for k in missing]
    else:
        metrics = e2e_metrics(setup, loop, wl)
    for e in errors:
        print(f"# check failed: {e}")
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer_metrics(args, out_dir: str, wl, clock, loop: dict, sweep, rss: float):
    """Read the event log back into per-op numbers; write and print the
    exact per-op count table. Returns (metrics, names not measured)."""
    import sparkenv
    from layers import PER_LAYER

    traces = sparkenv.read_event_log(os.path.join(sweep.run_dir, "eventlog"), clock.records)
    sweep.add_trace_metrics(traces)
    m = sweep.metrics
    m["trace.overhead_frac"] = overhead_frac(loop["lat"])
    m["mem.driver_peak_rss_mb"] = rss
    traced_ops = [label for _, _, traced, label in loop["lat"] if traced]
    m["op.executor_run_s"] = statistics.median(traces[lb].executor_run_s for lb in traced_ops)
    with open(os.path.join(out_dir, f"counts_{wl.name}_seed{args.seed}.json"), "w") as f:
        json.dump(sweep.counts, f, indent=1, sort_keys=True)
    print("# per-op exact counts (scans, exchanges, python_nodes, jobs):")
    for label, c in sorted(sweep.counts.items()):
        if not re.search(r":\d+$", label):  # one line per op, not per rep
            print(f"#   {label:40s} {c}")
    out = {k: (float(m[k]), u) for k, u in PER_LAYER if k in m}
    return out, [k for k, _ in PER_LAYER if k not in m]


if __name__ == "__main__":
    sys.exit(main())
