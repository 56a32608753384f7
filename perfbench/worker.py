"""One benchmark run, inside the process ``run.py`` starts for it.

Order of a run: start the session; build the workload's initial state;
run the workload's ``WARMUP_CYCLES`` cycles; run cycles for about
``--seconds`` (the timed window, which ends at the cycle boundary
nearest to ``--seconds``); check the program's
outputs; stop the session. In a traced run the first, third, ...
cycles of the window are traced and the others are not, so the
tracing overhead is measured inside one process; the window of a
traced run holds at least two cycles. The Spark event log is on for the whole traced run.

The last line of standard output is the result object; the lines
before it print every metric by name with its unit and sample count.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402

from exceldatatransform_py_spark.session import get_spark  # noqa: E402
from probes import TASK_METRICS, Counters, Harness, summarize_event_log  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cycle_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "op_ok_ratio": "ratio",
}
COMMON_LAYER = {
    "session.start_s": "s",
    "setup.build_s": "s",
    "setup.warmup_s": "s",
    "jvm.jit_s_per_cycle": "s",
    "jvm.gc_s_per_cycle": "s",
    "spark.jobs_per_cycle": "count",
    "spark.codegen_compiles_per_cycle": "count",
    "spark.codegen_compile_s_per_cycle": "s",
    "spark.task_s_per_cycle": "s",
    "spark.input_bytes_per_cycle": "bytes",
    "spark.input_records_per_cycle": "count",
    "spark.shuffle_bytes_per_cycle": "bytes",
    "spark.spill_bytes_per_cycle": "bytes",
    "drift.slope_s_per_cycle": "s",
    "trace.cycle_p50_s": "s",
    "trace.overhead_s": "s",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric of every workload, with its unit. A run
    reports the metrics of the other workloads' layers as 0."""
    units = dict(COMMON_LAYER)
    for w in WORKLOADS.values():
        units.update(w.LAYER_UNITS)
    return units


def layer_samples(w, spans, n_traced: int, n_plain: int) -> dict[str, str]:
    """What each per-layer number of a traced run rests on."""
    n = n_traced + n_plain
    out = dict.fromkeys(layer_units(), "not used by this workload")
    out.update(dict.fromkeys(w.LAYER_UNITS, f"{n_traced} traced cycles"))
    out.update(dict.fromkeys(
        ["session.start_s", "setup.build_s", "setup.warmup_s"], "once per run",
    ))
    for k in COMMON_LAYER:
        if k.startswith(("jvm.", "spark.", "drift.")):
            out[k] = f"{n} cycles"
    out["trace.cycle_p50_s"] = f"{n_traced} traced cycles"
    out["trace.overhead_s"] = f"{n_traced} traced and {n_plain} untraced cycles"
    for name, keys in w.CALLS.items():
        calls = sum(s.name == name for s in spans)
        out.update(dict.fromkeys(keys, f"{calls} calls"))
    out.update(w.SAMPLES)
    return out


def slope(ys: list[float], xs: list[int]) -> float:
    """Least-squares slope of cycle time against cycle index."""
    if len(ys) < 2:
        return 0.0
    return float(np.polyfit(np.array(xs, float), np.array(ys, float), 1)[0])


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def stop_session(spark) -> None:
    """Stop Spark, close the Py4J gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    trace = bool(a.trace)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"

    conf = {"spark.sql.warehouse.dir": os.path.join(a.work, "warehouse")}
    events = os.path.join(a.work, "events")
    if trace:
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{run_id}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        counters = Counters(spark)
        w = WORKLOADS[a.workload](spark, a.work, a.seed)
        h = Harness(spark, run_id)

        t = time.perf_counter()
        w.setup()
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        for i in range(w.WARMUP_CYCLES):
            h.begin_cycle(i, False)
            w.cycle(h, i)
            h.end_cycle()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - PROCESS_START  # to the first timed call

        cycles = []
        rows = 0
        start = time.perf_counter()
        i = w.WARMUP_CYCLES
        while True:
            before = counters.read()
            h.begin_cycle(i, trace and (i - w.WARMUP_CYCLES) % 2 == 0)
            rows += w.cycle(h, i)
            wall, jobs = h.end_cycle()
            cycles.append({
                "i": i, "wall_s": wall, "jobs": jobs, "traced": h.traced_cycle,
                **Counters.delta(before, counters.read()),
            })
            i += 1
            # End at the cycle boundary nearest to --seconds: stop unless
            # another cycle as long as this one would end less than half
            # a cycle past it. A traced run needs a traced and an
            # untraced cycle.
            if (time.perf_counter() - start + wall / 2 >= a.seconds
                    and (not trace or len(cycles) >= 2)):
                break
        window_s = time.perf_counter() - start
        peak_rss = counters.peak_rss_mb()
        timed_calls = h.attempted

        w.checks(h)
        layer = w.layer_metrics(h.spans) if trace else {}
    finally:
        stop_session(spark)

    n = len(cycles)
    plain = [c["wall_s"] for c in cycles if not c["traced"]]
    traced = [c["wall_s"] for c in cycles if c["traced"]]
    e2e = {
        "setup_s": setup_s,
        "cycle_p50_s": median(plain),
        "rows_per_s": rows / window_s,
        "peak_rss_mb": sum(peak_rss.values()),
        "op_ok_ratio": (h.attempted - h.failed) / h.attempted,
    }
    per_cycle = {
        "jvm.jit_s_per_cycle": median(c["jit_s"] for c in cycles),
        "jvm.gc_s_per_cycle": median(c["gc_s"] for c in cycles),
        "spark.jobs_per_cycle": median(c["jobs"] for c in cycles),
        "spark.codegen_compiles_per_cycle": median(c["compiles"] for c in cycles),
        "spark.codegen_compile_s_per_cycle": median(c["compile_s"] for c in cycles),
    }
    units = layer_units()
    metrics = {m: 0.0 for m in units}
    metrics.update(per_cycle)
    metrics.update({
        "session.start_s": session_s,
        "setup.build_s": build_s,
        "setup.warmup_s": warmup_s,
        "drift.slope_s_per_cycle": slope(
            [c["wall_s"] for c in cycles], [c["i"] for c in cycles]
        ),
    })
    if trace:
        by_group = summarize_event_log(events)
        for span in h.spans:
            span.tasks = by_group.get(span.span_id)
        timed = {c["i"] for c in cycles}
        for key in TASK_METRICS:
            total = sum(
                v[key] for g, v in by_group.items()
                if int(g.split(":")[1]) in timed
            )
            metrics[f"spark.{key}_per_cycle"] = total / n
        metrics["trace.cycle_p50_s"] = median(traced)
        metrics["trace.overhead_s"] = median(traced) - median(plain) if traced and plain else 0.0
        metrics.update(layer)

    os.makedirs(a.out, exist_ok=True)
    report = {
        "run_id": run_id,
        "env": {k: os.environ.get(k) for k in (
            "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "TMPDIR",
        )},
        "peak_rss_mb": peak_rss,
        "window_s": window_s,
        "check_s": h.check_s,
        "timed_calls": timed_calls,
        "cycles": cycles,
        "end_to_end": e2e,
        "per_layer": metrics,
        "errors": h.errors,
    }
    with open(os.path.join(a.out, f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if trace:
        h.write_spans(os.path.join(a.out, f"{run_id}.spans.jsonl"))

    print(f"# {run_id}: SPARK_GRAFT_CPUS={report['env']['SPARK_GRAFT_CPUS']} "
          f"SPARK_DRIVER_MEMORY={report['env']['SPARK_DRIVER_MEMORY']}")
    print(f"# {n} timed cycles in {window_s:.2f} s; jobs per cycle "
          f"{[c['jobs'] for c in cycles]}; codegen compiles per cycle "
          f"{[c['compiles'] for c in cycles]}")
    for k, v in e2e.items():
        n_k = {"cycle_p50_s": len(plain), "rows_per_s": n}.get(k, 1)
        print(f"# {k} = {v:.6g} {END_TO_END[k]} (n={n_k})")
    print(f"# op_fail_ratio = {h.failed / h.attempted:.6g} "
          f"({h.failed} of {h.attempted} calls and checks)")
    print(f"# drift.slope_s_per_cycle = {metrics['drift.slope_s_per_cycle']:.6g} s "
          f"(cycle times {[round(c['wall_s'], 3) for c in cycles]})")
    if trace:
        samples = layer_samples(w, h.spans, len(traced), len(plain))
        for k in sorted(metrics):
            if k != "drift.slope_s_per_cycle":
                print(f"# {k} = {metrics[k]:.6g} {units[k]} ({samples[k]})")
    for e in h.errors:
        print(e, file=sys.stderr)

    shown = (
        {k: {"value": metrics[k], "unit": units[k]} for k in units}
        if trace
        else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": shown,
    }))
    return 0 if h.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
