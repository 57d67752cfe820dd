"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The inputs are generated from the seed and
cached under ``perfbench/_cache``; everything the run writes goes under
``perfbench/_work`` (removed at exit) and ``perfbench/_results``.

A run generates (or loads) its inputs, launches the JVM and starts one Spark
session, runs the workload's warm-up cycles, then repeats the workload's
cycle for ``--seconds`` seconds (at least MIN_CYCLES times) and checks every
cycle's outputs.
With ``--trace 1`` it then starts a session with the Spark event log on,
replays the same number of cycles with spans around each layer boundary,
runs the layer prefix runs, replays the cycles once more untraced in a new
session (for the tracing overhead), and reports per-layer metrics.

Standard output: a detail JSON line (every metric of the workload, by layer,
with the host description), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). Exits non-zero without a result if the run cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, host, workloads  # noqa: E402
from perfbench.spans import Tracer, covered, traced_program  # noqa: E402

CPU_START = host.cpu_seconds()
MIN_CYCLES = 2
RESULTS = os.path.join(ROOT, "perfbench", "_results")


def tail(values: list[float]) -> dict:
    """The highest whole percentile with at least ten samples above it, its
    value, and the sample count; percentile None when there are too few."""
    n = len(values)
    if n < 11:
        return {"percentile": None, "value": None, "n": n}
    p = int(100 * (n - 10) / n)
    value = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return {"percentile": p, "value": value, "n": n}


def unstolen(busy: float, steal: float) -> float:
    """Share of the runnable CPU time of an interval that the hypervisor did
    not give to other guests; scales the interval's wall time to what it
    would have been without that interference (1.0 on an unshared host)."""
    runnable = busy + steal
    return busy / runnable if runnable > 0 else 1.0


def measure(wl, spark, seconds=None, count=None, tracer=None, tag="m") -> list[dict]:
    """Run cycles until ``seconds`` have passed and MIN_CYCLES have run, or
    until ``count`` cycles have run."""
    results: list[dict] = []
    deadline = time.perf_counter() + (seconds or 0)
    while True:
        if tracer is not None:
            tracer.op = len(results)
        out = os.path.join(host.WORK, f"{tag}-{len(results)}")
        gc0, (busy0, steal0) = host.jvm_gc_seconds(spark), host.cpu_seconds()
        res = wl.cycle(spark, out, tracer)
        busy1, steal1 = host.cpu_seconds()
        res["jvm_gc_s"] = host.jvm_gc_seconds(spark) - gc0
        res["cpu_busy_s"], res["cpu_steal_s"] = busy1 - busy0, steal1 - steal0
        res["unstolen"] = unstolen(res["cpu_busy_s"], res["cpu_steal_s"])
        results.append(res)
        if count is not None:
            if len(results) >= count:
                break
        elif time.perf_counter() >= deadline and len(results) >= MIN_CYCLES:
            break
    if tracer is not None:
        tracer.op = None
    return results


def warmup(wl, spark, tag: str) -> None:
    """One cycle whose result is discarded; a failure here stops the run."""
    out = os.path.join(host.WORK, tag)
    res = wl.cycle(spark, out)
    if res["errors"]:
        raise RuntimeError(f"warm-up cycle failed: {res['errors']}")
    shutil.rmtree(out, ignore_errors=True)


def ok(results: list[dict]) -> list[dict]:
    return [r for r in results if not r["errors"]]


def end_to_end(results: list[dict], setup_s: float) -> dict:
    """Medians over the successful cycles, with the time stolen by the
    hypervisor taken out: input rows per second of the product call, and
    seconds per cycle; and the set-up time (also steal-corrected)."""
    good = ok(results)
    return {
        "rows_per_s": {"value": workloads.median(
            [r["rows"] / (r["work_s"] * r["unstolen"]) for r in good]), "unit": "1/s"},
        "cycle_s.p50": {"value": workloads.median(
            [r["cycle_s"] * r["unstolen"] for r in good]), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def traced_run(wl, n_cycles: int) -> tuple[dict, dict]:
    """Replay ``n_cycles`` cycles with spans and the event log on. Returns
    (per-layer contract metrics minus the set-up ones, workload detail)."""
    spark = host.session(event_log=True)
    tracer = Tracer(spark.sparkContext)
    try:
        with tracer.span("setup.warmup"):
            warmup(wl, spark, "warm-traced")
        with traced_program(tracer):
            results = measure(wl, spark, count=n_cycles, tracer=tracer, tag="t")
        prefix = wl.prefix_runs(spark, tracer, os.path.join(host.WORK, "prefix"))
        for r in results:
            wl.check(spark, r)
    finally:
        spark.stop()  # closes the event log
    os.makedirs(RESULTS, exist_ok=True)
    tracer.dump(os.path.join(RESULTS, f"{wl.name}-s{wl.seed}-spans.jsonl"))

    events = list(eventlog.read_events(os.path.join(host.WORK, "eventlog")))
    groups = eventlog.group_metrics(events)
    excluded = {"setup.warmup", eventlog.NO_GROUP}
    cycle_groups = {g: v for g, v in groups.items()
                    if g not in excluded and "prefix" not in g}
    total = {k: sum(v[k] for v in cycle_groups.values()) for k in eventlog.FIELDS}
    total["peak_execution_memory_bytes"] = max(
        (v["peak_execution_memory_bytes"] for v in cycle_groups.values()), default=0
    )
    good = ok(results)
    n = max(1, len(good))
    wall = sum(r["cycle_s"] for r in good)
    jobs = eventlog.job_intervals(events)
    top = [s for s in tracer.spans if s["parent"] is None and s["op"] is not None]
    nojob = sum(
        (s["end"] - s["start"]) - covered(
            jobs, s["start"] + tracer.epoch_offset, s["end"] + tracer.epoch_offset
        )
        for s in top
    )
    rows = sum(r["rows"] for r in good) or 1
    metrics = {
        "spark.executor_busy_ratio": total["executor_run_s"] / (host.CORES * wall)
        if wall else 0.0,
        "spark.jobs_per_call": total["jobs"] / n,
        "spark.tasks_per_call": total["tasks"] / n,
        "spark.executor_cpu_s_per_call": total["executor_cpu_s"] / n,
        "spark.gc_s_per_call": total["gc_s"] / n,
        "spark.scheduler_delay_s_per_call": total["scheduler_delay_s"] / n,
        "spark.peak_execution_memory_bytes": total["peak_execution_memory_bytes"],
        "spark.shuffle_write_bytes_per_row": total["shuffle_write_bytes"] / rows,
        "driver.nojob_s_per_call": nojob / n,
    }
    detail = wl.layer_metrics(tracer.spans, groups, good, prefix) if good else {}
    return metrics, {"results": results, "layers": detail}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import logpipe_spark  # noqa: F401  (fail before any work without the package)

    wl = workloads.WORKLOADS[args.workload](args.seed)
    host.prepare_environment()
    spark = None
    try:
        t0, cpu0 = time.perf_counter(), host.cpu_seconds()
        wl.prepare()
        gen_s, cpu_gen = time.perf_counter() - t0, host.cpu_seconds()
        t0 = time.perf_counter()
        spark = host.session()
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for i in range(wl.warmup_cycles):
            warmup(wl, spark, f"warm-{i}")
        warm_s = time.perf_counter() - t0
        desc = host.describe(spark)

        # set-up: process start to the first timed call (JVM launch, session
        # start, warm-up), without generating the seed's inputs and answers,
        # which a repeated run of the seed finds cached
        cpu_first = host.cpu_seconds()
        setup_wall = time.perf_counter() - T_START - gen_s
        setup_busy, setup_steal = (
            (cpu_first[i] - CPU_START[i]) - (cpu_gen[i] - cpu0[i]) for i in (0, 1))
        setup_s = setup_wall * unstolen(setup_busy, setup_steal)

        alloc0 = host.jvm_allocated_bytes(spark)
        results = measure(wl, spark, seconds=args.seconds)
        alloc = host.jvm_allocated_bytes(spark) - alloc0
        for r in results:
            wl.check(spark, r)
        good = ok(results)

        detail = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "host": desc, "gen_s": gen_s,
            "setup_s": setup_s, "setup_wall_s": setup_wall,
            "setup_cpu_busy_s": setup_busy, "setup_cpu_steal_s": setup_steal,
            "session_start_s": start_s, "warmup_s": warm_s,
            "cycles": len(results),
            "cycle_s": [r.get("cycle_s") for r in results],
            "wall_cycle_s.p50": workloads.median([r["cycle_s"] for r in good]),
            "cycle_jvm_gc_s": [r["jvm_gc_s"] for r in results],
            "cycle_cpu_busy_s": [r["cpu_busy_s"] for r in results],
            "cycle_cpu_steal_s": [r["cpu_steal_s"] for r in results],
            "cycle_s.tail": tail([r["cycle_s"] for r in good]),
            "errors": [e for r in results for e in r["errors"]],
        }
        if wl.name == "bulk":
            detail["sink_agg_s"] = workloads.median([r["read_s"] for r in good])
        else:
            detail["funnel_s"] = workloads.median([r["cycle_s"] for r in good])
            detail["stage_s"] = [r["stage_s"] for r in results]
        detail[f"{wl.row_name}_per_s"] = workloads.median(
            [r["rows"] / r["work_s"] for r in good])
        all_results = list(results)

        if args.trace:
            spark.stop()
            spark = None
            per_layer, traced = traced_run(wl, len(results))
            # the JIT keeps warming between windows, so the traced window is
            # compared with untraced windows run before and after it
            spark = host.session()
            warmup(wl, spark, "warm-after")
            after = measure(wl, spark, count=len(results), tag="a")
            for r in after:
                wl.check(spark, r)
            all_results += traced["results"] + after
            untraced = (workloads.median([r["cycle_s"] for r in good])
                        + workloads.median([r["cycle_s"] for r in ok(after)])) / 2
            traced_s = workloads.median([r["cycle_s"] for r in ok(traced["results"])])
            metrics = {
                "session.start_s": start_s,
                "setup.warmup_s": warm_s,
                "trace.overhead_ratio":
                    traced_s / untraced - 1 if untraced and traced_s else 0.0,
                "jvm.alloc_bytes_per_row":
                    alloc / max(1, sum(r["rows"] for r in good)),
                **per_layer,
            }
            detail["layers"] = traced["layers"]
            detail["errors"] += [e for r in traced["results"] + after for e in r["errors"]]
            out = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in metrics.items()}
        else:
            out = end_to_end(results, setup_s)

        attempted = sum(r["attempted"] for r in all_results)
        failed = sum(r["failed"] for r in all_results)
        detail["failed_ratio"] = failed / attempted
        detail["metrics"] = out
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(
            RESULTS, f"{wl.name}-s{args.seed}-t{args.trace}.json"
        ), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out,
        }))
    finally:
        host.shutdown(spark)
        shutil.rmtree(host.WORK, ignore_errors=True)
    return 0


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_ratio": "ratio",
    "jvm.alloc_bytes_per_row": "B/row",
    "spark.executor_busy_ratio": "ratio",
    "spark.jobs_per_call": "count",
    "spark.tasks_per_call": "count",
    "spark.executor_cpu_s_per_call": "s",
    "spark.gc_s_per_call": "s",
    "spark.scheduler_delay_s_per_call": "s",
    "spark.peak_execution_memory_bytes": "B",
    "spark.shuffle_write_bytes_per_row": "B/row",
    "driver.nojob_s_per_call": "s",
}


if __name__ == "__main__":
    sys.exit(main())
