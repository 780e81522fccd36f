"""The repository benchmark: one closed-loop client at local[K], K = nproc.

    python3 perfbench/run.py --workload filter_pages --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs come from --seed and are cached in
.perfbench/cache. The run starts a Spark session, sets the system up
SETUP_ROUNDS times (setup_s is the median of the rounds after the first,
cold one, which is recorded apart), makes the workload's warm-up calls, then
calls its public API back to back for --seconds (at least once), clearing
Spark's cache before each call and checking every call's outputs after it.
The last line of stdout is one JSON object:

  --trace 0: end-to-end metrics (docs_per_s, setup_s, peak_rss_mb,
             cpu_s_per_kdoc), each the median over calls or setup rounds;
  --trace 1: per-layer metrics of one call made after the same warm-up
             calls, timed from outside the package (see workloads.py).

A full record (host context, loadavg, every call, checks, spans, the base of
every per-layer number and why a metric is zero) is written to
.perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import inputs
import workloads
from harness import (Tracer, TreeSampler, arrow_stats, clear_spark_cache, cpu_steal_s,
                     engine_stats, host_context, host_probe, last_sql_execution_id, start_spark, stop_spark)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measured_call(wl, state, spark, index, record: dict, tracer):
    """One timed call from a cleared cache into a fresh output dir; the
    check runs after the clock stops."""
    out = os.path.join(DATA, "out", f"{wl.name}-{index}")
    shutil.rmtree(out, ignore_errors=True)
    left = clear_spark_cache(spark)
    group = f"perfbench-{wl.name}-{index}"
    spark.sparkContext.setJobGroup(group, group)
    last_exec = last_sql_execution_id(spark)
    load0, steal0 = os.getloadavg(), cpu_steal_s()
    with tracer.span(f"call[{index}]", workload=wl.name) as span, TreeSampler() as proc:
        docs = wl.call(state, out)
    steal = cpu_steal_s() - steal0
    call = {
        "wall_s": tracer.seconds(span),
        "docs": docs,
        "peak_rss_mb": proc.peak_rss / 2**20,
        "cpu_s": proc.cpu_s,
        "rss_samples": proc.samples,
        "persisted_rdds_before_clear": left,
        "loadavg_before": load0,
        "loadavg_after": os.getloadavg(),
        "cpu_steal_s": steal,
    }
    call["engine"] = engine_stats(spark, group)
    call["arrow"] = arrow_stats(spark, last_exec)
    with tracer.span(f"check[{index}]"):
        attempted, failed, detail = wl.check(state, out)
    call.update(attempted=attempted, failed=failed, check=detail)
    record["calls"].append(call)
    return call, out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kenlm_rs_spark")):
        print(f"no kenlm_rs_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    k = len(os.sched_getaffinity(0))
    tracer = Tracer()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host_context(k), "loadavg_start": os.getloadavg(),
              "cpu_steal_s_start": cpu_steal_s(), "host_probe_start": host_probe(),
              "setup_rounds": [], "calls": []}
    wl = workloads.WORKLOADS[args.workload](ROOT, DATA, k, args.seed)
    with tracer.span("inputs"):
        # the big LM takes minutes to estimate: whichever run comes first in
        # a checkout builds it, so no later run pays for it
        _, record["big_lm"] = inputs.big_model(ROOT, DATA, k)
        wl.prepare()
    with tracer.span("session") as s:
        spark = wl.spark = start_spark(DATA, k)
    record["session_start_s"] = tracer.seconds(s)
    try:
        state = None
        for r in range(SETUP_ROUNDS):
            if state is not None:
                wl.teardown(state)
            with tracer.span(f"setup[{r}]") as s:
                state = wl.setup()
            record["setup_rounds"].append(tracer.seconds(s))
        record["setup_cold_s"] = record["setup_rounds"][0]

        for i in range(wl.warmup_calls):
            call, out = measured_call(wl, state, spark, f"warmup{i}", record, tracer)
            call["warmup"] = True
            shutil.rmtree(out, ignore_errors=True)
        if args.trace:
            call, out = measured_call(wl, state, spark, 0, record, tracer)
            with tracer.span("trace"):
                layers = wl.trace(state, out, tracer, call["wall_s"])
            for key, value in call["engine"].items():
                layers[f"spark.{key}"] = value
            for key, value in call["arrow"].items():
                layers[f"arrow.{key}"] = value
            layers["trace.call_s"] = call["wall_s"]
            layers["docs"] = call["docs"]
            shutil.rmtree(out, ignore_errors=True)
        else:
            t0 = time.perf_counter()
            i = 0
            while True:
                _, out = measured_call(wl, state, spark, i, record, tracer)
                shutil.rmtree(out, ignore_errors=True)
                i += 1
                if time.perf_counter() - t0 >= args.seconds:
                    break
        wl.teardown(state)
    finally:
        with tracer.span("stop"):
            stop_spark(spark)
    record["loadavg_end"] = os.getloadavg()
    record["cpu_steal_s_end"] = cpu_steal_s()
    record["host_probe_end"] = host_probe()

    # every call is checked; warm-up calls count for correctness, not timing
    attempted = sum(c["attempted"] for c in record["calls"])
    failed = sum(c["failed"] for c in record["calls"])
    calls = [c for c in record["calls"] if not c.get("warmup")]
    record["failed_frac"] = failed / attempted
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        record["per_layer"] = {
            name: {"value": layers[name], "unit": units.get(name, "count"),
                   "base": {"name": workloads.BASES[name], "value": layers.get(workloads.BASES[name], 0)}
                   if name in workloads.BASES else None}
            for name in sorted(layers)
        }
        record["unavailable"] = wl.unavailable
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {
            "docs_per_s": statistics.median(c["docs"] / c["wall_s"] for c in calls),
            "setup_s": statistics.median(record["setup_rounds"][1:]),
            "peak_rss_mb": statistics.median(c["peak_rss_mb"] for c in calls),
            "cpu_s_per_kdoc": statistics.median(1000 * c["cpu_s"] / c["docs"] for c in calls),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    record["metrics"] = metrics
    record["spans"] = tracer.spans

    os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
    path = os.path.join(DATA, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_frac = {record['failed_frac']:.6g} ({failed}/{attempted} docs)"
          f" calls={len(calls)} record={os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
